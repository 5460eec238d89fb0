"""Deterministic pipeline fixtures per FIXTURES.md §1-4.

Each builder writes newline-delimited JSON files — one file per intended
micro-batch (pipelines read them with ``maxFilesPerTrigger=1`` +
``availableNow`` so file N becomes batch N, reproducing the reference's
batch-boundary semantics: cross-batch dedup, late join sides, dim
upserts racing across batches).
"""

from __future__ import annotations

import json
import os


def _write_batches(root: str, batches: list[list[str]]) -> str:
    os.makedirs(root, exist_ok=True)
    base = 1_700_000_000  # distinct mtimes: the file source orders by them
    for i, lines in enumerate(batches):
        path = os.path.join(root, f"batch-{i:03d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(path, (base + 60 * i, base + 60 * i))
    return root


# --- behavior-log envelope (FIXTURES.md §1, OdsBaseLogApp.scala:111-201) ---

def log_row(
    mid: str,
    ts: int,
    uid: str | None = None,
    ar: str = "110000",
    page_id: str | None = None,
    last_page_id: str | None = None,
    displays: int = 0,
    actions: int = 0,
    start: bool = False,
    err: bool = False,
) -> str:
    obj: dict = {
        "common": {
            "ar": ar, "uid": uid, "os": "Android 11", "ch": "xiaomi",
            "is_new": "1", "md": "Xiaomi 9", "mid": mid, "vc": "v2.1.134",
            "ba": "Xiaomi",
        },
        "ts": ts,
    }
    if page_id is not None:
        obj["page"] = {
            "page_id": page_id, "item": "13", "item_type": "sku_id",
            "during_time": 12000, "last_page_id": last_page_id,
            "source_type": "promotion",
        }
        obj["displays"] = [
            {"display_type": "query", "item": str(7 + i), "item_type": "sku_id",
             "pos_id": str(i + 1), "order": str(i + 1)}
            for i in range(displays)
        ]
        obj["actions"] = [
            {"action_id": "favor_add", "item": str(20 + i), "item_type": "sku_id",
             "ts": ts + 100 + i}
            for i in range(actions)
        ]
    if start:
        obj["start"] = {
            "entry": "icon", "loading_time": 1500, "open_ad_id": "ad_3",
            "open_ad_ms": 4000, "open_ad_skip_ms": 0,
        }
    if err:
        obj["err"] = {"error_code": 1023, "msg": "boom"}
    return json.dumps(obj)


# epoch millis for fixed UTC datetimes (session tz pinned to UTC)
D1_10 = 1704103200000  # 2024-01-01 10:00:00
D1_12 = 1704110400000  # 2024-01-01 12:00:00
D2_01 = 1704157200000  # 2024-01-02 01:00:00
D2_09 = 1704186000000  # 2024-01-02 09:00:00


def write_log_fixture(root: str) -> str:
    """Two micro-batches exercising: err exclusivity (err+page row routed
    only to error), empty displays/actions, start-only rows, session-entry
    filtering, cross-batch (mid, dt) duplicates, and a late prior-day
    event inside the watermark."""
    batch1 = [
        # m1 session entry day1, 2 displays + 1 action
        log_row("m1", D1_10, uid="1", ar="11", page_id="home",
                displays=2, actions=1),
        # m1 duplicate session entry same day (in-batch dup for dau)
        log_row("m1", D1_12, uid="1", ar="11", page_id="cart"),
        # m2 non-entry page view (last_page_id set -> filtered from dau)
        log_row("m2", D1_10 + 1000, uid="2", ar="12", page_id="detail",
                last_page_id="home", displays=1),
        # m3 err + page: error output ONLY (exclusive routing)
        log_row("m3", D1_10 + 2000, uid="3", ar="11", page_id="home",
                displays=3, err=True),
        # m4 start-only
        log_row("m4", D1_10 + 3000, uid="4", ar="13", start=True),
        # m2 session entry day2 early morning
        log_row("m2", D2_01, uid="2", ar="12", page_id="home"),
    ]
    batch2 = [
        # m1 again on day1 (cross-batch duplicate -> dropped by dedup state)
        log_row("m1", D1_12 + 1000, uid="1", ar="11", page_id="home"),
        # m5 late day1 event arriving after day2 data (inside 25h watermark)
        log_row("m5", D1_12, uid="5", ar="12", page_id="home"),
        # m2 day2 second entry (cross-batch dup of batch1's D2_01 row)
        log_row("m2", D2_09, uid="2", ar="12", page_id="home"),
        # err + start: error output only
        log_row("m6", D2_09 + 1000, uid="6", ar="11", start=True, err=True),
        # corrupt records: the reference's fastjson walk would kill the
        # executor; the rebuild's schema-on-read shreds them to all-null
        # sections (SURVEY §5 edge tests), routes them to NO branch, and
        # preserves the raw line in the dead-letter output.
        "{this is not json at all",
        json.dumps({"ts": D2_09 + 2000}),  # valid JSON, no sections
    ]
    return _write_batches(root, [batch1, batch2])


# --- Maxwell CDC envelope (FIXTURES.md §2, OdsBaseDbApp.scala:116-163) ---

def cdc_row(table: str, typ: str, ts: int, data: dict) -> str:
    return json.dumps(
        {"database": "gmall", "table": table, "type": typ, "ts": ts,
         "data": json.dumps(data), "old": "{}"}
    )


def write_cdc_fixture(root: str) -> str:
    """Facts (order_info/order_detail inserts+update), dims with in-batch
    AND cross-batch last-write-wins races, bootstrap-insert dims, one
    unknown table and one unknown op type (both dropped)."""
    batch1 = [
        cdc_row("order_info", "insert", 100, {"id": "3001", "total_amount": 99.0}),
        cdc_row("order_detail", "insert", 101, {"id": "9001", "order_id": "3001"}),
        cdc_row("order_info", "update", 102, {"id": "3001", "total_amount": 88.0}),
        # dim in-batch race: ts 110 then 120 -> 120 must win
        cdc_row("user_info", "insert", 110, {"id": "1", "name": "ann_v1"}),
        cdc_row("user_info", "update", 120, {"id": "1", "name": "ann_v2"}),
        cdc_row("base_province", "bootstrap-insert", 115, {"id": "11", "name": "Beijing"}),
        cdc_row("mystery_table", "insert", 116, {"id": "7"}),   # unknown table
        cdc_row("user_info", "weird-op", 117, {"id": "2"}),     # unknown type
    ]
    batch2 = [
        # dim cross-batch race: newer ts for id=1 -> current_dims winner
        cdc_row("user_info", "update", 200, {"id": "1", "name": "ann_v3"}),
        cdc_row("user_info", "insert", 150, {"id": "2", "name": "bob_v1"}),
        cdc_row("order_detail", "insert", 160, {"id": "9002", "order_id": "3001"}),
        cdc_row("order_detail", "delete", 170, {"id": "9001", "order_id": "3001"}),
        # corrupt CDC line: null envelope -> dropped by op/table routing
        "{broken maxwell payload",
    ]
    return _write_batches(root, [batch1, batch2])


# --- order_info / order_detail (FIXTURES.md §4, DwdOrderApp.scala) ---

def info_row(oid: int, create_time: str, user_id: int = 1, province_id: int = 11,
             total: float = 100.0) -> str:
    return json.dumps({
        "id": oid, "province_id": province_id, "order_status": "1001",
        "user_id": user_id, "total_amount": total,
        "activity_reduce_amount": 0.0, "coupon_reduce_amount": 0.0,
        "original_total_amount": total, "feight_fee": 8.0,
        "feight_fee_reduce": 0.0, "expire_time": "",
        "refundable_time": "", "create_time": create_time, "operate_time": "",
    })


def detail_row(did: int, oid: int, create_time: str, sku_name: str = "小米手机 12 Pro",
               amount: float = 50.0) -> str:
    return json.dumps({
        "id": did, "order_id": oid, "sku_id": did * 10, "order_price": amount,
        "sku_num": 1, "sku_name": sku_name, "create_time": create_time,
        "split_total_amount": amount, "split_activity_amount": 0.0,
        "split_coupon_amount": 0.0,
    })


def write_order_fixture(info_root: str, detail_root: str) -> tuple[str, str]:
    """Info and detail arriving across different micro-batches in both
    orders (reference buffers each side 24 h, DwdOrderApp.scala:205-248;
    the 200 ms injected detail delay generalized to whole batches), plus a
    detail whose info never arrives (dropped) and a detail preceding its
    info (info-late case)."""
    t1, t2, t3 = "2024-01-01 10:00:00", "2024-01-01 10:05:00", "2024-01-01 11:30:00"
    info_batches = [
        [info_row(3001, t1)],               # batch 1: info for 3001
        [info_row(3003, t3)],               # batch 2: info for 3003 (detail came first)
    ]
    detail_batches = [
        [detail_row(9001, 3001, t1),        # same-batch match
         detail_row(9101, 3003, t2)],       # detail BEFORE its info (buffered)
        [detail_row(9002, 3001, t2),        # late detail joining buffered info
         detail_row(9201, 4000, t2)],       # orphan: info never arrives
    ]
    return (
        _write_batches(info_root, info_batches),
        _write_batches(detail_root, detail_batches),
    )


# --- dimension tables (FIXTURES.md §3) ---

DIM_USERS = [
    (1, "F", "1995-06-15"),
    (2, "M", "1988-01-20"),
    (4, "F", "2006-03-01"),
    (5, "M", "1970-11-30"),
    # uid 3 and 6 intentionally absent -> left-join nulls
]

DIM_PROVINCES = [
    (11, "Beijing", "CN-11", "CN-BJ", "010"),
    (12, "Tianjin", "CN-12", "CN-TJ", "022"),
    # 13 intentionally absent
]


def dim_frames(spark):
    from sparkstreaming_realtime_project_spark.schemas import (
        DIM_BASE_PROVINCE_SCHEMA,
        DIM_USER_INFO_SCHEMA,
    )

    return (
        spark.createDataFrame(DIM_USERS, DIM_USER_INFO_SCHEMA),
        spark.createDataFrame(DIM_PROVINCES, DIM_BASE_PROVINCE_SCHEMA),
    )


def count_jobs(spark, fn):
    """Run ``fn()`` under a fresh status-tracker job group and return
    (its result, the number of Spark jobs it launched)."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
