"""Seeded input generators and the expected outputs they imply.

Every function takes a ``random.Random`` (or a seed) and writes plain
files; the program under test only ever sees those files. Expected
values are computed here, from the generator's own records, never from
the program's outputs.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TD = "2024-01-05"  # the dashboard's "today"
AS_OF = "2024-06-01"  # fixed as-of date for user_age
EPOCH0 = 1_700_000_000  # file mtimes: the file source orders by them

# CJK and Latin item names: the dashboard's real queries are Chinese
ITEMS = [
    "小米手机 12 Pro", "小米电视 4A", "小米11手机", "华为 Mate 60 手机",
    "华为平板 MatePad", "Apple iPhone 15 Pro", "Redmi Note 12",
    "联想 ThinkPad X1", "Sony WH-1000XM5", "OPPO Find X6 手机",
]
PROVINCES = 34  # province ids 1..34; the dim covers 1..30
USERS = 300  # user ids 1..300; the dim covers 1..250


def _ms(s: str) -> int:
    return int(
        datetime.strptime(s, "%Y-%m-%d %H:%M:%S")
        .replace(tzinfo=timezone.utc)
        .timestamp()
        * 1000
    )


def _fmt(ms: int) -> str:
    return datetime.fromtimestamp(ms / 1000, timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def _write_lines(root: str, batches: list[list[str]]) -> str:
    os.makedirs(root, exist_ok=True)
    for i, lines in enumerate(batches):
        path = os.path.join(root, f"batch-{i:03d}.json")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(path, (EPOCH0 + 60 * i, EPOCH0 + 60 * i))
    return root


def _zipf_ids(rng: random.Random, n_ids: int, a: float = 1.2):
    weights = [1.0 / (k**a) for k in range(1, n_ids + 1)]
    ids = list(range(1, n_ids + 1))
    rng.shuffle(ids)
    return lambda: rng.choices(ids, weights)[0]


# --- dimensions -----------------------------------------------------------


def dim_rows(seed: int):
    rng = random.Random(seed * 7 + 1)
    users = [
        (uid, rng.choice("FM"), f"{rng.randint(1960, 2010)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}")
        for uid in range(1, 251)
    ]
    provinces = [
        (pid, f"Province-{pid}", f"CN-{pid:02d}", f"CN-P{pid}", f"0{pid:02d}")
        for pid in range(1, 31)
    ]
    return users, provinces


def user_age(birthday: str, as_of: str = AS_OF) -> int:
    b, a = [datetime.strptime(x, "%Y-%m-%d") for x in (birthday, as_of)]
    months = (a.year - b.year) * 12 + (a.month - b.month)
    if a.day < b.day:
        months -= 1
    return months // 12


# --- ingest backlog: behavior logs, CDC, orders -----------------------------


def ingest_backlog(seed: int, root: str, n_batches: int = 2, lines: int = 400) -> dict:
    """Write the dau and order-wide apps' input backlogs under *root*
    (*n_batches* files each) and return what each sink must hold."""
    rng = random.Random(seed)
    exp: dict = {"rows": {}}

    # behavior logs: Zipf device ids, 24 h span ending on TD, so every
    # event is inside the dau app's 25 h watermark
    mid_of = _zipf_ids(rng, 500)
    t_lo, t_hi = _ms("2024-01-04 10:00:00"), _ms("2024-01-05 09:59:59")
    log_batches, dau_keys = [], set()
    for b in range(n_batches):
        span = (t_hi - t_lo) // n_batches
        lo = t_lo + b * span
        out = []
        for _ in range(lines):
            r = rng.random()
            if r < 0.01:  # corrupt: not JSON, or JSON without a device id
                out.append(
                    "{not json " + str(rng.random())
                    if rng.random() < 0.5
                    else json.dumps({"ts": lo})
                )
                continue
            mid_n = mid_of()
            ts = rng.randint(lo, lo + span)
            if b > 0 and rng.random() < 0.05:  # late: earlier window
                ts = rng.randint(t_lo, lo)
            uid = str((mid_n * 7) % USERS + 1)
            obj = {
                "common": {
                    "ar": str(mid_n % PROVINCES + 1), "uid": uid, "os": "Android 11",
                    "ch": rng.choice(["xiaomi", "huawei", "oppo", "web"]),
                    "is_new": rng.choice("01"), "md": "Xiaomi 9",
                    "mid": f"mid_{mid_n:05d}", "vc": "v2.1.134", "ba": "Xiaomi",
                },
                "ts": ts,
            }
            err = r < 0.03  # ~2% err records
            if rng.random() < 0.65:
                n_disp, n_act = rng.randint(0, 3), rng.randint(0, 2)
                entry = rng.random() < 0.4
                obj["page"] = {
                    "page_id": rng.choice(["home", "good_detail", "cart", "search"]),
                    "item": str(rng.randint(1, 50)), "item_type": "sku_id",
                    "during_time": rng.randint(100, 20000),
                    "last_page_id": None if entry else "home",
                    "source_type": "promotion",
                }
                obj["displays"] = [
                    {"display_type": "query", "item": str(rng.randint(1, 50)),
                     "item_type": "sku_id", "pos_id": str(i + 1), "order": str(i + 1)}
                    for i in range(n_disp)
                ]
                obj["actions"] = [
                    {"action_id": "favor_add", "item": str(rng.randint(1, 50)),
                     "item_type": "sku_id", "ts": ts + 100 + i}
                    for i in range(n_act)
                ]
                if entry and not err:
                    dt = datetime.fromtimestamp(ts / 1000, timezone.utc)
                    dau_keys.add((obj["common"]["mid"], dt.strftime("%Y-%m-%d")))
            else:
                obj["start"] = {
                    "entry": "icon", "loading_time": rng.randint(100, 3000),
                    "open_ad_id": "ad_3", "open_ad_ms": 4000, "open_ad_skip_ms": 0,
                }
            if err:
                obj["err"] = {"error_code": 1023, "msg": "boom"}
            out.append(json.dumps(obj))
        log_batches.append(out)
    _write_lines(os.path.join(root, "log"), log_batches)
    exp["dau_keys"] = dau_keys
    exp["rows"]["dau"] = n_batches * lines

    # orders: details one batch before / after their info, plus orphans
    info_b = [[] for _ in range(n_batches)]
    det_b = [[] for _ in range(n_batches)]
    matched: set = set()
    n_orders = lines // 6
    did = 10_000
    o_lo = _ms(f"{TD} 08:00:00")
    for b in range(n_batches):
        for k in range(n_orders):
            oid = 1000 + b * n_orders + k
            ct = o_lo + b * 3_600_000 + rng.randint(0, 3_599_000)
            uid, pid = rng.randint(1, USERS), rng.randint(1, PROVINCES)
            total = round(rng.uniform(10, 5000), 2)
            info_b[b].append(json.dumps({
                "id": oid, "province_id": pid, "order_status": "1001",
                "user_id": uid, "total_amount": total,
                "activity_reduce_amount": 0.0, "coupon_reduce_amount": 0.0,
                "original_total_amount": total, "feight_fee": 8.0,
                "feight_fee_reduce": 0.0, "expire_time": "", "refundable_time": "",
                "create_time": _fmt(ct), "operate_time": "",
            }))
            for _ in range(rng.randint(1, 3)):
                did += 1
                r = rng.random()
                db = b
                if r < 0.15 and b > 0:
                    db = b - 1  # detail lands one batch before its info
                elif r < 0.30 and b < n_batches - 1:
                    db = b + 1  # ... or one batch after
                price = round(rng.uniform(5, 3000), 2)
                det_b[db].append(json.dumps({
                    "id": did, "order_id": oid, "sku_id": rng.randint(1, 50),
                    "order_price": price, "sku_num": rng.randint(1, 3),
                    "sku_name": rng.choice(ITEMS),
                    "create_time": _fmt(ct + rng.randint(0, 60_000)),
                    "split_total_amount": price, "split_activity_amount": 0.0,
                    "split_coupon_amount": 0.0,
                }))
                matched.add(did)
        for _ in range(max(1, n_orders // 30)):  # orphans: info never arrives
            did += 1
            det_b[b].append(json.dumps({
                "id": did, "order_id": 900_000 + did, "sku_id": 1, "order_price": 1.0,
                "sku_num": 1, "sku_name": ITEMS[0],
                "create_time": _fmt(o_lo + b * 3_600_000), "split_total_amount": 1.0,
                "split_activity_amount": 0.0, "split_coupon_amount": 0.0,
            }))
    _write_lines(os.path.join(root, "info"), info_b)
    _write_lines(os.path.join(root, "detail"), det_b)
    exp["order_wide"] = matched
    exp["rows"]["order_wide"] = sum(map(len, info_b)) + sum(map(len, det_b))
    return exp


# --- dashboard history: the uncompacted batch=N layout ---------------------


def history_frames(seed: int, n_batches: int = 20, rows_per_batch: int = 150):
    """Rows for the dau and order-wide sinks as earlier micro-batches
    left them: one ``batch`` value per micro-batch, dates before TD."""
    rng = random.Random(seed * 13 + 5)
    users, _ = dim_rows(seed)
    udim = {u: (g, bd) for u, g, bd in users}
    # dau history ends before the backlog's first event day, so no key
    # is both history and new; order-wide history ends the day before TD
    dau_days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    wide_days = ["2024-01-02", "2024-01-03", "2024-01-04"]
    dau, wide = [], []
    did = 5_000_000
    seen = set()
    for b in range(n_batches):
        for _ in range(rows_per_batch):
            day = rng.choice(dau_days)
            mid = f"mid_{rng.randint(1, 3000):05d}"
            if (mid, day) not in seen:
                seen.add((mid, day))
                uid = rng.randint(1, USERS)
                g, bd = udim.get(uid, (None, None))
                hr = rng.randint(0, 23)
                dau.append({
                    "batch": 100 + b, "mid": mid, "user_id": uid,
                    "province_id": rng.randint(1, PROVINCES), "channel": "web",
                    "is_new": "0", "event_ts": datetime(2024, 1, int(day[-2:]), hr, rng.randint(0, 59)),
                    "user_gender": g, "user_age": user_age(bd) if bd else None,
                    "province_name": None, "province_iso_code": None,
                    "province_3166_2": None, "province_area_code": None,
                    "dt": day, "hr": f"{hr:02d}",
                })
            did += 1
            day = rng.choice(wide_days)
            uid = rng.randint(1, USERS)
            g, bd = udim.get(uid, (None, None))
            ct = f"{day} {rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
            price = round(rng.uniform(5, 3000), 2)
            wide.append({
                "batch": 100 + b, "detail_id": did, "sku_id": rng.randint(1, 50),
                "order_price": price, "sku_num": 1, "sku_name": rng.choice(ITEMS),
                "split_total_amount": price, "split_activity_amount": 0.0,
                "split_coupon_amount": 0.0, "province_id": rng.randint(1, PROVINCES),
                "order_status": "1001", "user_id": uid, "total_amount": price,
                "create_time": ct, "user_gender": g,
                "user_age": user_age(bd) if bd else None,
                "order_id": did // 2, "create_hour": ct[11:13], "create_date": day,
            })
    return dau, wide


# --- documents for the incremental dedup streams ---------------------------

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def doc_texts(rng: random.Random, n: int, lo: int = 30, hi: int = 80) -> list[str]:
    return [" ".join(rng.choices(VOCAB, k=rng.randint(lo, hi))) for _ in range(n)]


COPY_OFFSET = 100_000


def dedup_batches(seed: int, n_docs: int = 100) -> list[list[dict]]:
    """Two doc batches: new random docs, then identical copies of
    batch 0 under ids shifted by COPY_OFFSET."""
    rng = random.Random(seed * 31 + 3)
    base = doc_texts(rng, n_docs)
    return [
        [{"doc_id": i, "text": t} for i, t in enumerate(base)],
        [{"doc_id": COPY_OFFSET + i, "text": t} for i, t in enumerate(base)],
    ]


def write_doc_batch(root: str, b: int, rows: list[dict]) -> None:
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, f"batch-{b:03d}.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)
    os.utime(path, (EPOCH0 + 60 * b, EPOCH0 + 60 * b))


# --- catalog tables ----------------------------------------------------------


def catalog_tables(seed: int, root: str, scale: float = 0.5) -> None:
    """TPC-H-ish star schema plus events/documents/embeddings, with the
    column names and types the catalog's headline queries read."""
    g = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))

    def days(lo: str, n_days: int, size: int) -> pa.Array:
        """*size* midnight timestamps in [lo, lo + n_days)."""
        d = g.integers(0, n_days, size).astype("timedelta64[D]")
        return pa.array(np.datetime64(lo, "us") + d, type=pa.timestamp("us"))

    n_cust, n_part, n_supp = int(1500 * scale), int(2000 * scale), 100
    n_ord, n_ev, n_doc, n_emb = int(15000 * scale), int(10000 * scale), int(500 * scale), int(500 * scale)
    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(g.uniform(-999, 9999, n_supp), 2),
    })
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(g.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": g.choice(
            ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], n_cust
        ),
    })
    adj = ["small", "red", "blue", "large", "green", "shiny", "tiny", "steel"]
    noun = ["ring", "widget", "bolt", "nut", "screw", "gear", "spring", "valve"]
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{g.choice(adj)} {g.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
        "p_type": g.choice(["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": g.integers(0, n_cust, n_ord),
        "o_orderstatus": g.choice(["P", "F", "O"], n_ord),
        "o_totalprice": np.round(g.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": days("1995-01-01", 2400, n_ord),
        "o_orderpriority": g.choice(
            ["5-LOW", "4-NOT SPECIFIED", "2-HIGH", "1-URGENT", "3-MEDIUM"], n_ord
        ),
    })
    per = g.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(okeys)
    lineno = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    qty = g.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": okeys,
        "l_partkey": g.integers(0, n_part, n_li),
        "l_suppkey": g.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * g.uniform(900, 3000, n_li), 2),
        "l_discount": np.round(g.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(g.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": g.choice(["A", "N", "R"], n_li),
        "l_linestatus": g.choice(["F", "O"], n_li),
        "l_shipdate": days("1995-01-02", 2500, n_li),
    })
    ev_ts = np.sort(  # January 2024, microsecond resolution
        np.datetime64("2024-01-01", "us")
        + g.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, type=pa.timestamp("us")),
        "user_id": g.integers(0, 150, n_ev),
        "event_type": g.choice(["signup", "error", "click", "view", "purchase"], n_ev),
        "value": np.round(g.exponential(50, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
    })
    rng = random.Random(seed)
    texts = doc_texts(rng, n_doc, 10, 99)
    for _ in range(n_doc // 10):  # near-duplicates: one word edited
        src = texts[rng.randrange(n_doc)].split()
        src[rng.randrange(len(src))] = rng.choice(VOCAB)
        texts[rng.randrange(n_doc)] = " ".join(src)
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": g.choice(["en", "zh", "es", "de", "fr"], n_doc),
        "source": [f"src{i}" for i in g.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    cents = g.normal(0, 1, (10, 64))
    labels = g.integers(0, 10, n_emb)
    vecs = cents[labels] + g.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
