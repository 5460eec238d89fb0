"""Publisher façade: the three REST endpoints' JSON contracts as plain
functions over the serving plans.

Reference: PublisherController.java:26-58 routes /dauRealtime,
/statsByItem, /detailByItem to service methods that unpack ES responses
into JSON maps (PublisherServiceImpl.java:31-86). Here each endpoint is
one function: Spark plan (plans/serving.py) -> driver-side collect of an
already-aggregated, partition-pruned result (at most ~48 rows for dau,
one page for detail) -> the same response shape the Vue dashboard
consumes. An HTTP skin (Flask/FastAPI route per function) is a
three-line wrapper and deliberately out of scope (SURVEY §2 '§2.8',
VERDICT round 1: optional).

Fixes carried (SURVEY §2.9): detailByItem actually returns
{total, detail} (the reference mapper builds results then `return null`,
PublisherMapperImpl.java:222-232); one table name serves both writer and
reader (no gmall_dau_info_1018 skew).
"""

from __future__ import annotations

from typing import Callable, TypeVar

from pyspark import InheritableThread
from pyspark.sql import DataFrame

from .serving import (
    dau_realtime,
    detail_by_item,
    detail_by_item_keyset,
    stats_by_item,
)


T = TypeVar("T")
U = TypeVar("U")


def _beside(first: Callable[[], T], second: Callable[[], U]) -> tuple[T, U]:
    """``(first(), second())`` with ``first`` run on an
    ``InheritableThread`` while ``second`` runs here, so the caller's job
    group and other local properties tag the jobs of both. An error is
    raised as running them one after the other would: ``first``'s before
    ``second``'s."""
    out: dict = {}

    def run() -> None:
        try:
            out["value"] = first()
        except BaseException as e:  # noqa: BLE001 (re-raised on the caller's thread)
            out["error"] = e

    t = InheritableThread(target=run)
    t.start()
    try:
        b = second()
    finally:
        t.join()
        if "error" in out:
            raise out["error"]
    return out["value"], b


def dau_realtime_json(dau: DataFrame, td: str, key: str = "mid") -> dict:
    """GET /dauRealtime?td= (PublisherController.java:26-33):
    {"dauTotal": N, "dauTd": {"HH": ct, ...}, "dauYd": {...}} from one
    collect of the (is_td, hr, ct) aggregate; dauTotal is the sum of
    td's hourly counts."""
    rows = dau_realtime(dau, td, key).collect()
    dau_td = {r["hr"]: r["ct"] for r in rows if r["is_td"]}
    return {
        "dauTotal": sum(dau_td.values()),
        "dauTd": dau_td,
        "dauYd": {r["hr"]: r["ct"] for r in rows if not r["is_td"]},
    }


def stats_by_item_json(wide: DataFrame, item_name: str, date: str, t: str) -> list[dict]:
    """GET /statsByItem?itemName&date&t (PublisherController.java:36-42):
    [{"name": bucket, "value": sum}] — gender labels / age bands already
    recoded inside the aggregation (A5/A6 one-pass), ordered by name as
    Spark's ascending sort orders them (null first, then code point
    order, which is UTF-8 byte order)."""
    rows = stats_by_item(wide, item_name, date, t).collect()
    return [
        {"name": r["name"], "value": r["value"]}
        for r in sorted(rows, key=lambda r: (r["name"] is not None, r["name"] or ""))
    ]


def detail_by_item_json(
    wide: DataFrame,
    date: str,
    item_name: str,
    page_no: int = 1,
    page_size: int = 20,
) -> dict:
    """GET /detailByItem?date&itemName&pageNo&pageSize
    (PublisherController.java:44-58): {"total": N, "detail": [rows]} with
    sku_name highlighted in the page slice.

    The total and the page are two actions run at the same time
    (:func:`_beside`), so a request waits for the slower of them rather
    than their sum. The total is its own aggregate, not an
    ``Observation`` on the page: an observed count counts the rows the
    page's plan happens to pull through it, not the day's matches, and
    over a page at or past the end it never reports, so
    ``Observation.get`` blocks."""
    total_df, page_df = detail_by_item(
        wide, date, item_name, page_no=page_no, page_size=page_size
    )
    total_rows, page_rows = _beside(total_df.collect, page_df.collect)
    return {
        "total": total_rows[0]["total"] if total_rows else 0,
        "detail": [r.asDict() for r in page_rows],
    }


def detail_by_item_keyset_json(
    wide: DataFrame,
    date: str,
    item_name: str,
    after_time: str | None = None,
    after_id: str | None = None,
    page_size: int = 20,
) -> dict:
    """GET /detailByItem with ``afterTime``+``afterId`` — the
    `search_after` contract ES uses past the from/size window: the
    response carries the last row's (create_time, detail_id) as
    ``last``; the client echoes them back as the next request's cursor.
    No ``total`` here — keyset pages don't pay the count, matching
    ES's `track_total_hits=false` deep-scroll idiom."""
    after = None
    if after_time is not None and after_id is not None:
        # the publisher surface pages the order-wide table, whose
        # detail_id is numeric — a non-numeric cursor must 400 at the
        # HTTP layer (ValueError), not reach the plan as a string
        # compared against a bigint column (ANSI runtime cast error the
        # handler can't map to a client fault)
        try:
            after = (after_time, int(after_id))
        except ValueError:
            raise ValueError(
                f"afterId must be an integer detail_id, got {after_id!r}"
            ) from None
    page_df = detail_by_item_keyset(
        wide, date, item_name, after=after, page_size=page_size
    )
    rows = [r.asDict() for r in page_df.collect()]
    last = (
        {"create_time": rows[-1].get("create_time"),
         "detail_id": rows[-1].get("detail_id")}
        if rows
        else None
    )
    return {"detail": rows, "last": last}
