"""Serving-layer queries: the publisher REST surface as DataFrame plans.

Reference: publisher/src/main/java/com/example/publisherrealtime/ —
controller (PublisherController.java:26-58) -> service -> hand-built ES DSL
(PublisherMapperImpl.java). Each endpoint becomes one declarative Spark
plan; Catalyst supplies partition pruning on ``dt`` (the daily-index
equivalent), pushdown, and codegen.

All plans are partition-pruning friendly: every query filters on the
sink table's ``dt`` partition column first, so at 100 TB a day's query
touches one partition, exactly like the reference's daily ES index
(PublisherMapperImpl.java:52,75,138,183).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import highlight, text_match


def dau_realtime(dau: DataFrame, td: str, key: str = "mid") -> DataFrame:
    """A1+A2+A3 (PublisherMapperImpl.java:51-125): the hourly histograms
    of deduped actives for date *td* and for td-1, as ONE aggregate
    ``(is_td, hr, ct)`` — ``is_td`` is true for td's hours, false for
    td-1's. The A1 total is the sum of td's hourly counts: the hour
    groups partition td's rows (a null ``hr`` is its own group), so it
    equals ``count(key)`` over td without a second action.

    ``dau`` is the deduped dau_info table keyed (dt, mid): one groupBy
    over at most 48 (day, hr) groups — map-side partials make the
    shuffle negligible at any scale. The day test stays inside the plan:
    a sink partitioned by ``dt`` reads it back as DATE, which Spark
    compares with the string *td* by casting, and a driver-side string
    compare would not.
    """
    return (
        dau.filter(dau_days(td))
        .groupBy((F.col("dt") == td).alias("is_td"), "hr")
        .agg(F.count(key).alias("ct"))
    )


def dau_days(td: str) -> Column:
    """The rows :func:`dau_realtime` reads: ``dt`` is *td* or the day
    before it, td-1 derived inside the plan (Spark's date cast accepts
    more spellings of *td* than an ISO parse does)."""
    yd = F.date_format(F.date_sub(F.to_date(F.lit(td)), 1), "yyyy-MM-dd")
    return F.col("dt").isin([td]) | (F.col("dt") == yd)


def on_date(date: str, date_col: str = "dt") -> Column:
    """The day test of the item routes: ``date_col = date`` as Spark
    compares it (a DATE column casts the string; a malformed one fails
    the plan with this line as its origin)."""
    return F.col(date_col) == date


def stats_by_item(
    wide: DataFrame,
    item_name: str,
    date: str,
    t: str,
    *,
    name_col: str = "sku_name",
    date_col: str = "dt",
    gender_col: str = "user_gender",
    age_col: str = "user_age",
    amount_col: str = "split_total_amount",
) -> DataFrame:
    """A4-A6 (PublisherMapperImpl.java:136-176 + PublisherServiceImpl.
    java:49-86): AND-match on sku_name, group by gender or age band, sum
    amount. The reference re-buckets ages client-side (A5) and renames
    genders (A6); here both recodes are single ``when`` chains *inside*
    the aggregation — one pass, no post-processing. The (at most three)
    buckets come back unordered: a global sort would add a sampling job
    and a second shuffle, so ``stats_by_item_json`` orders them."""
    matched = wide.filter(
        on_date(date, date_col) & text_match(F.col(name_col), item_name)
    )
    if t == "gender":
        grp = (
            F.when(F.col(gender_col) == "F", "女")
            .when(F.col(gender_col) == "M", "男")
            .otherwise(F.col(gender_col))
        )
    elif t == "age":
        grp = (
            F.when(F.col(age_col) < 20, "20岁以下")
            .when(F.col(age_col) <= 29, "20岁到29岁")
            .otherwise("30岁及30岁以上")
        )
    else:
        raise ValueError(f"t must be 'gender' or 'age', got {t!r}")
    return (
        matched.groupBy(grp.alias("name"))
        .agg(F.round(F.sum(amount_col), 2).alias("value"))
    )


def detail_by_item(
    wide: DataFrame,
    date: str,
    item_name: str,
    page_no: int = 1,
    page_size: int = 20,
    *,
    name_col: str = "sku_name",
    date_col: str = "dt",
    order_cols: tuple[str, ...] = ("create_time", "detail_id"),
) -> tuple[DataFrame, DataFrame]:
    """Paginated detail scan + highlight (PublisherServiceImpl.java:41-47,
    PublisherMapperImpl.java:181-233). Returns (total_df, page_df).

    ES orders by relevance score; the rebuild defines a deterministic order
    (SURVEY §2.8): create_time desc then detail_id. Pagination is
    offset/limit on that order. The reference's mapper builds results then
    `return null` (dead store, SURVEY §2.9) — rebuild returns {total, detail}.

    Scale note: deep pagination degrades on any engine; the plan still
    prunes to one dt partition and pushes the match filter to the scan, so
    offset N only sorts the single day's matches (ES has the same
    window limit).
    """
    matched = wide.filter(
        on_date(date, date_col) & text_match(F.col(name_col), item_name)
    )
    total = matched.agg(F.count(F.lit(1)).alias("total"))
    ordered = matched.orderBy(
        F.col(order_cols[0]).desc(), *[F.col(c) for c in order_cols[1:]]
    )
    page = (
        ordered.offset((page_no - 1) * page_size)
        .limit(page_size)
        .withColumn(name_col, highlight(F.col(name_col), item_name))
    )
    return total, page


def detail_by_item_keyset(
    wide: DataFrame,
    date: str,
    item_name: str,
    after: tuple | None = None,
    page_size: int = 20,
    *,
    name_col: str = "sku_name",
    date_col: str = "dt",
    order_cols: tuple[str, ...] = ("create_time", "detail_id"),
) -> DataFrame:
    """Keyset (ES `search_after`) pagination over the same deterministic
    (create_time DESC, detail_id ASC) order as `detail_by_item`:
    ``after`` is the cursor — the (create_time, detail_id) of the LAST
    row of the previous page — and the next page is a pushdown-able
    range FILTER instead of an offset re-sort. Page k of the offset path
    re-sorts the k*page_size rows before it; the keyset predicate
    `ct < after_ct OR (ct = after_ct AND id > after_id)` reaches the
    scan, so every page costs one filtered top-``page_size`` — the shape
    ES itself requires for deep pages (search_after replaced
    from/size past the 10k window). ``after=None`` returns page 1.

    Equivalence to the offset path is a theorem on a duplicate-free
    (create_time, detail_id) order and is proven query-for-query by the
    `q_detail_keyset` catalog entry (oracle = the OFFSET form).
    """
    ct, did = order_cols
    matched = wide.filter(
        on_date(date, date_col) & text_match(F.col(name_col), item_name)
    )
    if after is not None:
        after_ct, after_id = after
        matched = matched.filter(
            (F.col(ct) < F.lit(after_ct))
            | ((F.col(ct) == F.lit(after_ct)) & (F.col(did) > F.lit(after_id)))
        )
    return (
        matched.orderBy(F.col(ct).desc(), F.col(did))
        .limit(page_size)
        .withColumn(name_col, highlight(F.col(name_col), item_name))
    )
