"""Query catalog: every SURVEY.md §2 operator expressed over the driver
testdata tables, each with a DuckDB-oracle SQL twin.

This is the correctness surface the driver checks (CORRECTNESS_r{N}.json):
for each entry, the Spark plan and the oracle SQL must produce identical
row sets (names, schema, values). ``registry()`` lists entries in
registration order; the order the driver sees is derived from the
committed CORRECTNESS files in ``__spark_entry__``. Conventions keeping
the hash stable:

- every computed column is aliased identically on both sides;
- timestamps leave the plan as epoch-micros (``unix_micros`` /
  ``epoch_us``) or formatted strings — never raw timestamp objects;
- floating aggregates are rounded to 2 decimals on both sides;
- hour-of-day is the reference's zero-padded 'HH' string (SURVEY §2.7 F2);
- CROSS-ENGINE FLOAT DETERMINISM (two distinct failure modes, both hit
  at sf0.1): (a) identical doubles can round DIFFERENTLY at an exact .5
  (Spark HALF_UPs the exact binary decimal; other engines round the
  double product) — round ratio outputs with the explicit
  ``floor(x * 1eN + 0.5) / 1eN`` form, never engine round(); (b) double
  SUMS are partition-order dependent (±1 ulp flips a rounding boundary
  or a threshold/equality compare) — aggregate money and any
  sum-that-feeds-a-comparison through ``DECIMAL(18,6)`` (exact,
  order-free), then cast out.

The gmall-shaped pipeline semantics (log envelope, CDC, order-wide) are
exercised on their natural fixtures in tests/; here the same operators run
against the TPC-H-ish tables so the oracle can see them:

  events   ~ behavior log stream (user_id~mid, ts, event_type, props JSON)
  customer/nation/region ~ dimension enrichment chain
  orders x lineitem      ~ order_info x order_detail 1:N wide join
  part.p_name            ~ sku_name text match/highlight target
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import highlight, match_and_highlight_sql, text_match
from ..operators.caching import cache_scope, cached
from ..sources.batch import load_table

# Fixed parameters (events span 2024-01; lineitem dates are TPC-H classic).
TD = "2024-01-05"  # "today" for the DAU-style queries
Q1_CUTOFF = "1998-09-02"
ITEM_QUERY = "spark join"  # documents text match
PART_QUERY = "small bolt"  # part.p_name match (A4 analog)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    sql: Optional[str]  # None -> rows-only check (non-SQL-expressible)
    survey: str  # SURVEY §2 line items this covers
    bench: bool = False  # include in bench.py headline set


_REGISTRY: list[QuerySpec] = []


def _register(name, survey, sql, bench=False):
    def deco(fn):
        _REGISTRY.append(QuerySpec(name, fn, sql, survey, bench))
        return fn

    return deco


def registry() -> list[QuerySpec]:
    """Every entry in registration order. The driver's window order is
    derived from the committed CORRECTNESS files in ``__spark_entry__``."""
    return list(_REGISTRY)


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (scan + filter + 8-agg groupBy).
# Exercises pushdown, partial aggregation, codegen — the bench headline.
# ---------------------------------------------------------------------------


@_register(
    "q1_pricing_summary",
    "A-group aggregate core; P4 projection; pushdown showcase",
    f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 2)                                   AS avg_qty,
           round(avg(l_extendedprice), 2)                              AS avg_price,
           round(avg(l_discount), 2)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF} 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(f"{Q1_CUTOFF} 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# P-group: projection / filter / flatten (SURVEY §2.3)
# ---------------------------------------------------------------------------


@_register(
    "p_json_extract",
    "P1/P2 schema-on-read JSON parse (OdsBaseLogApp.scala:69-78)",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def p_json_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


@_register(
    "p_filter_route",
    "P3 error-split predicate routing (OdsBaseLogApp.scala:111-115)",
    """
    SELECT event_id, user_id, round(value, 2) AS value
    FROM events WHERE event_type = 'error'
    """,
)
def p_filter_route(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.round("value", 2).alias("value")
    )


@_register(
    "p_explode_tokens",
    "P6/P7 array flatten via explode (OdsBaseLogApp.scala:147-182)",
    """
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS token
    FROM documents
    """,
)
def p_explode_tokens(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != F.lit(""))
    return docs.select("doc_id", F.explode(toks).alias("token"))


@_register(
    "p_cdc_decode",
    "P10/P11 CDC op decode + dynamic topic routing (OdsBaseDbApp.scala:116-142)",
    """
    SELECT event_id,
           CASE WHEN event_type IN ('signup', 'view') THEN 'I'
                WHEN event_type = 'click' THEN 'U'
                WHEN event_type = 'error' THEN 'D' END AS op,
           'DWD_' || upper(event_type) || '_' ||
           CASE WHEN event_type IN ('signup', 'view') THEN 'I'
                WHEN event_type = 'click' THEN 'U'
                WHEN event_type = 'error' THEN 'D' END AS topic
    FROM events
    WHERE event_type IN ('signup', 'view', 'click', 'error')
    """,
)
def p_cdc_decode(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type").isin("signup", "view"), "I")
        .when(F.col("event_type") == "click", "U")
        .when(F.col("event_type") == "error", "D")
    )
    return (
        ev.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            "event_id",
            "op",
            F.concat(F.lit("DWD_"), F.upper("event_type"), F.lit("_"), F.col("op")).alias(
                "topic"
            ),
        )
    )


# ---------------------------------------------------------------------------
# J-group: joins (SURVEY §2.4)
# ---------------------------------------------------------------------------


@_register(
    "j_dim_enrich",
    "J1/J2 dim enrichment as broadcast left joins (DwdDauApp.scala:149-185)",
    """
    SELECT c_custkey, c_name, c_mktsegment,
           n_name AS nation_name, r_name AS region_name
    FROM customer
    LEFT JOIN nation ON c_nationkey = n_nationkey
    LEFT JOIN region ON n_regionkey = r_regionkey
    """,
)
def j_dim_enrich(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )


@_register(
    "j_order_wide",
    "J4/J5 1:N wide join + F4 date derivation (DwdOrderApp.scala:170-175,148-155)",
    """
    SELECT l_orderkey AS order_id, l_linenumber AS detail_id,
           o_custkey AS user_id, o_orderstatus AS order_status,
           round(o_totalprice, 2) AS total_amount,
           l_partkey AS sku_id, round(l_quantity, 2) AS sku_num,
           round(l_extendedprice, 2) AS split_total_amount,
           strftime(o_orderdate, '%Y-%m-%d') AS create_date,
           strftime(o_orderdate, '%H') AS create_hour
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    """,
    bench=True,
)
def j_order_wide(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    # spread: the probe side's work (broadcast-hash probe + 10-column
    # string-heavy projection + sink write) all lives in the SCAN stage;
    # a single-row-group parquet file pins it to one core. Rebalancing
    # the 5 narrow probe columns costs one small shuffle and buys a
    # 32-way join+project (measured 2.2s -> 1.5s at sf0.1); no-op when
    # the scan already splits to >= defaultParallelism partitions.
    # Deliberately NOT applied to the agg-shaped headliners (q1, dau):
    # there the map-side partial agg collapses data before any exchange,
    # so an up-front full-width shuffle costs more than it saves.
    li = _dd.spread(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    # Derive date/hour on the ORDER side before the 1:N join: one
    # tz-free string cast over |orders| rows instead of two date_format
    # calls over |lineitem| joined rows (~4x fewer formatter runs at
    # TPC-H fan-out; measured ~10% on the sf0.1 bench).
    o2 = o.withColumn("__dts", F.col("o_orderdate").cast("string"))
    return o2.join(li, o2.o_orderkey == li.l_orderkey).select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("detail_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderstatus").alias("order_status"),
        F.round("o_totalprice", 2).alias("total_amount"),
        F.col("l_partkey").alias("sku_id"),
        F.round("l_quantity", 2).alias("sku_num"),
        F.round("l_extendedprice", 2).alias("split_total_amount"),
        F.substring("__dts", 1, 10).alias("create_date"),
        # type-proof hour: a generation shipping o_orderdate as DATE
        # casts to a 10-char string with no time part — midnight, not ''
        F.when(
            F.length("__dts") >= 13, F.substring("__dts", 12, 2)
        ).otherwise(F.lit("00")).alias("create_hour"),
    )


@_register(
    "j_order_wide_outer",
    "J4 LEFT_OUTER mode, batch twin of order_wide_pipeline(join_type="
    "'left_outer') (tests/test_streaming_pipelines.py watermark-expiry "
    "outer test): detail rows survive a missing info side with null-"
    "padded order columns — the shape the streaming join emits when an "
    "info row never arrives inside the 24 h state bound "
    "(DwdOrderApp.scala:209,247). Missing infos are carved "
    "deterministically (o_orderkey % 7 = 0) so both engines see the "
    "same orphan set.",
    """
    SELECT l_orderkey AS order_id, l_linenumber AS detail_id,
           o_custkey AS user_id, o_orderstatus AS order_status,
           round(o_totalprice, 2) AS total_amount,
           l_partkey AS sku_id, round(l_quantity, 2) AS sku_num,
           round(l_extendedprice, 2) AS split_total_amount,
           strftime(o_orderdate, '%Y-%m-%d') AS create_date,
           CASE WHEN o_orderkey IS NULL THEN NULL
                ELSE strftime(o_orderdate, '%H') END AS create_hour
    FROM lineitem
    LEFT JOIN (SELECT * FROM orders WHERE o_orderkey % 7 <> 0) o
      ON l_orderkey = o_orderkey
    """,
)
def j_order_wide_outer(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 != 0)
    li = _dd.spread(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    o2 = o.withColumn("__dts", F.col("o_orderdate").cast("string"))
    info_missing = o2.o_orderkey.isNull()
    return li.join(o2, li.l_orderkey == o2.o_orderkey, "left").select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("detail_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderstatus").alias("order_status"),
        F.round("o_totalprice", 2).alias("total_amount"),
        F.col("l_partkey").alias("sku_id"),
        F.round("l_quantity", 2).alias("sku_num"),
        F.round("l_extendedprice", 2).alias("split_total_amount"),
        F.substring("__dts", 1, 10).alias("create_date"),
        # null-padded info must stay NULL — the "00" fallback is only
        # for a PRESENT info row whose date has no time part
        F.when(info_missing, F.lit(None).cast("string"))
        .when(F.length("__dts") >= 13, F.substring("__dts", 12, 2))
        .otherwise(F.lit("00"))
        .alias("create_hour"),
    )


@_register(
    "j_order_wide_decimal",
    "money-type decision record (SURVEY §1.2): the reference carries "
    "amounts as Double (OrderWide.scala bean fields) — this twin of "
    "j_order_wide proves the exact-money upgrade path by AGGREGATING in "
    "DECIMAL(16,2) (cast at scan, exact order-free per-status sum; the "
    "Double entries stay registered for reference parity). Outputs are "
    "cast back to DOUBLE because the driver canon diverges on decimal "
    "(Spark->pandas object-of-Decimal vs DuckDB->float64); a DECIMAL(18,2)"
    " total is cents-exact well under 2^53, so the cast out is lossless",
    """
    SELECT o_orderstatus AS order_status,
           CAST(count(*) AS BIGINT) AS n_details,
           CAST(sum(CAST(o_totalprice    AS DECIMAL(16,2))) AS DOUBLE)
               AS sum_total_amount,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(16,2))) AS DOUBLE)
               AS sum_split_amount,
           CAST(min(CAST(l_extendedprice AS DECIMAL(16,2))) AS DOUBLE)
               AS min_split_amount,
           CAST(max(CAST(l_extendedprice AS DECIMAL(16,2))) AS DOUBLE)
               AS max_split_amount
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def j_order_wide_decimal(spark, sf_dir):
    # TPC-H doubles are cents-exact, so the double->DECIMAL(16,2) cast is
    # lossless on both engines; once decimal, the sums are EXACT (no float
    # summation-order drift — no round() crutch needed, unlike every
    # double aggregate in this file). The final cast back to double is
    # for the driver canon only (pandas Decimal-object vs float64 hash
    # divergence) — sums stay cents-exact because they are < 2^53 cents.
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(16,2)")  # noqa: E731
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_orderstatus").alias("order_status"))
        .agg(
            F.count(F.lit(1)).alias("n_details"),
            F.sum(dec("o_totalprice")).cast("double").alias("sum_total_amount"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_split_amount"),
            F.min(dec("l_extendedprice")).cast("double").alias("min_split_amount"),
            F.max(dec("l_extendedprice")).cast("double").alias("max_split_amount"),
        )
        .orderBy("order_status")
    )


@_register(
    "j_full_outer",
    "J3 per-batch fullOuterJoin shape (DwdOrderApp.scala:170-175)",
    """
    WITH i AS (SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O'),
         d AS (SELECT l_orderkey, count(*) AS n_returned
               FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey)
    SELECT coalesce(i.o_orderkey, d.l_orderkey) AS order_id,
           i.o_orderstatus AS order_status, d.n_returned AS n_returned
    FROM i FULL OUTER JOIN d ON i.o_orderkey = d.l_orderkey
    """,
)
def j_full_outer(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    i = o.filter(F.col("o_orderstatus") == "O").select("o_orderkey", "o_orderstatus")
    d = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_returned"))
    )
    return i.join(d, i.o_orderkey == d.l_orderkey, "full_outer").select(
        F.coalesce("o_orderkey", "l_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("order_status"),
        F.col("n_returned"),
    )


@_register(
    "j_semi_anti",
    "semi/anti joins (SURVEY §2.4 'absent — free in Spark')",
    """
    SELECT c_custkey, c_name, 'no_urgent' AS tag FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    UNION ALL
    SELECT c_custkey, c_name, 'has_urgent' AS tag FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
)
def j_semi_anti(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    cond = c.c_custkey == urgent.o_custkey
    anti = c.join(urgent, cond, "left_anti").select(
        "c_custkey", "c_name", F.lit("no_urgent").alias("tag")
    )
    semi = c.join(urgent, cond, "left_semi").select(
        "c_custkey", "c_name", F.lit("has_urgent").alias("tag")
    )
    return anti.unionAll(semi)


@_register(
    "j_asof_prev_order",
    "as-of join (SURVEY §2.4 'absent' family): each order picks the "
    "customer's latest strictly-earlier order via union + running "
    "last(ignorenulls) window — one shuffle, no range predicate, no BNLJ",
    """
    WITH ranked AS (
      SELECT a.o_orderkey AS k, b.o_orderdate AS pd, b.o_totalprice AS pp,
             row_number() OVER (PARTITION BY a.o_orderkey
                                ORDER BY b.o_orderdate DESC,
                                         b.o_orderkey DESC) AS rn
      FROM orders a JOIN orders b
        ON a.o_custkey = b.o_custkey AND b.o_orderdate < a.o_orderdate)
    SELECT a.o_orderkey, a.o_custkey,
           strftime(a.o_orderdate, '%Y-%m-%d') AS order_date,
           r.prev_order_date, r.prev_totalprice
    FROM orders a LEFT JOIN
      (SELECT k, strftime(pd, '%Y-%m-%d') AS prev_order_date,
              round(pp, 2) AS prev_totalprice
       FROM ranked WHERE rn = 1) r ON a.o_orderkey = r.k
    """,
)
def j_asof_prev_order(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    left = orders.select("o_orderkey", "o_custkey", "o_orderdate")
    versions = orders.select(
        "o_custkey",
        "o_orderdate",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("prev_order_date"),
        F.round("o_totalprice", 2).alias("prev_totalprice"),
        F.col("o_orderkey").alias("__pk"),
    )
    out = _jn.asof_join(
        left,
        versions,
        on=["o_custkey"],
        left_ts="o_orderdate",
        right_ts="o_orderdate",
        value_cols=["prev_order_date", "prev_totalprice"],
        strict=True,
        tiebreak=["__pk"],
    )
    return out.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        "prev_order_date",
        "prev_totalprice",
    )


@_register(
    "j_range_overlap",
    "interval-overlap (range) join via shared-grid bucketization: "
    "equi-join on (key, bucket) + exact post-filter, each pair emitted "
    "in exactly one bucket (no distinct) — the theta-join Spark would "
    "otherwise nested-loop",
    """
    WITH iv AS (SELECT o_orderkey AS k, o_orderpriority AS pr,
                       date_diff('day', DATE '1970-01-01',
                                 CAST(o_orderdate AS DATE)) AS sd
                FROM orders),
    iv2 AS (SELECT k, pr, sd, sd + 30 AS ed FROM iv)
    SELECT p.pr AS o_orderpriority, p.k AS probe_key, b.k AS build_key,
           least(p.ed, b.ed) - greatest(p.sd, b.sd) + 1 AS overlap_days
    FROM iv2 p JOIN iv2 b
      ON p.pr = b.pr AND b.sd <= p.ed AND p.sd <= b.ed AND p.k <> b.k
    WHERE p.k % 97 = 0
    """,
)
def j_range_overlap(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    iv = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("sd"),
    ).withColumn("ed", F.col("sd") + 30)
    probe = iv.filter(F.col("k") % 97 == 0)
    out = _jn.interval_overlap_join(
        probe,
        iv,
        on=["o_orderpriority"],
        probe_start="sd",
        probe_end="ed",
        build_start="sd",
        build_end="ed",
        bucket_width=32,  # ~interval length: fan-out <= 2 buckets/side
    )
    return out.filter(F.col("p_k") != F.col("b_k")).select(
        "o_orderpriority",
        F.col("p_k").alias("probe_key"),
        F.col("b_k").alias("build_key"),
        (
            F.least("p_ed", "b_ed") - F.greatest("p_sd", "b_sd") + F.lit(1)
        ).alias("overlap_days"),
    )


@_register(
    "j_salted_skew",
    "skew-salted equi-join: left keys spread over 8 sub-keys, build side "
    "replicated 8x so every copy meets — result identical to the plain "
    "join (the oracle IS the plain join), only task balance changes",
    """
    SELECT l.l_orderkey AS o_orderkey, l.l_linenumber,
           o.o_orderpriority, round(l.l_quantity, 2) AS quantity
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def j_salted_skew(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_linenumber",
        F.round("l_quantity", 2).alias("quantity"),
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    out = _jn.salted_join(li, orders, on=["o_orderkey"], salt=8)
    return out.select("o_orderkey", "l_linenumber", "o_orderpriority", "quantity")


@_register(
    "w_rolling_7d",
    "point-in-time rolling features: per-user trailing-7-day event count "
    "and value sum at every event via a RANGE window on epoch-ms — the "
    "as-of feature-engineering primitive, one shuffle on the entity key",
    """
    SELECT event_id, user_id,
           count(*) OVER w AS cnt_7d,
           round(sum(value) OVER w, 2) AS sum_7d
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                 RANGE BETWEEN 604800000 PRECEDING AND CURRENT ROW)
    """,
)
def w_rolling_7d(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_millis("ts"))
        .rangeBetween(-7 * 86400 * 1000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("cnt_7d"),
        F.round(F.sum("value").over(w), 2).alias("sum_7d"),
    )


# ---------------------------------------------------------------------------
# A-group: serving aggregations (SURVEY §2.5) over events/part analogs
# ---------------------------------------------------------------------------


@_register(
    "a_dau_total",
    "A1 daily active count (PublisherMapperImpl.java:51-69)",
    f"""
    SELECT count(DISTINCT user_id) AS dau_total
    FROM events WHERE strftime(ts, '%Y-%m-%d') = '{TD}'
    """,
)
def a_dau_total(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.filter(F.date_format("ts", "yyyy-MM-dd") == TD).agg(
        F.countDistinct("user_id").alias("dau_total")
    )


@_register(
    "a_dau_hourly",
    "A2 hourly histogram (PublisherMapperImpl.java:73-103) + F2 'HH' derivation",
    f"""
    SELECT strftime(ts, '%H') AS hr, count(DISTINCT user_id) AS ct
    FROM events WHERE strftime(ts, '%Y-%m-%d') = '{TD}'
    GROUP BY 1
    """,
)
def a_dau_hourly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.date_format("ts", "yyyy-MM-dd") == TD)
        .groupBy(F.date_format("ts", "HH").alias("hr"))
        .agg(F.countDistinct("user_id").alias("ct"))
    )


@_register(
    "a_dau_hourly_zerofill",
    "A2 hourly histogram with ES date_histogram extended_bounds "
    "semantics: ALL 24 hour buckets present, empty ones zero-filled — "
    "what the dashboard's hour axis actually renders (ES omits empty "
    "buckets unless extended_bounds forces them; the reference's JS "
    "would otherwise skip silent hours). One 24-row literal frame "
    "LEFT-joining the aggregate — domain-sized, broadcast (north-star)",
    f"""
    WITH hrs AS (SELECT lpad(CAST(range AS VARCHAR), 2, '0') AS hr
                 FROM range(24)),
    agg AS (SELECT strftime(ts, '%H') AS hr,
                   count(DISTINCT user_id) AS ct
            FROM events WHERE strftime(ts, '%Y-%m-%d') = '{TD}'
            GROUP BY 1)
    SELECT hrs.hr, CAST(coalesce(agg.ct, 0) AS BIGINT) AS ct
    FROM hrs LEFT JOIN agg USING (hr)
    """,
)
def a_dau_hourly_zerofill(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    agg = (
        ev.filter(F.date_format("ts", "yyyy-MM-dd") == TD)
        .groupBy(F.date_format("ts", "HH").alias("hr"))
        .agg(F.countDistinct("user_id").alias("ct"))
    )
    hrs = spark.range(24).select(
        F.lpad(F.col("id").cast("string"), 2, "0").alias("hr")
    )
    return hrs.join(agg, "hr", "left").select(
        "hr", F.coalesce("ct", F.lit(0)).cast("long").alias("ct")
    )


@_register(
    "a_dau_compare",
    "A3 today-vs-yesterday (PublisherMapperImpl.java:107-125) + F8 date_sub",
    f"""
    SELECT strftime(ts, '%Y-%m-%d') AS dt, strftime(ts, '%H') AS hr,
           count(DISTINCT user_id) AS ct
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') IN ('{TD}', strftime(DATE '{TD}' - INTERVAL 1 DAY, '%Y-%m-%d'))
    GROUP BY 1, 2
    """,
)
def a_dau_compare(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    yd = F.date_format(F.date_sub(F.to_date(F.lit(TD)), 1), "yyyy-MM-dd")
    dt = F.date_format("ts", "yyyy-MM-dd")
    return (
        ev.filter((dt == TD) | (dt == yd))
        .groupBy(dt.alias("dt"), F.date_format("ts", "HH").alias("hr"))
        .agg(F.countDistinct("user_id").alias("ct"))
    )


_PART_MATCH_SQL = " AND ".join(
    f"list_contains(list_filter(string_split_regex(lower(p_name), '\\s+'), x -> x <> ''), '{t}')"
    for t in PART_QUERY.split()
)


@_register(
    "a_stats_by_item_segment",
    "A4+A6 match + grouped sum + recode (PublisherMapperImpl.java:136-176)",
    f"""
    SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN '建筑'
                WHEN c_mktsegment = 'AUTOMOBILE' THEN '汽车'
                ELSE c_mktsegment END AS name,
           round(sum(l_extendedprice), 2) AS value
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE {_PART_MATCH_SQL}
    GROUP BY 1 ORDER BY 1
    """,
    bench=True,
)
def a_stats_by_item_segment(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    seg = (
        F.when(F.col("c_mktsegment") == "BUILDING", "建筑")
        .when(F.col("c_mktsegment") == "AUTOMOBILE", "汽车")
        .otherwise(F.col("c_mktsegment"))
    )
    return (
        li.join(F.broadcast(p.filter(text_match(F.col("p_name"), PART_QUERY))),
                li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(seg.alias("name"))
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("value"))
        .orderBy("name")
    )


@_register(
    "a_stats_by_item_band",
    "A4+A5 match + band recode aggregation (PublisherServiceImpl.java:59-78)",
    f"""
    SELECT CASE WHEN p_size < 20 THEN 'under20'
                WHEN p_size <= 29 THEN '20to29'
                ELSE '30plus' END AS name,
           round(sum(l_extendedprice), 2) AS value
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE {_PART_MATCH_SQL}
    GROUP BY 1 ORDER BY 1
    """,
)
def a_stats_by_item_band(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    band = (
        F.when(F.col("p_size") < 20, "under20")
        .when(F.col("p_size") <= 29, "20to29")
        .otherwise("30plus")
    )
    return (
        li.join(F.broadcast(p.filter(text_match(F.col("p_name"), PART_QUERY))),
                li.l_partkey == p.p_partkey)
        .groupBy(band.alias("name"))
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("value"))
        .orderBy("name")
    )


@_register(
    "a_rollup_totals",
    "ROLLUP grouping-set aggregation (SURVEY §2.5 'absent in ref, built-in "
    "in Spark'): per-(flag,status) sums plus per-flag and grand totals",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS ct
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a_rollup_totals(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("ct"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_price",
            "ct",
        )
    )


@_register(
    "a_percentiles",
    "exact percentile aggregation (SURVEY §2.5 'no percentiles in ref'). "
    "Percentile column is integer-valued l_quantity: continuous "
    "interpolation between tied neighbors is exact, so Spark and DuckDB "
    "agree bit-for-bit (interpolating a smooth double column differs in "
    "the last ulp and flips the rounding boundary)",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 2)  AS p50,
           round(quantile_cont(l_quantity, 0.95), 2) AS p95,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a_percentiles(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("l_quantity", F.lit(0.95)), 2).alias("p95"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


# ---------------------------------------------------------------------------
# F-group scalar surface + pagination + windows + set ops (SURVEY §2.7/2.8)
# ---------------------------------------------------------------------------

_DOC_MATCH_SQL = " AND ".join(
    f"list_contains(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''), '{t}')"
    for t in ITEM_QUERY.split()
)
_DOC_HL_SQL = (
    r"regexp_replace(text, '(?i)\b(spark|join)\b', '<em>\1</em>', 'g')"
)


@_register(
    "f_text_match_highlight",
    "F9 analyzed AND-match + F10 highlight (PublisherMapperImpl.java:143,199-218)",
    f"""
    SELECT doc_id, {_DOC_HL_SQL} AS sku_name
    FROM documents WHERE {_DOC_MATCH_SQL}
    """,
)
def f_text_match_highlight(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(text_match(F.col("text"), ITEM_QUERY)).select(
        "doc_id", highlight(F.col("text"), ITEM_QUERY).alias("sku_name")
    )


# F9/F10 on CJK: the reference's REAL dashboard queries are Chinese item
# names (PublisherController.java:26-33 sends 小米 etc.) against an
# ES-standard-analyzed sku_name (PublisherMapperImpl.java:143) that
# tokenizes CJK one character per token — so 小米手机 must match
# 小米11手机. The testdata documents are Latin, so the sku corpus is
# DERIVED deterministically from doc_id on BOTH engines (brand+model+
# kind), exercising the analyzer itself end-to-end.
_CJK_BRANDS = ["小米", "华为", "苹果", "三星"]
_CJK_KINDS = ["手机", "平板", "耳机"]
CJK_QUERY = "小米手机"

_CJK_SKU_SQL = (
    "['小米','华为','苹果','三星'][CAST(doc_id % 4 AS INT) + 1]"
    " || CAST(doc_id % 90 + 10 AS VARCHAR)"
    " || ['手机','平板','耳机'][CAST(doc_id % 3 AS INT) + 1]"
)
_CJK_MATCH_SQL, _CJK_HL_SQL = match_and_highlight_sql("sku_name", CJK_QUERY)


@_register(
    "f_text_match_cjk",
    "F9/F10 with ES standard-analyzer CJK semantics: per-character CJK "
    "tokens, AND-match, run-merged highlight — query 小米手机 hits "
    "小米11手机 (PublisherMapperImpl.java:143,199-218; "
    "PublisherController.java:26-33)",
    f"""
    WITH sku AS (SELECT doc_id, {_CJK_SKU_SQL} AS sku_name FROM documents)
    SELECT doc_id, {_CJK_HL_SQL} AS sku_name
    FROM sku WHERE {_CJK_MATCH_SQL}
    """,
)
def f_text_match_cjk(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    brand = F.element_at(
        F.array(*[F.lit(b) for b in _CJK_BRANDS]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    kind = F.element_at(
        F.array(*[F.lit(k) for k in _CJK_KINDS]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    model = (F.col("doc_id") % 90 + 10).cast("string")
    sku = docs.select(
        "doc_id", F.concat(brand, model, kind).alias("sku_name")
    )
    return sku.filter(text_match(F.col("sku_name"), CJK_QUERY)).select(
        "doc_id", highlight(F.col("sku_name"), CJK_QUERY).alias("sku_name")
    )


@_register(
    "f_age_from_birthday",
    "F5 whole-years age at a fixed as_of (DwdDauApp.scala:158-165; "
    "deterministic as_of per SURVEY §7). Birthday derived deterministically "
    "from c_custkey since no testdata table carries one.",
    """
    WITH b AS (SELECT c_custkey,
                      DATE '1970-01-01' + CAST(c_custkey * 7919 % 18250 AS INTEGER) AS bd
               FROM customer)
    SELECT c_custkey, strftime(bd, '%Y-%m-%d') AS birthday,
           year(DATE '2024-06-01') - year(bd)
           - CASE WHEN month(bd) > 6 OR (month(bd) = 6 AND day(bd) > 1)
                  THEN 1 ELSE 0 END AS user_age
    FROM b
    """,
)
def f_age_from_birthday(spark, sf_dir):
    from ..functions.dates import age_years

    c = _t(spark, sf_dir, "customer")
    bd = F.date_add(
        F.to_date(F.lit("1970-01-01")),
        (F.col("c_custkey") * 7919 % 18250).cast("int"),
    )
    return c.select(
        "c_custkey",
        F.date_format(bd, "yyyy-MM-dd").alias("birthday"),
        age_years(bd, F.lit("2024-06-01")).alias("user_age"),
    )


@_register(
    "f_datetime_split",
    "F1 epoch-ms passthrough + F4 datetime-string split into date/hour "
    "(DwdOrderApp.scala:148-155) — non-vacuous 'HH' over a real timestamp",
    """
    WITH s AS (SELECT event_id, epoch_ms(ts) AS ts_ms,
                      strftime(ts, '%Y-%m-%d %H:%M:%S') AS create_time
               FROM events)
    SELECT event_id, ts_ms, create_time,
           substr(create_time, 1, 10) AS create_date,
           substr(create_time, 12, 2) AS create_hour
    FROM s
    """,
)
def f_datetime_split(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("create_time"),
    )
    # the exact create_date/create_hour derivation order_wide_pipeline
    # (streaming/pipelines.py) applies in prod
    return s.select(
        "event_id",
        "ts_ms",
        "create_time",
        F.substring("create_time", 1, 10).alias("create_date"),
        F.date_format(F.to_timestamp("create_time"), "HH").alias("create_hour"),
    )


@_register(
    "q_detail_page",
    "pagination: deterministic ORDER BY + LIMIT/OFFSET (PublisherServiceImpl.java:41-47)",
    f"""
    SELECT doc_id, n_chars, {_DOC_HL_SQL} AS sku_name
    FROM documents WHERE {_DOC_MATCH_SQL}
    ORDER BY n_chars DESC, doc_id LIMIT 20 OFFSET 20
    """,
)
def q_detail_page(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(text_match(F.col("text"), ITEM_QUERY))
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .offset(20)
        .limit(20)
        .select("doc_id", "n_chars", highlight(F.col("text"), ITEM_QUERY).alias("sku_name"))
    )


@_register(
    "w_topk_per_group",
    "window functions / top-k (SURVEY §2.8, 'free in Spark')",
    """
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    """,
)
def w_topk_per_group(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total"), "rn"
        )
    )


@_register(
    "u_union_split",
    "set ops: union (inverse of the 5-way split, OdsBaseLogApp.scala:93-101)",
    """
    SELECT event_id, 'err_stream' AS stream, user_id FROM events WHERE event_type = 'error'
    UNION ALL
    SELECT event_id, 'buy_stream' AS stream, user_id FROM events WHERE event_type = 'purchase'
    """,
)
def u_union_split(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", F.lit("err_stream").alias("stream"), "user_id"
    )
    buy = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.lit("buy_stream").alias("stream"), "user_id"
    )
    return err.unionAll(buy)


# ---------------------------------------------------------------------------
# O-group: stateful streaming semantics, batch-checkable (SURVEY §2.6)
# ---------------------------------------------------------------------------


@_register(
    "o_dedup_first_per_day",
    "O1 streaming distinct-by-(key,day), deterministic first-event variant "
    "(DwdDauApp.scala:87-135)",
    """
    SELECT user_id, dt, event_id AS first_event_id, ts_us AS first_ts_us FROM (
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt, event_id, epoch_us(ts) AS ts_us,
             row_number() OVER (PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
                                ORDER BY ts, event_id) AS rn
      FROM events) WHERE rn = 1
    """,
)
def o_dedup_first_per_day(spark, sf_dir):
    # min_by hash-aggregate, not a row_number window: partial aggregation
    # reduces map-side output to one row per (user, dt) per partition
    # BEFORE the shuffle, and no per-partition sort — at 100 TB the window
    # variant shuffles and sorts every event. Results identical
    # (deterministic min by (ts, event_id)); oracle keeps the rn=1 form.
    ev = _t(spark, sf_dir, "events").withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    first = F.min_by(
        F.struct(
            F.col("event_id").alias("first_event_id"),
            F.unix_micros("ts").alias("first_ts_us"),
        ),
        F.struct(F.col("ts"), F.col("event_id")),
    ).alias("w")
    return (
        ev.groupBy("user_id", "dt")
        .agg(first)
        .select("user_id", "dt", "w.first_event_id", "w.first_ts_us")
    )


@_register(
    "o_window_tumbling",
    "tumbling event-time window aggregation (SURVEY §2.6 'absent in ref, free in Spark')",
    """
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
           count(*) AS ct, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def o_window_tumbling(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("ct"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "event_type",
            "ct",
            "sum_value",
        )
    )


@_register(
    "o_window_sliding",
    "sliding (hopping) event-time window, 1 h width / 30 min slide "
    "(SURVEY §2.6 'absent in ref, free in Spark'): each event lands in 2 "
    "overlapping windows",
    """
    SELECT epoch_us(s) AS window_start_us, event_type,
           count(*) AS ct, round(sum(value), 2) AS sum_value
    FROM events,
         LATERAL (VALUES (date_trunc('hour', ts)
                          + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
                                 ELSE INTERVAL 0 MINUTE END),
                         (date_trunc('hour', ts)
                          + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
                                 ELSE INTERVAL 0 MINUTE END
                          - INTERVAL 30 MINUTE)) AS w(s)
    GROUP BY 1, 2
    """,
)
def o_window_sliding(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("ct"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "event_type",
            "ct",
            "sum_value",
        )
    )


@_register(
    "u_intersect_except",
    "set ops intersect/except (SURVEY §2.8 'none in ref; free in Spark')",
    """
    WITH e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error'),
         p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT user_id, 'both' AS tag FROM (SELECT * FROM e INTERSECT SELECT * FROM p)
    UNION ALL
    SELECT user_id, 'error_only' AS tag FROM (SELECT * FROM e EXCEPT SELECT * FROM p)
    """,
)
def u_intersect_except(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    pur = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    both = err.intersect(pur).select("user_id", F.lit("both").alias("tag"))
    only = err.subtract(pur).select("user_id", F.lit("error_only").alias("tag"))
    return both.unionAll(only)


@_register(
    "o_session_window",
    "session windows, 30 min gap (SURVEY §2.6; islands-equivalent oracle)",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    numbered AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged)
    SELECT user_id, epoch_us(min(ts)) AS session_start_us,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM numbered GROUP BY user_id, session_no
    """,
)
def o_session_window(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# X-group: LLM-data-pipeline extension operators (north-star, BASELINE.json)
# Implementations live in operators/{dedup,similarity,textstats,multimodal}.py;
# each catalog entry replays the exact pipeline in portable SQL (md5-based
# hashing, double arithmetic with identical accumulation order).
# ---------------------------------------------------------------------------

from ..operators import dedup as _dd
from ..operators import graph as _gr
from ..operators import joins as _jn
from ..operators import multimodal as _mm
from ..operators import similarity as _sim

# Trained-model cache across catalog entries: ivf_centroids /
# pq_codebooks are PURE functions of (table, params) — id-ordered
# seeds, quantized means, no RNG — so the four entries sharing the
# 8-centroid coarse model (ivf / ivfpq / semantic-dedup) reuse one
# training per process instead of re-running Lloyd each invocation.
# The first invocation still pays full training (nothing precomputed
# offline); oracles are unaffected because the cached model is
# bit-identical to a fresh one.
_MODEL_CACHE: dict[tuple, list] = {}


def _trained(kind: str, spark, sf_dir: str, **params):
    key = (kind, sf_dir, tuple(sorted(params.items())))
    if key not in _MODEL_CACHE:
        emb = _t(spark, sf_dir, "embeddings")
        fn = _sim.ivf_centroids if kind == "ivf" else _sim.pq_codebooks
        _MODEL_CACHE[key] = fn(emb, **params)
    return _MODEL_CACHE[key]
from ..operators import sketches as _sk
from ..operators import textstats as _ts

# shared SQL fragments -------------------------------------------------------

_TOKS_SQL = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"


def _shingles_sql(n: int) -> str:
    """DuckDB twin of operators.dedup.word_shingles (distinct word n-grams,
    whole-token-string fallback for short docs)."""
    return (
        f"CASE WHEN len(t) >= {n} THEN "
        f"list_distinct([array_to_string(t[i:i+{n - 1}], ' ') FOR i IN range(1, len(t) - {n - 2})]) "
        f"ELSE [array_to_string(t, ' ')] END"
    )


_JACCARD_VERIFY_SQL = """
sz AS (SELECT doc_id, s, len(s) AS ln FROM sh),
scored AS (
  SELECT doc_a, doc_b,
         round(len(list_intersect(sa.s, sb.s)) * 1.0 /
               (sa.ln + sb.ln - len(list_intersect(sa.s, sb.s))), 4) AS jaccard
  FROM cand JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b)
SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.8
"""

_MINHASH_K, _MINHASH_BANDS = 16, 4
_R = _MINHASH_K // _MINHASH_BANDS
# Component j = min over shingles of the j%4-th 32-bit (8-hex) chunk of
# md5('{j//4}:'||g): one md5 serves four components (mirrors
# operators.dedup.minhash_signature — ceil(k/4) hash passes, not k).
_MH_COLS = ",\n         ".join(
    f"min(substr(md5('{j // 4}:' || g), {8 * (j % 4) + 1}, 8)) AS h{j}"
    for j in range(_MINHASH_K)
)
_BAND_SQL = "\n  UNION ALL ".join(
    "SELECT doc_id, {b} AS band, md5({key}) AS key FROM mh".format(
        b=b, key="||".join(f"h{b * _R + i}" for i in range(_R))
    )
    for b in range(_MINHASH_BANDS)
)


@_register(
    "x_dedup_exact",
    "exact dedup via content-hash groupBy (north-star; K3 idempotent-key analog)",
    """
    SELECT md5(text) AS fp, min(doc_id) AS keeper_id, count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def x_dedup_exact(spark, sf_dir):
    return _dd.dedup_exact(_t(spark, sf_dir, "documents"), "text", "doc_id")


# Shingle document-frequency cap for the candidate join. Must clear the
# corpus' duplicate-cluster size: a cluster of k copies gives every shared
# shingle df >= k, and candidates vanish entirely once k > cap (measured
# at a 10x-amplified sf0.1: cap 10 -> 0 pairs, cap 50 -> all pairs).
_MAX_DF = 50


@_register(
    "x_dedup_ngram_jaccard",
    "n-gram Jaccard near-dup pairs; candidate join df-capped so pair "
    "fan-out is bounded (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    sh AS (SELECT doc_id, {_shingles_sql(3)} AS s FROM toks),
    ex0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
    low AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) <= {_MAX_DF}),
    exc AS (SELECT doc_id, ex0.g AS g FROM ex0 JOIN low USING (g)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM exc a JOIN exc b ON a.g = b.g AND a.doc_id < b.doc_id),
    {_JACCARD_VERIFY_SQL}
    """,
    bench=True,
)
def x_dedup_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return _dd.ngram_jaccard_dedup_pairs(
        docs, "text", "doc_id", n=3, threshold=0.8, max_df=_MAX_DF
    )


_MAX_BUCKET = 50  # LSH hot-bucket cap: buckets above this are degenerate


@_register(
    "x_dedup_minhash_lsh",
    "MinHash+LSH near-dup: shingle -> 16 minhashes -> 4 bands (hot buckets "
    "capped) -> verify (north-star scale path)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    sh AS (SELECT doc_id, {_shingles_sql(3)} AS s FROM toks),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    mh AS (SELECT doc_id,
         {_MH_COLS}
       FROM ex GROUP BY doc_id),
    bands0 AS (
  {_BAND_SQL}),
    small AS (SELECT band, key FROM bands0 GROUP BY band, key
              HAVING count(*) <= {_MAX_BUCKET}),
    bands AS (SELECT bands0.* FROM bands0 JOIN small USING (band, key)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    {_JACCARD_VERIFY_SQL}
    """,
    bench=True,
)
def x_dedup_minhash_lsh(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return _dd.minhash_dedup_pairs(
        docs,
        "text",
        "doc_id",
        n=3,
        k=_MINHASH_K,
        bands=_MINHASH_BANDS,
        threshold=0.8,
        max_bucket=_MAX_BUCKET,
    )


_SIMHASH_BITS = 16


def _simhash_bit_sql(bits: int) -> str:
    """Bit exprs reading hex digit j%32 of pre-hashed token array h{j//32}
    (md5 once per token per seed — mirrors
    operators.dedup.simhash_from_hashes)."""
    return ",\n      ".join(
        f"CASE WHEN list_sum(list_transform(h{j // 32}, x -> CASE WHEN "
        f"instr('0123456789abcdef', substr(x, {j % 32 + 1}, 1)) - 1 >= 8 "
        "THEN 1 ELSE -1 END)) > 0 THEN '1' ELSE '0' END"
        for j in range(bits)
    )


@_register(
    "x_simhash_signature",
    "SimHash 16-bit signatures, narrow aggregate over pre-hashed tokens "
    "(md5 once per token, digit read per bit) (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    hs AS (SELECT doc_id, list_transform(t, tok -> md5(tok)) AS h0 FROM toks)
    SELECT doc_id, concat(
      {_simhash_bit_sql(_SIMHASH_BITS)}) AS simhash
    FROM hs
    """,
)
def x_simhash_signature(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", _dd.tokens_expr("text").alias("t"))
        .select("doc_id", _dd.token_md5s("t").alias("h"))
        .select(
            "doc_id", _dd.simhash_from_hashes(["h"], _SIMHASH_BITS).alias("simhash")
        )
    )


_SIMHASH_MAX_HAMMING = 2
# 64-bit signatures for the near-pair join, for two measured reasons:
# (1) segment width = bits/(h+1) -> 2^width buckets; 16-bit signatures
#     give 5-bit segments (<=64 buckets, ~N/32 per bucket -> quadratic
#     pair fan-out: 149.6M candidate pairs on a 50k-doc corpus);
# (2) hamming <= 2 out of 16 or 32 bits is far too loose on a
#     small-vocabulary corpus (127k "near" pairs at 32 bits vs 256 true
#     jaccard near-dups at sf0.1) — 2/64 is a meaningful threshold.
_SIMHASH_NP_BITS = 64
_SIMHASH_SEG_SQL = "\n  UNION ALL ".join(
    f"SELECT doc_id, sig, {i} AS seg_idx, substr(sig, {start}, {length}) AS seg FROM s"
    for i, (start, length) in enumerate(
        _dd.simhash_segments(_SIMHASH_NP_BITS, _SIMHASH_MAX_HAMMING)
    )
)


@_register(
    "x_simhash_near_pairs",
    "SimHash near-dup pairs: 64-bit signatures, pigeonhole segment "
    "equi-join (max_hamming+1 segments) + hamming verify (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    hs AS (SELECT doc_id, list_transform(t, tok -> md5(tok)) AS h0,
                  list_transform(t, tok -> md5('b:' || tok)) AS h1 FROM toks),
    s AS (SELECT doc_id, concat(
      {_simhash_bit_sql(_SIMHASH_NP_BITS)}) AS sig FROM hs),
    segs AS (
  {_SIMHASH_SEG_SQL}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.sig AS sig_a, b.sig AS sig_b
             FROM segs a JOIN segs b
             ON a.seg_idx = b.seg_idx AND a.seg = b.seg AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, hamming FROM (
      SELECT doc_a, doc_b,
             CAST(list_sum(list_transform(range(1, {_SIMHASH_NP_BITS + 1}),
               i -> CASE WHEN substr(sig_a, i, 1) = substr(sig_b, i, 1)
                         THEN 0 ELSE 1 END)) AS INTEGER) AS hamming
      FROM cand) WHERE hamming <= {_SIMHASH_MAX_HAMMING}
    """,
)
def x_simhash_near_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return _dd.simhash_near_pairs(
        docs, "text", "doc_id", bits=_SIMHASH_NP_BITS, max_hamming=_SIMHASH_MAX_HAMMING
    )


# embedding similarity -------------------------------------------------------

_DOT = (
    "list_reduce(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]), "
    "(x, y) -> x + y)"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)}))"
    )


_BUCKET_SQL = (
    "concat(CASE WHEN v[1] >= 0 THEN '1' ELSE '0' END, "
    "CASE WHEN v[2] >= 0 THEN '1' ELSE '0' END, "
    "CASE WHEN v[3] >= 0 THEN '1' ELSE '0' END)"
)


_EMB_PAIRS_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round({_cos_sql('a.v', 'b.v')}, 4) AS sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, sim FROM scored WHERE sim >= 0.45
    """


@_register(
    "x_dedup_embedding",
    "embedding-cosine near-dup pairs (north-star; brute-force baseline)",
    _EMB_PAIRS_SQL,
)
def x_dedup_embedding(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.cosine_near_pairs(emb, 0.45)


@_register(
    "x_dedup_embedding_gemm",
    "same exact all-pairs cosine near-dup through blocked Arrow/numpy "
    "kernels: unordered block pairs -> applyInPandas, n_blocks x N "
    "shuffle vs (2N/n_blocks) x d per-group memory, bit-identical fold "
    "so it shares the brute-force oracle — the all-pairs analog of "
    "x_knn_gemm (north-star)",
    _EMB_PAIRS_SQL,
)
def x_dedup_embedding_gemm(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.cosine_near_pairs_gemm(emb, 0.45)


@_register(
    "x_dedup_embedding_bucketed",
    "embedding-cosine near-dup, sign-LSH bucketed candidates + threshold "
    "verify (north-star scale default; brute-force demoted to verification)",
    f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    e AS (SELECT vec_id, v, {_BUCKET_SQL} AS bucket FROM base),
    scored AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round({_cos_sql('a.v', 'b.v')}, 4) AS sim
      FROM e a JOIN e b USING (bucket) WHERE a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, sim FROM scored WHERE sim >= 0.45
    """,
)
def x_dedup_embedding_bucketed(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.cosine_near_pairs_bucketed(emb, 0.45)


_BF_KNN_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
      SELECT query_id, e.vec_id AS neighbor_id, {_cos_sql('qv', 'e.v')} AS sim
      FROM q JOIN e ON e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, rank, round(sim, 4) AS sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= 5
    """


@_register(
    "x_knn_bruteforce",
    "brute-force cosine top-k similarity search (north-star baseline)",
    _BF_KNN_SQL,
    bench=True,
)
def x_knn_bruteforce(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.knn_bruteforce(emb, emb.filter(F.col("vec_id") < 5), k=5)


@_register(
    "x_knn_gemm",
    "Arrow-vectorized brute-force top-k: mapInPandas numpy batch kernel "
    "with the JVM's exact left-to-right fold (bit-identical sims), "
    "batch-local top-k pruning before the global window — the "
    "high-dimension scale path where interpreted array folds stop being "
    "viable (north-star)",
    _BF_KNN_SQL,
)
def x_knn_gemm(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.knn_gemm(emb, emb.filter(F.col("vec_id") < 5), k=5)


@_register(
    "x_knn_bucketed",
    "sign-LSH bucketed approximate top-k (north-star scale path)",
    f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    e AS (SELECT vec_id, v, {_BUCKET_SQL} AS bucket FROM base),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE vec_id < 20),
    scored AS (
      SELECT query_id, q.bucket AS bucket, e.vec_id AS neighbor_id,
             {_cos_sql('qv', 'e.v')} AS sim
      FROM q JOIN e USING (bucket) WHERE e.vec_id <> q.query_id)
    SELECT query_id, bucket, neighbor_id, rank, round(sim, 4) AS sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= 3
    """,
)
def x_knn_bucketed(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.knn_bucketed(emb, emb.filter(F.col("vec_id") < 20), k=3)


def _flip_sql(i: int) -> str:
    flip = f"CASE WHEN substr(b, {i}, 1) = '1' THEN '0' ELSE '1' END"
    return f"concat(substr(b, 1, {i - 1}), {flip}, substr(b, {i + 1}, {3 - i}))"


@_register(
    "x_knn_multiprobe",
    "multi-probe sign-LSH top-k: home bucket + all 1-bit-flip buckets — "
    "the recall knob over x_knn_bucketed (north-star scale path)",
    f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    e AS (SELECT vec_id, v, {_BUCKET_SQL} AS bucket FROM base),
    q0 AS (SELECT vec_id AS query_id, v AS qv, bucket AS b FROM e WHERE vec_id < 20),
    flip AS (
      SELECT query_id, qv, b AS bucket FROM q0
      UNION ALL SELECT query_id, qv, {_flip_sql(1)} FROM q0
      UNION ALL SELECT query_id, qv, {_flip_sql(2)} FROM q0
      UNION ALL SELECT query_id, qv, {_flip_sql(3)} FROM q0),
    scored AS (
      SELECT query_id, flip.bucket AS bucket, e.vec_id AS neighbor_id,
             {_cos_sql('qv', 'e.v')} AS sim
      FROM flip JOIN e USING (bucket) WHERE e.vec_id <> flip.query_id)
    SELECT query_id, bucket, neighbor_id, rank, round(sim, 4) AS sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= 3
    """,
)
def x_knn_multiprobe(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.knn_bucketed(
        emb, emb.filter(F.col("vec_id") < 20), k=3, probe_radius=1
    )


_KM_ASSIGN = (
    "(SELECT *, row_number() OVER (PARTITION BY {key} "
    "ORDER BY sim DESC, cid) AS rn FROM {src})"
)


def _kmeans_parts(n_cent: int, iters: int) -> tuple[list[str], str]:
    """Shared unrolled k-means-lite training CTEs (see _ivf_sql): returns
    (parts, final_centroid_cte_name). Every oracle that replays the
    trained model (IVF probe, cluster-balanced sample) composes onto
    this identical prefix, so one training definition serves them all."""
    assign = _KM_ASSIGN
    parts = [
        "WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)",
        "c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v AS c "
        f"FROM (SELECT id, v FROM e ORDER BY id LIMIT {n_cent}))",
    ]
    prev = "c0"
    for i in range(1, iters + 1):
        parts.append(
            f"s{i} AS (SELECT e.id, e.v, {prev}.cid, "
            f"{_cos_sql('e.v', prev + '.c')} AS sim FROM e CROSS JOIN {prev})"
        )
        parts.append(
            f"a{i} AS (SELECT id, v, cid FROM "
            f"{assign.format(key='id', src=f's{i}')} WHERE rn = 1)"
        )
        parts.append(
            f"m{i} AS (SELECT cid, pos, round(avg(x), 6) AS m FROM "
            f"(SELECT cid, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS pos "
            f"FROM a{i}) GROUP BY cid, pos)"
        )
        parts.append(
            f"c{i} AS (SELECT {prev}.cid, coalesce(mm.c, {prev}.c) AS c "
            f"FROM {prev} LEFT JOIN (SELECT cid, list(m ORDER BY pos) AS c "
            f"FROM m{i} GROUP BY cid) mm ON mm.cid = {prev}.cid)"
        )
        prev = f"c{i}"
    return parts, prev


def _ivf_sql(n_cent: int, iters: int, q_max: int, k: int, n_probe: int) -> str:
    """Unrolled k-means-lite + IVF probe as one DuckDB statement: the
    shared training prefix (_kmeans_parts) -> corpus assignment ->
    per-query probe of n_probe nearest centroids -> exact cosine rank.
    Replays the ENTIRE pipeline including centroid training, not just
    the final ranking."""
    assign = _KM_ASSIGN
    parts, prev = _kmeans_parts(n_cent, iters)
    parts.append(
        f"sf AS (SELECT e.id, e.v, {prev}.cid, "
        f"{_cos_sql('e.v', prev + '.c')} AS sim FROM e CROSS JOIN {prev})"
    )
    parts.append(
        "asg AS (SELECT id AS neighbor_id, v AS cv, cid FROM "
        f"{assign.format(key='id', src='sf')} WHERE rn = 1)"
    )
    parts.append(
        f"qs AS (SELECT e.id AS query_id, e.v AS qv, {prev}.cid, "
        f"{_cos_sql('e.v', prev + '.c')} AS sim FROM e CROSS JOIN {prev} "
        f"WHERE e.id < {q_max})"
    )
    parts.append(
        "probe AS (SELECT query_id, qv, cid FROM "
        f"{assign.format(key='query_id', src='qs')} WHERE rn <= {n_probe})"
    )
    parts.append(
        "scored AS (SELECT query_id, probe.cid AS cid, neighbor_id, "
        f"{_cos_sql('qv', 'cv')} AS sim FROM probe JOIN asg USING (cid) "
        "WHERE neighbor_id <> query_id)"
    )
    return (
        ",\n".join(parts)
        + "\nSELECT query_id, cid, neighbor_id, rank, round(sim, 4) AS sim "
        "FROM (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY sim DESC, neighbor_id) AS rank FROM scored) "
        f"WHERE rank <= {k}"
    )


@_register(
    "x_knn_ivf",
    "IVF approximate top-k: deterministic k-means-lite centroids (seeded "
    "by id, 3 Lloyd iterations, quantized means, literal-folded "
    "assignment), 2-probe — oracle replays the full training loop as "
    "unrolled CTEs (north-star scale path)",
    _ivf_sql(n_cent=8, iters=3, q_max=20, k=3, n_probe=2),
)
def x_knn_ivf(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cents = _trained("ivf", spark, sf_dir, n_centroids=8, iters=3)
    return _sim.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 20), cents, k=3, n_probe=2
    )


# text analysis --------------------------------------------------------------

_STOPSET_SQL = "['the', 'a', 'of', 'and', 'to', 'in']"


@_register(
    "x_text_stats",
    "token counting + quality scoring, single narrow pass (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, text, {_TOKS_SQL} AS t FROM documents)
    SELECT doc_id,
           len(t) AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
           round(list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t), 4) AS avg_token_len,
           round(len(list_filter(t, x -> list_contains({_STOPSET_SQL}, x))) * 1.0 / len(t), 4) AS stopword_ratio,
           round(least(1.0, len(t) / 100.0) *
                 (1.0 - len(list_filter(t, x -> list_contains({_STOPSET_SQL}, x))) * 1.0 / len(t)), 4) AS quality_score
    FROM toks
    """,
)
def x_text_stats(spark, sf_dir):
    return _ts.token_stats(_t(spark, sf_dir, "documents"), "text", "doc_id")


def _marker_sql(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(t, x -> list_contains([{lst}], x)))"


_LANG_SCORES_SQL = ",\n           ".join(
    f"{_marker_sql(words)} AS score_{lang}" for lang, words in _ts.LANG_MARKERS.items()
)


@_register(
    "x_lang_guess",
    "language-ID heuristic via marker stopwords; Chinese via Han "
    "character count (CJK has no whitespace stopword tokens — the F9 "
    "analyzer reality), fixed priority en>de>fr>es>zh (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, text, {_TOKS_SQL} AS t FROM documents),
    s AS (SELECT doc_id,
           {_LANG_SCORES_SQL},
           length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '',
                                 'g')) AS score_zh
          FROM toks)
    SELECT doc_id, score_en, score_de, score_fr, score_es, score_zh,
           CASE WHEN score_en >= score_de AND score_en >= score_fr
                     AND score_en >= score_es AND score_en > 0 THEN 'en'
                WHEN score_de >= score_fr AND score_de >= score_es
                     AND score_de > 0 THEN 'de'
                WHEN score_fr >= score_es AND score_fr > 0 THEN 'fr'
                WHEN score_es > 0 THEN 'es'
                WHEN score_zh > 0 THEN 'zh'
                ELSE 'unk' END AS lang_guess
    FROM s
    """,
)
def x_lang_guess(spark, sf_dir):
    return _ts.lang_guess(_t(spark, sf_dir, "documents"), "text", "doc_id")


@_register(
    "x_fingerprint",
    "document fingerprinting: content hash + min-shingle hash (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, text, {_TOKS_SQL} AS t FROM documents),
    sh AS (SELECT doc_id, text, {_shingles_sql(4)} AS s FROM toks)
    SELECT doc_id, md5(text) AS content_hash,
           list_aggregate(list_transform(s, g -> md5(g)), 'min') AS shingle_fp
    FROM sh
    """,
)
def x_fingerprint(spark, sf_dir):
    return _ts.fingerprint(_t(spark, sf_dir, "documents"), "text", "doc_id", n=4)


# multimodal -----------------------------------------------------------------


@_register(
    "x_multimodal_meta",
    "multimodal binary payload + typed metadata derivation (north-star)",
    """
    SELECT doc_id, 'text' AS modality, 'text/plain' AS mime,
           octet_length(encode(text)) AS n_bytes, sha256(text) AS sha256
    FROM documents
    """,
)
def x_multimodal_meta(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    mm = _mm.attach_binary_payload(docs, "text")
    return mm.select(
        "doc_id",
        F.col("meta.modality").alias("modality"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.sha256").alias("sha256"),
    )


def _sha_byte_sql(k: int) -> str:
    """Byte k (0-based) of a lowercase-hex sha256 column ``h`` as an
    integer — two hex-digit lookups, the md5 pattern of _simhash_bit_sql."""
    p = 2 * k + 1
    return (
        f"((instr('0123456789abcdef', substr(h, {p}, 1)) - 1) * 16 + "
        f"instr('0123456789abcdef', substr(h, {p + 1}, 1)) - 1)"
    )


@_register(
    "x_multimodal_decode",
    "stubbed media decode via mapInPandas: deterministic fake dims/features "
    "from sha256(payload) — SQL-expressible, so the full pandas plumbing is "
    "oracle-checked (north-star)",
    f"""
    WITH hs AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                       sha256(text) AS h
                FROM documents)
    SELECT doc_id, 'text' AS modality, n_bytes,
           CAST(64 + ({_sha_byte_sql(0)}) % 64 AS INT) AS width,
           CAST(64 + ({_sha_byte_sql(1)}) % 64 AS INT) AS height,
           {",".join(f"round(({_sha_byte_sql(2 + i)}) / 255.0, 6) AS feature_{i}" for i in range(8))}
    FROM hs
    """,
)
def x_multimodal_decode(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    mm = _mm.attach_binary_payload(docs, "text")
    decoded = _mm.decode_features(mm, "doc_id", feature_dim=8)
    # The checked output flattens features to scalar doubles: the driver's
    # canonicalizer sorts result cells in pandas, and raw array<double>
    # cells (python lists) are unhashable there.
    return decoded.select(
        "doc_id",
        "modality",
        "n_bytes",
        "width",
        "height",
        *[
            F.element_at("features", i + 1).alias(f"feature_{i}")
            for i in range(8)
        ],
    )


@_register(
    "x_multimodal_resize",
    "stubbed image resize via mapInPandas: binary in, binary out, payload "
    "never shuffled; checked output is the size/dims contract (north-star)",
    """
    SELECT doc_id, CAST(32 AS INT) AS width, CAST(32 AS INT) AS height,
           CAST(32 * 32 AS BIGINT) AS resized_n_bytes
    FROM documents
    """,
)
def x_multimodal_resize(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    mm = _mm.attach_binary_payload(docs, "text", modality="image", mime="image/png")
    resized = _mm.resize_images(mm, 32, 32, "doc_id")
    # drop the binary column from the checked output (canonicalizer can't
    # hash bytes); size + dims prove the resize contract
    return resized.select("doc_id", "width", "height", "resized_n_bytes")


@_register(
    "x_multimodal_frame_sample",
    "stubbed video frame sampling via mapInPandas: 1 row -> n_frames rows, "
    "frame hash sha256(payload||':frame:'||idx) replayed by the oracle "
    "(north-star)",
    """
    SELECT doc_id, CAST(i AS INT) AS frame_idx,
           sha256(text || ':frame:' || CAST(i AS VARCHAR)) AS frame_sha256
    FROM documents, range(4) t(i)
    """,
)
def x_multimodal_frame_sample(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    mm = _mm.attach_binary_payload(docs, "text", modality="video", mime="video/mp4")
    return _mm.sample_frames(mm, n_frames=4, id_col="doc_id")


# ---------------------------------------------------------------------------
# Corpus-construction operators (north-star): pairs -> clusters -> canonical
# corpus, tf-idf, stratified sampling, quality gate, token packing.
# ---------------------------------------------------------------------------

from ..operators import corpus as _cx
from ..operators.dedup import connected_components as _cc

_STOPWORDS_SQL = "['" + "','".join(_ts.STOPWORDS) + "']"


_CLUSTER_SQL = f"""
    WITH RECURSIVE
    toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    sh AS (SELECT doc_id, {_shingles_sql(3)} AS s FROM toks),
    ex0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
    low AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) <= {_MAX_DF}),
    exc AS (SELECT doc_id, ex0.g AS g FROM ex0 JOIN low USING (g)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM exc a JOIN exc b ON a.g = b.g AND a.doc_id < b.doc_id),
    sz AS (SELECT doc_id, s, len(s) AS ln FROM sh),
    pairs AS (
      SELECT doc_a, doc_b
      FROM (SELECT doc_a, doc_b,
                   len(list_intersect(sa.s, sb.s)) * 1.0 /
                   (sa.ln + sb.ln - len(list_intersect(sa.s, sb.s))) AS j
            FROM cand JOIN sz sa ON sa.doc_id = doc_a
                      JOIN sz sb ON sb.doc_id = doc_b)
      WHERE j >= 0.8),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node)
    SELECT node AS doc_id, min(lbl) AS cluster_id,
           CAST(min(lbl) = node AS INT) AS is_canonical
    FROM reach GROUP BY node
    """


# Cluster-label frame cache across catalog entries: the (pairs -> CC)
# labels are a PURE function of (table, shingle params) — deterministic
# candidates, exact verify, hash-min propagation — and TWO entries
# consume the identical frame (x_dedup_cluster's canonical table,
# x_dedup_keep_longest's survivor selection). Unlike the model cache
# the labels are DATA-sized, so the reuse vehicle is a materialized
# parquet table (written once per process, re-read by later consumers),
# not a driver-side value — the production analog: dedup labels are a
# materialized intermediate, never a recomputed CTE. Survives the
# harness's clearCache() between entries; bit-identical to a fresh run.
_CLUSTER_LABEL_PATHS: dict[tuple, str] = {}
_WINNOW_FPS_PATHS: dict[tuple, str] = {}


def _winnow_fps(spark, sf_dir: str, n: int = 3, w: int = 4) -> DataFrame:
    """Process-level winnowing-fingerprint index over documents, the
    _cluster_labels precedent: the fingerprint table is the reusable
    substring INDEX, so the two winnow entries (pairs + recall grader)
    compute it once per process and read the parquet thereafter — which
    is also, by construction, the materialized cut the Generate trap
    demands before any consumer explodes `fps` (a scan can't re-inline
    the gram pass)."""
    key = (sf_dir, n, w)
    if key not in _WINNOW_FPS_PATHS:
        import atexit
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix="spark_winnow_fps_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        with cache_scope():
            _dd.winnow_fingerprints(
                _t(spark, sf_dir, "documents"), "text", "doc_id", n=n, w=w
            ).write.mode("overwrite").parquet(path)
        _WINNOW_FPS_PATHS[key] = path
    return spark.read.parquet(_WINNOW_FPS_PATHS[key])


def _cluster_labels(spark, sf_dir: str) -> DataFrame:
    key = (sf_dir, 3, 0.8, _MAX_DF)
    if key not in _CLUSTER_LABEL_PATHS:
        import atexit
        import shutil
        import tempfile

        docs = _t(spark, sf_dir, "documents")
        path = tempfile.mkdtemp(prefix="spark_cluster_labels_")
        # process-lifetime cache, process-lifetime files: remove the
        # materialized labels on interpreter exit so repeated runs
        # don't accumulate parquet in the temp dir
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        # the scope releases the pair pipeline's and the propagation's
        # caches once the labels are on disk
        with cache_scope():
            pairs = _dd.ngram_jaccard_dedup_pairs(
                docs, "text", "doc_id", n=3, threshold=0.8, max_df=_MAX_DF
            )
            _cc(pairs, docs.select("doc_id")).write.mode("overwrite").parquet(path)
        _CLUSTER_LABEL_PATHS[key] = path
    return spark.read.parquet(_CLUSTER_LABEL_PATHS[key])


@_register(
    "x_dedup_cluster",
    "near-dup pairs -> connected components -> canonical doc per cluster "
    "(hash-min label propagation vs recursive-CTE oracle); labels "
    "materialized once per process and shared with keep_longest "
    "(north-star)",
    _CLUSTER_SQL,
)
def x_dedup_cluster(spark, sf_dir):
    return _cluster_labels(spark, sf_dir)


_SNM_WINDOW = 8


@_register(
    "x_dedup_sorted_neighborhood",
    "sorted-neighborhood near-dup (Hernández/Stolfo SNM): block by first "
    "token, rank by 3-token key within block, compare each doc with its "
    f"{_SNM_WINDOW - 1} successors only (linear candidate count by "
    "construction — no df/bucket caps needed), full-set Jaccard verify; "
    "the third classic candidate family next to shingle-join and LSH "
    "(north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    sh AS (SELECT doc_id, {_shingles_sql(3)} AS s FROM toks),
    keyed AS (SELECT doc_id, t[1] AS block,
                     array_to_string(t[1:3], ' ') AS skey FROM toks),
    rn AS (SELECT doc_id, block,
                  row_number() OVER (PARTITION BY block
                                     ORDER BY skey, doc_id) AS rn
           FROM keyed),
    cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                    greatest(a.doc_id, b.doc_id) AS doc_b
             FROM rn a JOIN rn b
             ON a.block = b.block
                AND b.rn BETWEEN a.rn + 1 AND a.rn + {_SNM_WINDOW - 1}),
    {_JACCARD_VERIFY_SQL}
    """,
)
def x_dedup_sorted_neighborhood(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = _dd.sorted_neighborhood_pairs(
        docs, "text", "doc_id", n=3, window=_SNM_WINDOW, threshold=0.8
    )
    return out


@_register(
    "x_dedup_cluster_star",
    "same clustering via large-star/small-star contraction (Kiveris "
    "SoCC'14): O(log n) rounds instead of O(diameter) — the variant for "
    "long-chain graphs (link graphs, session stitching) where hash-min "
    "propagation is round-bound at scale; identical oracle (north-star)",
    _CLUSTER_SQL,
)
def x_dedup_cluster_star(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = _dd.ngram_jaccard_dedup_pairs(
        docs, "text", "doc_id", n=3, threshold=0.8, max_df=_MAX_DF
    )
    return _dd.connected_components_star(pairs, docs.select("doc_id"))


@_register(
    "x_tfidf_top_terms",
    "top-5 terms per doc by tf-idf: two keyed aggregations + broadcast "
    "scalar + per-doc window, rank on rounded score (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    tf AS (SELECT doc_id, g AS term, count(*) AS tf
           FROM (SELECT doc_id, unnest(t) AS g FROM toks) GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (SELECT doc_id, term, tf,
                      round(tf * ln(n_docs * 1.0 / df), 4) AS tfidf
               FROM tf JOIN dfreq USING (term) CROSS JOIN n),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
               FROM scored)
    SELECT doc_id, term, tf, tfidf, rnk FROM ranked WHERE rnk <= 5
    """,
)
def x_tfidf_top_terms(spark, sf_dir):
    return _ts.tfidf_top_terms(
        _t(spark, sf_dir, "documents"), "text", "doc_id", 5
    )


# Downsample the majority language, keep half of the rarest: the standard
# rebalancing move on a skewed multilingual corpus (en is 44% of docs).
_SAMPLE_RATES = {"en": 0.1, "de": 0.3, "es": 0.3, "fr": 0.3, "zh": 0.5}


def _rates_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN '{_cx.rate_threshold_hex(r)}'"
        for k, r in sorted(_SAMPLE_RATES.items())
    )
    return f"CASE lang {whens} ELSE '{_cx.rate_threshold_hex(1.0)}' END"


@_register(
    "x_sample_stratified",
    "deterministic hash-based stratified sampling by language: one narrow "
    "filter, no shuffle, reproducible across engines/runs (north-star)",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE substr(md5('smpl:' || CAST(doc_id AS VARCHAR)), 1, 8)
          < {_rates_case_sql()}
    """,
)
def x_sample_stratified(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return _cx.stratified_sample(docs, "lang", "doc_id", _SAMPLE_RATES).select(
        "doc_id", "lang"
    )


@_register(
    "x_quality_filter",
    "C4-style rule-based quality gate with per-rule audit flags; narrow "
    "expressions only, runs at scan speed (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    stats AS (SELECT doc_id, len(t) AS n_tokens,
        list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t) AS avg_len,
        len(list_filter(t, x -> list_contains({_STOPWORDS_SQL}, x)))
            * 1.0 / len(t) AS stop_ratio
      FROM toks)
    SELECT doc_id, n_tokens,
      CAST(n_tokens >= 20 AS INT) AS long_enough,
      CAST(stop_ratio <= 0.5 AS INT) AS not_boilerplate,
      CAST(avg_len >= 3.0 AND avg_len <= 12.0 AS INT) AS sane_token_len,
      CAST(n_tokens >= 20 AS INT) * CAST(stop_ratio <= 0.5 AS INT)
        * CAST(avg_len >= 3.0 AND avg_len <= 12.0 AS INT) AS kept
    FROM stats
    """,
)
def x_quality_filter(spark, sf_dir):
    return _cx.quality_filter(_t(spark, sf_dir, "documents"), "text", "doc_id")


@_register(
    "x_pack_greedy",
    "token-budget packing into ~256-token contiguous bins, windowed per "
    "language partition so packing parallelizes (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, lang AS part,
                         len({_TOKS_SQL}) AS n_tokens FROM documents)
    SELECT doc_id, part, n_tokens,
           CAST(floor((sum(n_tokens) OVER (
                  PARTITION BY part ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                - n_tokens) / 256) AS BIGINT) AS bin_id
    FROM toks
    """,
)
def x_pack_greedy(spark, sf_dir):
    return _cx.pack_greedy(
        _t(spark, sf_dir, "documents"), "text", "doc_id", budget=256,
        partition_col="lang",
    )


_CHUNK, _STRIDE = 64, 48


@_register(
    "x_chunk_overlap",
    "fixed-size token-window chunking with overlap (doc -> training "
    "sequences / RAG passages): narrow explode, no shuffle (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    st AS (SELECT doc_id, t,
                  unnest(range(1, greatest(1, len(t) - {_CHUNK - 1}) + 1,
                               {_STRIDE})) AS s
           FROM toks)
    SELECT doc_id, CAST((s - 1) // {_STRIDE} AS BIGINT) AS chunk_id,
           array_to_string(t[s:s + {_CHUNK - 1}], ' ') AS chunk_text,
           len(t[s:s + {_CHUNK - 1}]) AS n_chunk_tokens
    FROM st
    """,
)
def x_chunk_overlap(spark, sf_dir):
    return _cx.chunk_tokens(
        _t(spark, sf_dir, "documents"), "text", "doc_id", _CHUNK, _STRIDE
    )


@_register(
    "x_repetition_stats",
    "Gopher-style within-doc repetition ratios (dup tokens / 2-grams / "
    "3-grams); narrow expressions at scan speed (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    g AS (SELECT doc_id, t,
      [array_to_string(t[i:i+1], ' ') FOR i IN range(1, greatest(1, len(t) - 1) + 1)] AS g2,
      [array_to_string(t[i:i+2], ' ') FOR i IN range(1, greatest(1, len(t) - 2) + 1)] AS g3
      FROM toks)
    SELECT doc_id, len(t) AS n_tokens,
      CASE WHEN len(t) > 0 THEN round(1.0 - len(list_distinct(t)) * 1.0 / len(t), 4) ELSE 0.0 END AS dup_token_ratio,
      CASE WHEN len(g2) > 0 THEN round(1.0 - len(list_distinct(g2)) * 1.0 / len(g2), 4) ELSE 0.0 END AS dup_2gram_ratio,
      CASE WHEN len(g3) > 0 THEN round(1.0 - len(list_distinct(g3)) * 1.0 / len(g3), 4) ELSE 0.0 END AS dup_3gram_ratio
    FROM g
    """,
)
def x_repetition_stats(spark, sf_dir):
    return _cx.repetition_stats(_t(spark, sf_dir, "documents"), "text", "doc_id")


# decontamination / relevance ranking / dim history ---------------------------

_EVAL_MAX_ID = 10  # eval set = doc_id < 10 by convention for the oracle


@_register(
    "x_decontaminate",
    "benchmark decontamination: flag training docs sharing any 3-gram "
    "with the eval set; broadcast eval shingles, equi-join on shingle "
    "(north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    sh AS (SELECT doc_id, {_shingles_sql(3)} AS s FROM toks),
    tr AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= {_EVAL_MAX_ID}),
    ev AS (SELECT doc_id AS eval_id, unnest(s) AS g FROM sh
           WHERE doc_id < {_EVAL_MAX_ID}),
    hits AS (SELECT doc_id,
                    count(DISTINCT tr.g) AS n_shared_shingles,
                    count(DISTINCT eval_id) AS n_eval_matches,
                    min(eval_id) AS first_eval
             FROM tr JOIN ev USING (g) GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(first_eval IS NOT NULL AS INT) AS contaminated,
           coalesce(n_shared_shingles, 0) AS n_shared_shingles,
           coalesce(n_eval_matches, 0) AS n_eval_matches,
           first_eval
    FROM (SELECT doc_id FROM documents WHERE doc_id >= {_EVAL_MAX_ID}) d
    LEFT JOIN hits USING (doc_id)
    """,
)
def x_decontaminate(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return _cx.decontaminate(
        docs.filter(F.col("doc_id") >= _EVAL_MAX_ID),
        docs.filter(F.col("doc_id") < _EVAL_MAX_ID),
        "text",
        "doc_id",
        n=3,
    )


_BM25_TERMS = ("spark", "join")
_BM25_K1, _BM25_B, _BM25_K = 1.2, 0.75, 10


@_register(
    "x_bm25_topk",
    "BM25 top-k relevance ranking for a term query — the ES matchQuery "
    "SCORING the reference's serving layer delegates (A4 text match "
    "reproduces the boolean side; this reproduces the ordering)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    lens AS (SELECT doc_id, len(t) AS dl FROM toks),
    corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
    tf AS (SELECT doc_id, g AS term, tfv AS tf FROM (
             SELECT doc_id,
                    unnest(list_intersect(t, {list(_BM25_TERMS)!r})) AS g,
                    t FROM toks),
           LATERAL (SELECT len(list_filter(t, x -> x = g)) AS tfv)),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT doc_id,
             round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * (tf * {_BM25_K1 + 1.0})
                   / (tf + {_BM25_K1} * ({1.0 - _BM25_B} + {_BM25_B} * dl / avgdl))), 4)
               AS score
      FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id)
           CROSS JOIN corpus
      GROUP BY doc_id)
    SELECT doc_id, score, rank FROM (
      SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM scored) WHERE rank <= {_BM25_K}
    """,
)
def x_bm25_topk(spark, sf_dir):
    return _ts.bm25_topk(
        _t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        list(_BM25_TERMS),
        k=_BM25_K,
        k1=_BM25_K1,
        b=_BM25_B,
    )


@_register(
    "j_scd2_history",
    "SCD2 dim history from a change log: one validity interval per value "
    "run per key, half-open [from, to), NULL to = current — the "
    "point-in-time upgrade of the reference's latest-only Redis dim store "
    "(K5 analog over events)",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    starts AS (SELECT user_id, event_type, ts, event_id FROM ordered
               WHERE prev IS NULL OR event_type <> prev)
    SELECT user_id, event_type,
           epoch_us(ts) AS valid_from_us,
           epoch_us(lead(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id)) AS valid_to_us,
           CAST(lead(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL AS INT)
             AS is_current
    FROM starts
    """,
)
def j_scd2_history(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    from ..operators.cdc import scd2_history

    return scd2_history(ev, "user_id", "event_type", "ts", order_col="event_id")


def _hex32_sql(h: str) -> str:
    """32-bit integer from an 8-hex-char column expression (same digit
    math as _sha_byte_sql, widened)."""
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1) "
        f"* {16 ** (7 - j)}"
        for j in range(8)
    )
    return f"({terms})"


@_register(
    "x_sample_temperature",
    "temperature-scaled mixture resampling (q ∝ p^alpha, alpha=0.5): "
    "rates derived from stratum counts, broadcast back, applied as one "
    "narrow hash-deterministic filter (north-star)",
    f"""
    WITH counts AS (SELECT lang, count(*) AS n_s FROM documents GROUP BY lang),
    rates AS (SELECT lang,
                     round(pow(n_s / (SELECT min(n_s) FROM counts), -0.5), 6)
                       AS keep_rate
              FROM counts),
    coord AS (SELECT doc_id, lang,
                     substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
              FROM documents)
    SELECT c.doc_id, c.lang, r.keep_rate
    FROM coord c JOIN rates r USING (lang)
    WHERE {_hex32_sql("h")} < CAST(floor(keep_rate * 4294967296) AS BIGINT)
    """,
)
def x_sample_temperature(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return _cx.temperature_resample(docs, "lang", "doc_id", alpha=0.5).select(
        "doc_id", "lang", "keep_rate"
    )


@_register(
    "x_pii_scrub",
    "regex PII redaction (email/ipv4/phone) with per-category audit "
    "counts; RE2∩Java-safe patterns, pure codegen expressions, no UDF "
    "(north-star)",
    """
    WITH s0 AS (SELECT doc_id, text AS t FROM documents),
    s1 AS (SELECT doc_id,
             len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
             regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t
           FROM s0),
    s2 AS (SELECT doc_id, n_email,
             len(regexp_extract_all(t,
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ipv4,
             regexp_replace(t,
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
               '<IP>', 'g') AS t
           FROM s1),
    s3 AS (SELECT doc_id, n_email, n_ipv4,
             len(regexp_extract_all(t, '\\+?\\d[\\d\\- ]{6,}\\d')) AS n_phone,
             regexp_replace(t, '\\+?\\d[\\d\\- ]{6,}\\d', '<PHONE>', 'g') AS t
           FROM s2)
    SELECT doc_id, t AS text, n_email, n_ipv4, n_phone FROM s3
    """,
)
def x_pii_scrub(spark, sf_dir):
    return _cx.pii_scrub(_t(spark, sf_dir, "documents"), "text", "doc_id")


@_register(
    "x_vocab_stats",
    "one-row corpus vocabulary profile (vocab size, tokens, hapax ratio, "
    "top-term share): two partial-agg passes, no window, no collect "
    "(north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    freq AS (SELECT term, count(*) AS freq
             FROM (SELECT unnest(t) AS term FROM toks) GROUP BY term)
    SELECT CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(freq) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS hapax_count,
           round(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS hapax_ratio,
           round(max(freq) * 1.0 / sum(freq), 6) AS top1_share
    FROM freq
    """,
)
def x_vocab_stats(spark, sf_dir):
    return _ts.vocab_stats(_t(spark, sf_dir, "documents"), "text", "doc_id")


@_register(
    "x_zipf_spectrum",
    "Zipf frequency spectrum: terms and token mass per log2(freq) bucket "
    "— rank-free (no global vocabulary sort), one linear shuffle plus a "
    "tiny groupBy (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    freq AS (SELECT term, count(*) AS freq
             FROM (SELECT unnest(t) AS term FROM toks) GROUP BY term),
    spec AS (SELECT CAST(floor(log2(freq)) AS BIGINT) AS freq_bucket,
                    CAST(count(*) AS BIGINT) AS n_terms,
                    CAST(sum(freq) AS BIGINT) AS n_occurrences
             FROM freq GROUP BY 1)
    SELECT freq_bucket, n_terms, n_occurrences,
           round(n_occurrences * 1.0 /
                 (SELECT sum(n_occurrences) FROM spec), 6) AS token_share
    FROM spec
    """,
)
def x_zipf_spectrum(spark, sf_dir):
    return _ts.zipf_spectrum(_t(spark, sf_dir, "documents"), "text", "doc_id")


_L2 = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
)


def _pq_sql(
    m: int, sd: int, kb: int, iters: int, q_max: int, k: int, rerank: int
) -> str:
    """Unrolled product-quantization pipeline as one DuckDB statement:
    per-subspace Lloyd training (same determinism recipe as _ivf_sql —
    id-ordered seeds, L2 assignment with lowest-cid tie break, means
    quantized to 1e-6), database encode, ADC scoring on the ROUNDED
    approx cosine, exact-cosine re-rank of the shortlist. All m
    subspaces train in the same CTEs keyed by a subspace column s —
    the SQL mirror of the single posexplode aggregate in pq_codebooks."""
    assign = (
        "(SELECT *, row_number() OVER (PARTITION BY id, s "
        "ORDER BY d ASC, cid ASC) AS rn FROM {src})"
    )
    parts = [
        "WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"ss AS (SELECT unnest(range(0, {m})) AS s)",
        f"subs AS (SELECT id, s, v[(s*{sd}+1):(s*{sd}+{sd})] AS vs "
        "FROM e CROSS JOIN ss)",
        f"b0 AS (SELECT s, row_number() OVER (PARTITION BY s ORDER BY id) - 1 "
        f"AS cid, vs AS c FROM subs "
        f"WHERE id IN (SELECT id FROM e ORDER BY id LIMIT {kb}))",
    ]
    prev = "b0"
    for i in range(1, iters + 1):
        parts.append(
            f"s{i} AS (SELECT subs.id, subs.s, subs.vs, b.cid, "
            f"{_L2.format(a='subs.vs', b='b.c')} AS d "
            f"FROM subs JOIN {prev} b ON b.s = subs.s)"
        )
        parts.append(
            f"a{i} AS (SELECT id, s, vs, cid FROM "
            f"{assign.format(src=f's{i}')} WHERE rn = 1)"
        )
        parts.append(
            f"m{i} AS (SELECT s, cid, pos, round(avg(x), 6) AS mv FROM "
            f"(SELECT s, cid, unnest(vs) AS x, "
            f"unnest(range(1, len(vs) + 1)) AS pos FROM a{i}) "
            f"GROUP BY s, cid, pos)"
        )
        parts.append(
            f"b{i} AS (SELECT b.s, b.cid, coalesce(mm.c, b.c) AS c "
            f"FROM {prev} b LEFT JOIN (SELECT s, cid, list(mv ORDER BY pos) "
            f"AS c FROM m{i} GROUP BY s, cid) mm "
            f"ON mm.s = b.s AND mm.cid = b.cid)"
        )
        prev = f"b{i}"
    parts += [
        f"sf AS (SELECT subs.id, subs.s, subs.vs, b.cid, "
        f"{_L2.format(a='subs.vs', b='b.c')} AS d "
        f"FROM subs JOIN {prev} b ON b.s = subs.s)",
        "enc AS (SELECT id AS neighbor_id, s, cid FROM "
        f"{assign.format(src='sf')} WHERE rn = 1)",
        f"tabs AS (SELECT qs.id AS query_id, qs.s, b.cid, "
        f"{_DOT.format(a='qs.vs', b='b.c')} AS dp "
        f"FROM subs qs JOIN {prev} b ON b.s = qs.s WHERE qs.id < {q_max})",
        f"qn AS (SELECT id AS query_id, sqrt({_DOT.format(a='v', b='v')}) "
        f"AS qnorm FROM e WHERE id < {q_max})",
        f"cn AS (SELECT s, cid, {_DOT.format(a='c', b='c')} AS n2 FROM {prev})",
        "pairs AS (SELECT t.query_id, enc.neighbor_id, "
        "sum(t.dp) AS adot, sum(cn.n2) AS dbn2 "
        "FROM enc JOIN tabs t ON t.s = enc.s AND t.cid = enc.cid "
        "JOIN cn ON cn.s = enc.s AND cn.cid = enc.cid "
        "WHERE enc.neighbor_id <> t.query_id "
        "GROUP BY t.query_id, enc.neighbor_id)",
        "scored AS (SELECT p.query_id, p.neighbor_id, "
        "round(p.adot / (qn.qnorm * sqrt(p.dbn2)), 4) AS approx_cos "
        "FROM pairs p JOIN qn ON qn.query_id = p.query_id)",
        "short AS (SELECT query_id, neighbor_id FROM "
        "(SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY approx_cos DESC, neighbor_id) AS rank FROM scored) "
        f"WHERE rank <= {rerank})",
        f"ex AS (SELECT s.query_id, s.neighbor_id, "
        f"round({_cos_sql('qe.v', 'ne.v')}, 4) AS sim "
        f"FROM short s JOIN e qe ON qe.id = s.query_id "
        f"JOIN e ne ON ne.id = s.neighbor_id)",
    ]
    return (
        ",\n".join(parts)
        + "\nSELECT query_id, neighbor_id, rank, sim FROM "
        "(SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY sim DESC, neighbor_id) AS rank FROM ex) "
        f"WHERE rank <= {k}"
    )


_PQ_M, _PQ_KB, _PQ_ITERS = 16, 16, 2


@_register(
    "x_knn_pq",
    "product-quantization top-k with exact re-rank: per-subspace "
    "deterministic codebooks, m-byte codes (compressed-domain prune), "
    "ADC scoring, raw vectors touched only for the |Q| x R shortlist — "
    "oracle replays training+encode+ADC+re-rank as unrolled CTEs "
    "(north-star scale path)",
    _pq_sql(m=_PQ_M, sd=4, kb=_PQ_KB, iters=_PQ_ITERS, q_max=20, k=3, rerank=25),
)
def x_knn_pq(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    books = _trained("pq", spark, sf_dir, m=_PQ_M, k=_PQ_KB, iters=_PQ_ITERS)
    return _sim.pq_topk(
        emb, emb.filter(F.col("vec_id") < 20), books, k=3, rerank=25
    )


@_register(
    "x_dedup_containment",
    "near-containment pairs |A∩B|/min(|A|,|B|): the near-dup axis "
    "Jaccard misses (short doc pasted inside a long one); df-capped "
    "candidates, exact full-set verify (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    sh AS (SELECT doc_id, {_shingles_sql(3)} AS s FROM toks),
    ex0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
    low AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) <= {_MAX_DF}),
    exc AS (SELECT doc_id, ex0.g AS g FROM ex0 JOIN low USING (g)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM exc a JOIN exc b ON a.g = b.g AND a.doc_id < b.doc_id),
    sz AS (SELECT doc_id, s, len(s) AS ln FROM sh),
    scored AS (
      SELECT doc_a, doc_b,
             round(len(list_intersect(sa.s, sb.s)) * 1.0 /
                   least(sa.ln, sb.ln), 4) AS containment
      FROM cand JOIN sz sa ON sa.doc_id = doc_a
                JOIN sz sb ON sb.doc_id = doc_b)
    SELECT doc_a, doc_b, containment FROM scored WHERE containment >= 0.9
    """,
)
def x_dedup_containment(spark, sf_dir):
    return _dd.containment_dedup_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        n=3, threshold=0.9, max_df=_MAX_DF,
    )


@_register(
    "x_dedup_edit_distance",
    "Levenshtein near-dup pairs on a bounded 80-char key: ED-Join "
    "symmetric prefix filter (rarest d*q+1 gram occurrences per key, "
    "global (df,gram) order) — EXACT candidate generation, length "
    "filter at the join, levenshtein verify on candidates only "
    "(north-star)",
    """
    WITH keys AS (SELECT doc_id AS id, substr(lower(text), 1, 80) AS k,
                         length(substr(lower(text), 1, 80)) AS len
                  FROM documents),
    g AS (SELECT id, len, t.i AS pos, substr(k, CAST(t.i AS INT), 3) AS gram
          FROM keys, LATERAL (SELECT unnest(range(1, greatest(len - 2, 1)
                                                  + 1)) AS i) t),
    d AS (SELECT gram, count(*) AS gdf FROM g GROUP BY gram),
    p AS (SELECT g.id, g.len, g.gram,
                 row_number() OVER (PARTITION BY g.id
                                    ORDER BY d.gdf, g.gram, g.pos) AS rk
          FROM g JOIN d USING (gram)),
    pre AS (SELECT id, len, gram FROM p WHERE rk <= 7),
    shorts AS (SELECT id, len FROM keys WHERE len < 9),
    sp AS (SELECT id, len, len + t.d AS probe
           FROM shorts, LATERAL (SELECT unnest(range(0, 3)) AS d) t),
    cand AS (
      SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.id AS doc_a, b.id AS doc_b
        FROM pre a JOIN pre b
        ON a.gram = b.gram AND a.id < b.id AND abs(a.len - b.len) <= 2
        UNION ALL
        SELECT least(sa.id, sb.id) AS doc_a, greatest(sa.id, sb.id) AS doc_b
        FROM sp sa JOIN shorts sb ON sa.probe = sb.len AND sa.id <> sb.id
      )),
    v AS (SELECT doc_a, doc_b, levenshtein(ka.k, kb.k) AS dist
          FROM cand JOIN keys ka ON ka.id = doc_a
                    JOIN keys kb ON kb.id = doc_b)
    SELECT doc_a, doc_b, CAST(dist AS BIGINT) AS dist FROM v WHERE dist <= 2
    """,
)
def x_dedup_edit_distance(spark, sf_dir):
    pairs = _dd.edit_distance_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        max_dist=2, q=3, key_len=80,
    )
    return pairs.select("doc_a", "doc_b", F.col("dist").cast("bigint").alias("dist"))


@_register(
    "x_inverted_index",
    "posting-list inverted index: per-term df, total tf, and the first "
    "20 doc ids as a serialized posting sample — cap applied BEFORE any "
    "list materializes so hot terms never buffer O(corpus) state "
    "(north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    tf AS (SELECT doc_id, g AS term, count(*) AS tf
           FROM (SELECT doc_id, unnest(t) AS g FROM toks) GROUP BY 1, 2),
    stats AS (SELECT term, count(*) AS df,
                     CAST(sum(tf) AS BIGINT) AS total_tf
              FROM tf GROUP BY term),
    top AS (SELECT term, doc_id,
                   row_number() OVER (PARTITION BY term ORDER BY doc_id) rk
            FROM tf),
    post AS (SELECT term,
                    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                      AS postings
             FROM top WHERE rk <= 20 GROUP BY term)
    SELECT term, df, total_tf, postings FROM stats JOIN post USING (term)
    """,
)
def x_inverted_index(spark, sf_dir):
    return _ts.inverted_index(
        _t(spark, sf_dir, "documents"), "text", "doc_id", postings_cap=20
    )


@_register(
    "x_shard_assign",
    "deterministic corpus shuffle + shard assignment (seeded global "
    "permutation as (shard, pos)): narrow hash, one uniform per-shard "
    "rank window, reproducible across engines/epochs (north-star)",
    f"""
    WITH h AS (SELECT doc_id,
                      md5('shard:' || CAST(doc_id AS VARCHAR)) AS hh
               FROM documents),
    s AS (SELECT doc_id, hh,
                 CAST({_hex32_sql("substr(hh, 1, 8)")} % 8 AS INT) AS shard
          FROM h)
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id)
                AS BIGINT) AS pos
    FROM s
    """,
)
def x_shard_assign(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = _cx.shard_assign(docs, "doc_id", n_shards=8, salt="shard")
    return out.select("doc_id", "shard", F.col("pos").cast("bigint").alias("pos"))


def _pagerank_sql(iters: int, d: float, rnd: int, out_rnd: int) -> str:
    """Unrolled fixed-iteration PageRank over the symmetrized
    part--supplier co-supply graph, replaying pagerank()'s rounded
    recurrence (round each iteration to `rnd`) so float summation-order
    drift can never cross engines."""
    parts = [
        "e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem)",
        "edges AS (SELECT 'p:' || CAST(p AS VARCHAR) AS src,"
        " 's:' || CAST(s AS VARCHAR) AS dst FROM e0"
        " UNION ALL SELECT 's:' || CAST(s AS VARCHAR),"
        " 'p:' || CAST(p AS VARCHAR) FROM e0)",
        "nodes AS (SELECT DISTINCT src AS node FROM edges)",
        "deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst AS node, r.r / dg.deg AS cr"
            f" FROM r{i - 1} r JOIN deg dg ON dg.node = r.node"
            f" JOIN edges e ON e.src = r.node)"
        )
        parts.append(
            f"r{i} AS (SELECT n.node,"
            f" round((1.0 - {d}) / (SELECT n FROM nn)"
            f" + {d} * coalesce(sum(c.cr), 0), {rnd}) AS r"
            f" FROM nodes n LEFT JOIN c{i} c ON c.node = n.node"
            f" GROUP BY n.node)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, round(r, {out_rnd}) AS pagerank FROM r{iters}"
    )


@_register(
    "x_pagerank",
    "fixed-iteration PageRank over the symmetrized part-supplier "
    "co-supply graph: per round one rank-edge equi-join + one dst "
    "groupBy, per-iteration rounding pins cross-engine float parity "
    "(north-star; oracle = unrolled rounded recurrence)",
    _pagerank_sql(iters=3, d=0.85, rnd=9, out_rnd=6),
)
def x_pagerank(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    p = F.concat(F.lit("p:"), F.col("p").cast("string"))
    s = F.concat(F.lit("s:"), F.col("s").cast("string"))
    edges = e0.select(p.alias("src"), s.alias("dst")).union(
        e0.select(s.alias("src"), p.alias("dst"))
    )
    return _gr.pagerank(edges, iters=3, damping=0.85, inter_round=9, out_round=6)


def _pagerank_dangling_sql(iters: int, d: float, rnd: int, out_rnd: int) -> str:
    """Unrolled PageRank WITH dangling-mass redistribution over the
    DIRECTED part->supplier graph (supplier nodes have no out-edges, so
    every 's:' node is dangling — the graph that makes the correction
    observable). D_i is rounded to `rnd` like the ranks; the recurrence
    mirrors pagerank(redistribute_dangling=True) term for term."""
    parts = [
        "e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem)",
        "edges AS (SELECT 'p:' || CAST(p AS VARCHAR) AS src,"
        " 's:' || CAST(s AS VARCHAR) AS dst FROM e0)",
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        "deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src)",
        "dang AS (SELECT n.node FROM nodes n"
        " WHERE NOT EXISTS (SELECT 1 FROM deg g WHERE g.node = n.node))",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"d{i} AS (SELECT round(coalesce(sum(r.r), 0), {rnd}) AS dm"
            f" FROM r{i - 1} r JOIN dang g ON g.node = r.node)"
        )
        parts.append(
            f"c{i} AS (SELECT e.dst AS node, r.r / dg.deg AS cr"
            f" FROM r{i - 1} r JOIN deg dg ON dg.node = r.node"
            f" JOIN edges e ON e.src = r.node)"
        )
        parts.append(
            f"r{i} AS (SELECT n.node,"
            f" round((1.0 - {d}) / (SELECT n FROM nn)"
            f" + {d} * (coalesce(sum(c.cr), 0)"
            f" + (SELECT dm FROM d{i}) / (SELECT n FROM nn)), {rnd}) AS r"
            f" FROM nodes n LEFT JOIN c{i} c ON c.node = n.node"
            f" GROUP BY n.node)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, round(r, {out_rnd}) AS pagerank FROM r{iters}"
    )


@_register(
    "x_pagerank_dangling",
    "PageRank with dangling-mass redistribution on the directed "
    "part->supplier graph (every supplier node is dangling): one extra "
    "1-row broadcast scalar aggregate per iteration, no driver "
    "round-trip (north-star; oracle = unrolled rounded recurrence)",
    _pagerank_dangling_sql(iters=3, d=0.85, rnd=9, out_rnd=6),
)
def x_pagerank_dangling(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    edges = e0.select(
        F.concat(F.lit("p:"), F.col("p").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("s").cast("string")).alias("dst"),
    )
    return _gr.pagerank(
        edges,
        iters=3,
        damping=0.85,
        inter_round=9,
        out_round=6,
        redistribute_dangling=True,
    )


def _ivfpq_sql(
    n_cent: int,
    ivf_iters: int,
    m: int,
    sd: int,
    kb: int,
    pq_iters: int,
    q_max: int,
    k: int,
    n_probe: int,
    rerank: int,
) -> str:
    """IVF-PQ oracle: BOTH deterministic trainings (coarse cosine
    k-means from _ivf_sql, per-subspace L2 Lloyd from _pq_sql) unrolled
    into one statement, then probe -> in-cell ADC -> exact re-rank.
    CTE families are prefixed (ic*/is*/ia*/im* coarse, b*/ps*/pa*/pm*
    subspace) so the two recipes coexist."""
    ivf_assign = (
        "(SELECT *, row_number() OVER (PARTITION BY {key} "
        "ORDER BY sim DESC, cid) AS rn FROM {src})"
    )
    pq_assign = (
        "(SELECT *, row_number() OVER (PARTITION BY id, s "
        "ORDER BY d ASC, cid ASC) AS rn FROM {src})"
    )
    parts = [
        "WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)",
        # --- coarse quantizer training (cosine k-means-lite) ---
        "ic0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v AS c "
        f"FROM (SELECT id, v FROM e ORDER BY id LIMIT {n_cent}))",
    ]
    prev = "ic0"
    for i in range(1, ivf_iters + 1):
        parts.append(
            f"is{i} AS (SELECT e.id, e.v, {prev}.cid, "
            f"{_cos_sql('e.v', prev + '.c')} AS sim FROM e CROSS JOIN {prev})"
        )
        parts.append(
            f"ia{i} AS (SELECT id, v, cid FROM "
            f"{ivf_assign.format(key='id', src=f'is{i}')} WHERE rn = 1)"
        )
        parts.append(
            f"im{i} AS (SELECT cid, pos, round(avg(x), 6) AS mm FROM "
            f"(SELECT cid, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS pos "
            f"FROM ia{i}) GROUP BY cid, pos)"
        )
        parts.append(
            f"ic{i} AS (SELECT {prev}.cid, coalesce(nc.c, {prev}.c) AS c "
            f"FROM {prev} LEFT JOIN (SELECT cid, list(mm ORDER BY pos) AS c "
            f"FROM im{i} GROUP BY cid) nc ON nc.cid = {prev}.cid)"
        )
        prev = f"ic{i}"
    cf = prev
    parts += [
        # corpus coarse assignment: every vector's inverted-list id
        f"csf AS (SELECT e.id, e.v, {cf}.cid, "
        f"{_cos_sql('e.v', cf + '.c')} AS sim FROM e CROSS JOIN {cf})",
        "casg AS (SELECT id, cid AS ccid FROM "
        f"{ivf_assign.format(key='id', src='csf')} WHERE rn = 1)",
        # --- PQ codebook training (per-subspace L2 Lloyd) ---
        f"ss AS (SELECT unnest(range(0, {m})) AS s)",
        f"subs AS (SELECT id, s, v[(s*{sd}+1):(s*{sd}+{sd})] AS vs "
        "FROM e CROSS JOIN ss)",
        f"b0 AS (SELECT s, row_number() OVER (PARTITION BY s ORDER BY id) - 1 "
        f"AS cid, vs AS c FROM subs "
        f"WHERE id IN (SELECT id FROM e ORDER BY id LIMIT {kb}))",
    ]
    prev = "b0"
    for i in range(1, pq_iters + 1):
        parts.append(
            f"ps{i} AS (SELECT subs.id, subs.s, subs.vs, b.cid, "
            f"{_L2.format(a='subs.vs', b='b.c')} AS d "
            f"FROM subs JOIN {prev} b ON b.s = subs.s)"
        )
        parts.append(
            f"pa{i} AS (SELECT id, s, vs, cid FROM "
            f"{pq_assign.format(src=f'ps{i}')} WHERE rn = 1)"
        )
        parts.append(
            f"pm{i} AS (SELECT s, cid, pos, round(avg(x), 6) AS mv FROM "
            f"(SELECT s, cid, unnest(vs) AS x, "
            f"unnest(range(1, len(vs) + 1)) AS pos FROM pa{i}) "
            f"GROUP BY s, cid, pos)"
        )
        parts.append(
            f"b{i} AS (SELECT b.s, b.cid, coalesce(nb.c, b.c) AS c "
            f"FROM {prev} b LEFT JOIN (SELECT s, cid, list(mv ORDER BY pos) "
            f"AS c FROM pm{i} GROUP BY s, cid) nb "
            f"ON nb.s = b.s AND nb.cid = b.cid)"
        )
        prev = f"b{i}"
    bf = prev
    parts += [
        # database encode on the trained codebooks
        f"psf AS (SELECT subs.id, subs.s, subs.vs, b.cid, "
        f"{_L2.format(a='subs.vs', b='b.c')} AS d "
        f"FROM subs JOIN {bf} b ON b.s = subs.s)",
        "enc AS (SELECT id AS neighbor_id, s, cid FROM "
        f"{pq_assign.format(src='psf')} WHERE rn = 1)",
        # query probe of n_probe nearest coarse cells
        f"qs AS (SELECT e.id AS query_id, {cf}.cid, "
        f"{_cos_sql('e.v', cf + '.c')} AS sim FROM e CROSS JOIN {cf} "
        f"WHERE e.id < {q_max})",
        "probe AS (SELECT query_id, cid AS ccid FROM "
        f"{ivf_assign.format(key='query_id', src='qs')} WHERE rn <= {n_probe})",
        # per-query ADC tables + norms
        f"tabs AS (SELECT qs2.id AS query_id, qs2.s, b.cid, "
        f"{_DOT.format(a='qs2.vs', b='b.c')} AS dp "
        f"FROM subs qs2 JOIN {bf} b ON b.s = qs2.s WHERE qs2.id < {q_max})",
        f"qn AS (SELECT id AS query_id, sqrt({_DOT.format(a='v', b='v')}) "
        f"AS qnorm FROM e WHERE id < {q_max})",
        f"cn AS (SELECT s, cid, {_DOT.format(a='c', b='c')} AS n2 FROM {bf})",
        # candidates = corpus of the probed cells only (the IVF prune)
        "pairs AS (SELECT t.query_id, enc.neighbor_id, "
        "sum(t.dp) AS adot, sum(cn.n2) AS dbn2 "
        "FROM probe p "
        "JOIN casg ON casg.ccid = p.ccid "
        "JOIN enc ON enc.neighbor_id = casg.id "
        "JOIN tabs t ON t.query_id = p.query_id "
        "AND t.s = enc.s AND t.cid = enc.cid "
        "JOIN cn ON cn.s = enc.s AND cn.cid = enc.cid "
        "WHERE enc.neighbor_id <> p.query_id "
        "GROUP BY t.query_id, enc.neighbor_id)",
        "scored AS (SELECT p.query_id, p.neighbor_id, "
        "round(p.adot / (qn.qnorm * sqrt(p.dbn2)), 4) AS approx_cos "
        "FROM pairs p JOIN qn ON qn.query_id = p.query_id)",
        "short AS (SELECT query_id, neighbor_id FROM "
        "(SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY approx_cos DESC, neighbor_id) AS rank FROM scored) "
        f"WHERE rank <= {rerank})",
        f"ex AS (SELECT s.query_id, s.neighbor_id, "
        f"round({_cos_sql('qe.v', 'ne.v')}, 4) AS sim "
        f"FROM short s JOIN e qe ON qe.id = s.query_id "
        f"JOIN e ne ON ne.id = s.neighbor_id)",
    ]
    return (
        ",\n".join(parts)
        + "\nSELECT query_id, neighbor_id, rank, sim FROM "
        "(SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY sim DESC, neighbor_id) AS rank FROM ex) "
        f"WHERE rank <= {k}"
    )


@_register(
    "x_knn_ivfpq",
    "IVF-PQ (FAISS IVFPQ topology): coarse cells prune candidates via an "
    "equi-join on the inverted-list id, PQ codes score in the compressed "
    "domain within probed cells, raw vectors touched only for the exact "
    "re-rank shortlist — oracle replays BOTH trainings + probe + ADC + "
    "re-rank (north-star scale path)",
    _ivfpq_sql(
        n_cent=8, ivf_iters=3, m=_PQ_M, sd=4, kb=_PQ_KB, pq_iters=_PQ_ITERS,
        q_max=20, k=3, n_probe=2, rerank=25,
    ),
)
def x_knn_ivfpq(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cents = _trained("ivf", spark, sf_dir, n_centroids=8, iters=3)
    books = _trained("pq", spark, sf_dir, m=_PQ_M, k=_PQ_KB, iters=_PQ_ITERS)
    return _sim.ivfpq_topk(
        emb, emb.filter(F.col("vec_id") < 20), cents, books,
        k=3, n_probe=2, rerank=25,
    )


_BIGRAMS_SQL = (
    "CASE WHEN len(t) >= 2 THEN "
    "list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]) "
    "ELSE [] END"
)


@_register(
    "x_ngram_freq",
    "corpus bigram frequency table (freq >= 5): occurrence + doc counts "
    "per gram, one explode + one partial-agg'd groupBy, singleton tail "
    "dies in the combiner (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    grams AS (SELECT doc_id, unnest({_BIGRAMS_SQL}) AS gram FROM toks)
    SELECT gram, count(*) AS freq,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM grams GROUP BY gram HAVING count(*) >= 5
    """,
)
def x_ngram_freq(spark, sf_dir):
    return _ts.ngram_freq(
        _t(spark, sf_dir, "documents"), "text", "doc_id", min_count=5
    )


@_register(
    "x_boilerplate_score",
    "per-doc boilerplate ratio: share of bigram occurrences whose corpus "
    "freq >= 50 — corpus head thresholded BEFORE the join back to docs "
    "(north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    grams AS (SELECT doc_id, unnest({_BIGRAMS_SQL}) AS gram FROM toks),
    common AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 50)
    SELECT g.doc_id, count(*) AS n_bigrams,
           round(sum(CASE WHEN c.gram IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS common_ratio
    FROM grams g LEFT JOIN common c ON c.gram = g.gram
    GROUP BY g.doc_id
    """,
)
def x_boilerplate_score(spark, sf_dir):
    return _ts.boilerplate_score(
        _t(spark, sf_dir, "documents"), "text", "doc_id", common_min=50
    )


def _cms_bucket_sql(row_expr: str, key_expr: str, w: int) -> str:
    h8 = (
        f"substr(md5('cms' || CAST({row_expr} AS VARCHAR) || ':' || "
        f"CAST({key_expr} AS VARCHAR)), 1, 8)"
    )
    return f"({_hex32_sql(h8)} % {w})"


_CMS_D, _CMS_W = 4, 256


@_register(
    "x_cms_user_counts",
    "count-min sketch per-user event counts vs exact: d x w cell table "
    "(fixed size regardless of key cardinality, mergeable cell-wise), "
    "d-probe min estimate, overcount-only guarantee visible against the "
    "true counts (north-star)",
    f"""
    WITH rows AS (SELECT unnest(range(0, {_CMS_D})) AS row),
    cells AS (SELECT r.row,
                     {_cms_bucket_sql('r.row', 'e.user_id', _CMS_W)} AS bucket
              FROM events e CROSS JOIN rows r),
    sk AS (SELECT row, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2),
    keys AS (SELECT DISTINCT user_id FROM events),
    probes AS (SELECT k.user_id, r.row,
                      {_cms_bucket_sql('r.row', 'k.user_id', _CMS_W)} AS bucket
               FROM keys k CROSS JOIN rows r),
    est AS (SELECT user_id, min(cnt) AS est
            FROM probes JOIN sk USING (row, bucket) GROUP BY user_id),
    tru AS (SELECT user_id, count(*) AS true_cnt FROM events GROUP BY user_id)
    SELECT user_id, est, true_cnt FROM est JOIN tru USING (user_id)
    """,
)
def x_cms_user_counts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    sketch = _sk.cms_sketch(ev, "user_id", d=_CMS_D, w=_CMS_W)
    keys = ev.select("user_id").distinct()
    est = _sk.cms_estimate(keys, sketch, "user_id", d=_CMS_D, w=_CMS_W)
    tru = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_cnt"))
    return est.join(tru, "user_id").select("user_id", "est", "true_cnt")


@_register(
    "x_hll_distinct_users",
    "HyperLogLog distinct-user estimate vs exact: 64 max-rank registers "
    "(fixed-size mergeable state, no distinct shuffle of the key domain), "
    "integer-only register/rank math over the portable md5 hash so the "
    "oracle is exact, Flajolet linear-counting small-range correction "
    "(north-star)",
    f"""
    WITH h AS (SELECT substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 8)
                      AS h8 FROM events),
    b AS (SELECT ({_hex32_sql('h8')} % 64) AS reg,
                 ({_hex32_sql('h8')} // 64) AS w FROM h),
    r AS (SELECT reg,
                 max(CASE WHEN w = 0 THEN 27
                          ELSE 27 - length(bin(w)) END) AS mx
          FROM b GROUP BY reg),
    spine AS (SELECT unnest(range(0, 64)) AS reg),
    regs AS (SELECT coalesce(r.mx, 0) AS mx
             FROM spine s LEFT JOIN r ON r.reg = s.reg),
    agg AS (SELECT sum(pow(2.0, -mx)) AS z,
                   sum(CASE WHEN mx = 0 THEN 1 ELSE 0 END) AS zeros
            FROM regs)
    SELECT round(CASE WHEN (0.709 * 64 * 64 / z) <= 160.0 AND zeros > 0
                      THEN 64.0 * ln(64.0 / zeros)
                      ELSE 0.709 * 64 * 64 / z END, 4) AS hll_estimate,
           (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
               AS true_distinct
    FROM agg
    """,
)
def x_hll_distinct_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    est = _sk.hll_estimate(ev, "user_id", m=64)
    tru = ev.agg(F.count_distinct("user_id").alias("true_distinct"))
    return est.crossJoin(tru)


@_register(
    "a_funnel_daily",
    "strictly-ordered daily funnel view -> click -> purchase: per-stage "
    "first-times via keyed min aggregations + equi-joins (each stage's "
    "min is conditioned on following the previous stage's time), daily "
    "user counts + conversion",
    """
    WITH e AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt,
                      event_type, epoch_ms(ts) AS tms FROM events),
    v AS (SELECT user_id, dt, min(tms) AS t1 FROM e
          WHERE event_type = 'view' GROUP BY 1, 2),
    c AS (SELECT e.user_id, e.dt, min(e.tms) AS t2 FROM e
          JOIN v ON v.user_id = e.user_id AND v.dt = e.dt
          WHERE e.event_type = 'click' AND e.tms > v.t1 GROUP BY 1, 2),
    p AS (SELECT e.user_id, e.dt, min(e.tms) AS t3 FROM e
          JOIN c ON c.user_id = e.user_id AND c.dt = e.dt
          WHERE e.event_type = 'purchase' AND e.tms > c.t2 GROUP BY 1, 2)
    SELECT v.dt,
           CAST(count(*) AS BIGINT) AS n_view_users,
           CAST(count(c.t2) AS BIGINT) AS n_click_users,
           CAST(count(p.t3) AS BIGINT) AS n_purchase_users,
           round(count(p.t3) * 1.0 / count(*), 4) AS conversion
    FROM v LEFT JOIN c ON c.user_id = v.user_id AND c.dt = v.dt
           LEFT JOIN p ON p.user_id = v.user_id AND p.dt = v.dt
    GROUP BY v.dt
    """,
)
def a_funnel_daily(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd").alias("dt"),
        "event_type",
        F.unix_millis("ts").alias("tms"),
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "dt")
        .agg(F.min("tms").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, ["user_id", "dt"])
        .filter(F.col("tms") > F.col("t1"))
        .groupBy("user_id", "dt")
        .agg(F.min("tms").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, ["user_id", "dt"])
        .filter(F.col("tms") > F.col("t2"))
        .groupBy("user_id", "dt")
        .agg(F.min("tms").alias("t3"))
    )
    return (
        v.join(c, ["user_id", "dt"], "left")
        .join(p, ["user_id", "dt"], "left")
        .groupBy("dt")
        .agg(
            F.count(F.lit(1)).alias("n_view_users"),
            F.count("t2").alias("n_click_users"),
            F.count("t3").alias("n_purchase_users"),
            F.round(F.count("t3") / F.count(F.lit(1)), 4).alias("conversion"),
        )
    )


@_register(
    "a_grouping_sets",
    "multi-level aggregate in ONE pass: GROUPING SETS ((status,priority),"
    "(status),()) with grouping_id disambiguating subtotal NULLs — the "
    "serving-layer drilldown shape (total + per-status + per-cell) "
    "without three scans or a union",
    """
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS ct,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    """,
)
def a_grouping_sets(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("ct"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "gid",
            "ct",
            "sum_price",
        )
    )


_PIVOT_TYPES = ["view", "click", "purchase", "signup", "error"]


@_register(
    "a_pivot_daily_types",
    "daily event matrix via pivot with EXPLICIT value list (no extra "
    "distinct-values job at scale) — one shuffle on dt, per-type counts "
    "as map-side conditional partials",
    f"""
    SELECT strftime(ts, '%Y-%m-%d') AS dt,
           {", ".join(
               f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT)"
               f" AS n_{t}" for t in _PIVOT_TYPES)}
    FROM events GROUP BY 1
    """,
)
def a_pivot_daily_types(spark, sf_dir):
    piv = (
        _t(spark, sf_dir, "events")
        .select(F.date_format("ts", "yyyy-MM-dd").alias("dt"), "event_type")
        .groupBy("dt")
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "dt",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _PIVOT_TYPES],
    )


@_register(
    "w_event_gap_stats",
    "per-user inter-event gaps via lag over (ts, event_id) — the "
    "sessionization primitive: one window shuffle keyed on user, "
    "deterministic tiebreak, gap stats aggregated map-side",
    """
    WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS tms FROM events),
    g AS (SELECT user_id,
                 tms - lag(tms) OVER (PARTITION BY user_id
                                      ORDER BY tms, event_id) AS gap
          FROM e)
    SELECT user_id, CAST(count(gap) AS BIGINT) AS n_gaps,
           floor((sum(gap) * 1.0 / count(gap)) / 1000.0 * 10000 + 0.5)
             / 10000.0 AS avg_gap_s,
           round(max(gap / 1000.0), 4) AS max_gap_s
    FROM g WHERE gap IS NOT NULL GROUP BY user_id
    """,
)
def w_event_gap_stats(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_millis("ts").alias("tms")
    )
    w = Window.partitionBy("user_id").orderBy("tms", "event_id")
    g = e.select(
        "user_id", (F.col("tms") - F.lag("tms").over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    # integer-exact mean: gaps are whole milliseconds — sum as longs,
    # divide ONCE, and round by the explicit floor(x*1e4 + 0.5)/1e4
    # formula instead of engine round(). Engine .5-boundary semantics
    # DIFFER (Spark HALF_UPs the exact binary decimal, DuckDB rounds
    # the double product), first seen at sf0.1 where one user's mean
    # lands exactly on ...61175; the explicit form is the same double
    # op sequence everywhere (cf. _sq8_quantize).
    avg_s = (F.sum("gap") * F.lit(1.0) / F.count("gap")) / F.lit(1000.0)
    return g.groupBy("user_id").agg(
        F.count("gap").alias("n_gaps"),
        (F.floor(avg_s * 10000 + F.lit(0.5)) / 10000.0).alias("avg_gap_s"),
        F.round(F.max(F.col("gap") / 1000.0), 4).alias("max_gap_s"),
    )


_QH_W, _QH_QS = 5.0, [0.5, 0.9, 0.95, 0.99]


@_register(
    "x_quantile_hist",
    "histogram-sketch quantiles (p50/p90/p95/p99) vs the fixed-width "
    "mergeable bin table: value column never sorted or shuffled, "
    "count-based rank walk on the bin domain, width-bounded error "
    "(north-star)",
    f"""
    WITH vals AS (SELECT value FROM events WHERE value IS NOT NULL),
    bins AS (SELECT CAST(floor(value / {_QH_W}) AS BIGINT) AS b,
                         count(*) AS cnt
                  FROM vals GROUP BY 1),
    walk AS (SELECT b, cnt,
                    sum(cnt) OVER (ORDER BY b) AS cum,
                    coalesce(sum(cnt) OVER (ORDER BY b ROWS BETWEEN
                        UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
             FROM bins),
    n AS (SELECT count(*) AS n FROM vals),
    probe AS (SELECT q, CAST(ceil(q * n.n) AS BIGINT) AS target
              FROM (SELECT CAST(unnest({_QH_QS}) AS DOUBLE) AS q), n)
    SELECT q, round(b * {_QH_W} + {_QH_W} * (target - prev) / cnt, 4) AS est
    FROM probe JOIN walk ON walk.prev < probe.target
                        AND probe.target <= walk.cum
    """,
)
def x_quantile_hist(spark, sf_dir):
    return _sk.quantile_hist(
        _t(spark, sf_dir, "events"), "value", width=_QH_W, qs=_QH_QS
    )


@_register(
    "x_text_normalize",
    "canonicalize-then-hash: lowercase, non-printables to spaces, "
    "whitespace collapse, md5 key — the narrow normalization pass ahead "
    "of exact dedup (north-star)",
    r"""
    SELECT doc_id AS id,
           md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^\x20-\x7e]', ' ', 'g'), '\s+', ' ', 'g'))) AS norm_hash,
           CAST(length(trim(regexp_replace(regexp_replace(lower(text),
               '[^\x20-\x7e]', ' ', 'g'), '\s+', ' ', 'g'))) AS BIGINT)
               AS n_chars_norm
    FROM documents
    """,
)
def x_text_normalize(spark, sf_dir):
    out = _ts.normalize_text(_t(spark, sf_dir, "documents"), "text", "doc_id")
    return out.select("id", "norm_hash", F.col("n_chars_norm").cast("bigint").alias("n_chars_norm"))


@_register(
    "a_dau_cumulative",
    "cumulative new-user curve: first-seen date per user (one keyed "
    "agg), daily new-user counts, running total via an ordered window "
    "over the DATE domain (days, not rows — the single-partition window "
    "is deliberate and tiny)",
    """
    WITH f AS (SELECT user_id, min(strftime(ts, '%Y-%m-%d')) AS dt
               FROM events GROUP BY user_id),
    d AS (SELECT dt, count(*) AS new_users FROM f GROUP BY dt)
    SELECT dt, CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (ORDER BY dt) AS BIGINT) AS cum_users
    FROM d
    """,
)
def a_dau_cumulative(spark, sf_dir):
    f = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.date_format("ts", "yyyy-MM-dd").alias("dt"))
        .groupBy("user_id")
        .agg(F.min("dt").alias("dt"))
    )
    d = f.groupBy("dt").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("dt")
    return d.select(
        "dt", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )


@_register(
    "q3_shipping_priority",
    "three-way join + filtered agg + deterministic top-10: segment dim "
    "filter pushed to the customer scan, date filters pushed to both "
    "fact scans, revenue agg keyed on (orderkey, date, priority), "
    "explicit tiebreak so LIMIT is engine-stable",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS order_dt,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, order_dt, o_orderpriority
    ORDER BY revenue DESC, order_dt, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_dt"),
            "o_orderpriority",
        )
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "order_dt", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "order_dt", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "order_dt", "o_orderpriority")
    )


@_register(
    "x_anomaly_zscore",
    "per-type z-score outliers: one pass for group moments (avg, "
    "stddev_samp), broadcast moment table back, flag |z| > 2.5 on the "
    "ROUNDED score so the threshold cut is engine-stable",
    """
    WITH s AS (SELECT event_type, avg(value) AS m,
                      stddev_samp(value) AS sd
               FROM events GROUP BY event_type)
    SELECT event_id, e.event_type,
           round((value - m) / sd, 4) AS z
    FROM events e JOIN s ON e.event_type = s.event_type
    WHERE sd > 0 AND abs(round((value - m) / sd, 4)) > 2.5
    """,
)
def x_anomaly_zscore(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.avg("value").alias("m"), F.stddev_samp("value").alias("sd")
    )
    # sd > 0 guard: a constant-valued group divides by zero — Spark
    # yields NaN (and NaN > 2.5 is TRUE under Spark NaN ordering) where
    # DuckDB yields NULL (dropped by the WHERE); an explicit guard on
    # BOTH sides makes the cut engine-identical and keeps garbage NaN
    # "anomalies" out of the output.
    z = F.round((F.col("value") - F.col("m")) / F.col("sd"), 4)
    return (
        ev.join(F.broadcast(s), "event_type")
        .filter(F.col("sd") > 0)
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > 2.5)
        .select("event_id", "event_type", "z")
    )


@_register(
    "x_dup_spans",
    "exact repeated-substring span detection (Lee et al. 2021 windowed "
    "variant): k-gram md5 -> distinct-doc count -> per-doc interval "
    "merge; the substring-level dedup signal MinHash misses (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {{toks}} AS t FROM documents),
    gl AS (SELECT doc_id,
                  [md5(array_to_string(t[i:i+7], ' ')) FOR i IN range(1, len(t) - 6)] AS gs
           FROM toks WHERE len(t) >= 8),
    grams AS (SELECT doc_id, unnest(gs) AS g,
                     unnest(range(1, len(gs) + 1)) AS pos
              FROM gl),
    dup AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
    hits AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
    isl AS (SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER w IS NULL
                             OR pos > lag(pos) OVER w + 8 THEN 1
                        ELSE 0 END AS new_span
            FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    sp AS (SELECT doc_id, pos,
                  sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS UNBOUNDED PRECEDING) AS span_id
           FROM isl)
    SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
           count(*) AS n_grams
    FROM sp GROUP BY doc_id, span_id
    """.replace("{toks}", _TOKS_SQL),
)
def x_dup_spans(spark, sf_dir):
    return _dd.duplicate_spans(
        _t(spark, sf_dir, "documents"), "text", "doc_id", k=8, min_docs=2
    )


# Bloom prune: suppliers from 3 of the 25 synthetic nations (~12 of 100
# keys) — the filter kills ~88% of lineitem during the scan, the exact
# semi join then only shuffles survivors.
_BLOOM_NATIONS = "('NATION_3', 'NATION_7', 'NATION_11')"


@_register(
    "j_bloom_prune",
    "bloom-filter-pruned semi join: dim-sized bitset prunes the fact "
    "SCAN before the shuffle, exact left-semi on survivors (the explicit "
    "form of runtime bloom-filter join pruning; J-group extension)",
    f"""
    SELECT l_returnflag,
           count(*) AS n_items,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem
    WHERE l_suppkey IN (
        SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name IN {_BLOOM_NATIONS})
    GROUP BY l_returnflag
    """,
)
def j_bloom_prune(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    nations = [n.strip(" '") for n in _BLOOM_NATIONS.strip("()").split(",")]
    dim = (
        supp.join(
            F.broadcast(nat.filter(F.col("n_name").isin(nations))),
            supp.s_nationkey == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    pruned = _jn.bloom_semi_join(
        li, dim, fact_key="l_suppkey", dim_key="s_suppkey", m_bits=1 << 10
    )
    return pruned.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


@_register(
    "a_retention_cohort",
    "cohort retention matrix over the event stream: first-seen date per "
    "user -> (cohort, days-since) active-user counts (A-group serving "
    "extension; the DAU n-day retention cut)",
    """
    WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_d
               FROM events GROUP BY user_id),
    a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
    SELECT strftime(cohort_d, '%Y-%m-%d') AS cohort_dt,
           datediff('day', cohort_d, d) AS days_since,
           count(*) AS n_users
    FROM a JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
)
def a_retention_cohort(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    active = ev.distinct()
    return (
        active.join(first, "user_id")
        .groupBy(
            F.date_format("cohort_d", "yyyy-MM-dd").alias("cohort_dt"),
            F.datediff("d", "cohort_d").alias("days_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@_register(
    "x_unigram_logprob",
    "unigram-LM quality score: mean token negative log-prob under the "
    "corpus' own unigram model (CCNet/Gopher perplexity-filter stand-in; "
    "north-star)",
    f"""
    WITH ex AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY doc_id, term),
    v AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY term),
    tot AS (SELECT sum(cnt) AS total FROM v)
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           round(-sum(tf * ln(cnt / total)) / sum(tf), 4) AS avg_neg_logp
    FROM tf JOIN v USING (term), tot
    GROUP BY doc_id
    """,
)
def x_unigram_logprob(spark, sf_dir):
    return _ts.unigram_logprob(_t(spark, sf_dir, "documents"), "text", "doc_id")


# layout / evaluation / planning (round 3 additions) -------------------------

from ..operators import layout as _ly


@_register(
    "x_ann_recall",
    "recall@k evaluation of the sign-LSH bucketed KNN against exact "
    "brute force — the measurement that makes ANN knobs (bits, probes, "
    "nlist) tunable instead of guessed (north-star)",
    f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    e AS (SELECT vec_id, v, {_BUCKET_SQL} AS bucket FROM base),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE vec_id < 20),
    truth AS (SELECT query_id, neighbor_id FROM (
      SELECT query_id, b2.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY {_cos_sql('qv', 'b2.v')} DESC, b2.vec_id) AS rank
      FROM q JOIN base b2 ON b2.vec_id <> q.query_id) WHERE rank <= 3),
    approx AS (SELECT DISTINCT query_id, neighbor_id FROM (
      SELECT query_id, e.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY {_cos_sql('qv', 'e.v')} DESC, e.vec_id) AS rank
      FROM q JOIN e USING (bucket) WHERE e.vec_id <> q.query_id)
      WHERE rank <= 3),
    bt AS (SELECT query_id, count(*) AS n_truth FROM truth GROUP BY query_id),
    hits AS (SELECT query_id, count(*) AS n_hits
             FROM truth JOIN approx USING (query_id, neighbor_id)
             GROUP BY query_id)
    SELECT query_id, n_truth, coalesce(n_hits, 0) AS n_hits,
           round(coalesce(n_hits, 0) * 1.0 / n_truth, 4) AS recall
    FROM bt LEFT JOIN hits USING (query_id)
    """,
)
def x_ann_recall(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    truth = _sim.knn_bruteforce(emb, queries, k=3)
    approx = _sim.knn_bucketed(emb, queries, k=3)
    return _sim.ann_recall(truth, approx)


_MIX_BUDGET, _MIX_ALPHA, _MIX_EPOCHS = 1_000_000, 0.5, 4.0


@_register(
    "x_mixture_plan",
    "training-mixture planning: per-stratum token counts -> temperature "
    "weights (w ∝ n^alpha), token targets and repeat epochs against a "
    "fixed budget, cap surfaced — the sampling-plan table a 100 TB run "
    "is driven by (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    j AS (SELECT d.lang AS stratum, len(t.t) AS n
          FROM documents d JOIN toks t USING (doc_id)),
    strata AS (SELECT stratum, count(*) AS n_docs,
                      CAST(sum(n) AS BIGINT) AS n_tokens
               FROM j GROUP BY stratum),
    wts AS (SELECT *, pow(n_tokens, {_MIX_ALPHA}) /
                      sum(pow(n_tokens, {_MIX_ALPHA})) OVER () AS w
            FROM strata),
    plan AS (SELECT stratum, n_docs, n_tokens, w,
                    CAST(floor({float(_MIX_BUDGET)} * w) AS BIGINT) AS target_tokens
             FROM wts)
    SELECT stratum, n_docs, n_tokens, round(w, 6) AS weight, target_tokens,
           round(least(target_tokens * 1.0 / n_tokens, {_MIX_EPOCHS}), 4) AS epochs,
           CAST(target_tokens * 1.0 / n_tokens > {_MIX_EPOCHS} AS INT) AS capped
    FROM plan
    """,
)
def x_mixture_plan(spark, sf_dir):
    return _cx.mixture_plan(
        _t(spark, sf_dir, "documents"),
        "lang",
        "text",
        "doc_id",
        budget_tokens=_MIX_BUDGET,
        alpha=_MIX_ALPHA,
        max_epochs=_MIX_EPOCHS,
    )


@_register(
    "x_zorder_layout",
    "Z-order (Morton) clustering key over (user_id, event day): exact "
    "integer grid cells + bit interleave — the multi-column row-group "
    "pruning layout (OPTIMIZE ZORDER BY) as engine-portable math "
    "(north-star)",
    """
    WITH ev AS (SELECT event_id, user_id,
                       epoch_us(ts) // 86400000000 AS day
                FROM events),
    b AS (SELECT min(user_id) AS mnu, max(user_id) AS mxu,
                 min(day) AS mnd, max(day) AS mxd
          FROM ev),
    cells AS (SELECT event_id, user_id, day,
                     (user_id - mnu) * 256 // (mxu - mnu + 1) AS cell_user_id,
                     (day - mnd) * 256 // (mxd - mnd + 1) AS cell_day
              FROM ev CROSS JOIN b)
    SELECT event_id, user_id, day, cell_user_id, cell_day,
           CAST(list_sum(list_transform(range(0, 8), i ->
             ((cell_user_id >> i) & 1) * (1 << (2 * i)) +
             ((cell_day >> i) & 1) * (1 << (2 * i + 1)))) AS BIGINT) AS zkey
    FROM cells
    """,
)
def x_zorder_layout(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.unix_micros(F.col("ts")) / F.lit(86400000000)).alias("day"),
    )
    return _ly.zorder_key(ev, ["user_id", "day"], bits=8)


@_register(
    "x_source_cap",
    "per-source document cap: keep at most N docs per source by the "
    "deterministic md5 coordinate — the hot-domain cap of a crawl "
    "pipeline, batch twin of the streaming quota op (north-star)",
    """
    SELECT doc_id, source, cap_rank FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS cap_rank
      FROM documents)
    WHERE cap_rank <= 100
    """,
)
def x_source_cap(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return _cx.cap_per_group(docs, "source", "doc_id", n=100).select(
        "doc_id", "source", "cap_rank"
    )


@_register(
    "x_corpus_pipeline",
    "the corpus-construction pipeline COMPOSED end to end: quality gate "
    "-> exact-dedup winners -> PII scrub -> per-source cap, one plan "
    "(proves the operators chain, not just exist; every stage keeps its "
    "individual entry's semantics) (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    stats AS (SELECT doc_id, len(t) AS n_tokens,
        list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t) AS avg_len,
        len(list_filter(t, x -> list_contains({_STOPWORDS_SQL}, x)))
            * 1.0 / len(t) AS stop_ratio
      FROM toks),
    kept AS (SELECT doc_id FROM stats
             WHERE n_tokens >= 20 AND stop_ratio <= 0.5
               AND avg_len >= 3.0 AND avg_len <= 12.0),
    kd AS (SELECT d.doc_id, d.text, d.source, d.lang
           FROM documents d JOIN kept USING (doc_id)),
    win AS (SELECT min(doc_id) AS doc_id FROM kd GROUP BY md5(text)),
    canon AS (SELECT kd.doc_id, kd.text, kd.source, kd.lang
              FROM kd JOIN win USING (doc_id)),
    s1 AS (SELECT doc_id, source, lang,
             len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_email,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
               '<EMAIL>', 'g') AS t
           FROM canon),
    s2 AS (SELECT doc_id, source, lang, n_email,
             len(regexp_extract_all(t,
               '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b')) AS n_ipv4,
             regexp_replace(t,
               '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b',
               '<IP>', 'g') AS t
           FROM s1),
    s3 AS (SELECT doc_id, source, lang, n_email, n_ipv4,
             len(regexp_extract_all(t, '\\+?\\d[\\d\\- ]{{6,}}\\d')) AS n_phone
           FROM s2),
    ranked AS (SELECT doc_id, source, lang,
                      n_email + n_ipv4 + n_phone AS n_pii,
                      row_number() OVER (
                        PARTITION BY source
                        ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id
                      ) AS cap_rank
               FROM s3)
    SELECT doc_id, source, lang, n_pii, cap_rank
    FROM ranked WHERE cap_rank <= 50
    """,
)
def x_corpus_pipeline(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    qf = _cx.quality_filter(docs, "text", "doc_id")
    kept = docs.join(
        qf.filter(F.col("kept") == 1).select("doc_id"), "doc_id"
    ).select("doc_id", "text", "source", "lang")
    winners = _dd.dedup_exact(kept, "text", "doc_id").select(
        F.col("keeper_id").alias("doc_id")
    )
    canon = kept.join(winners, "doc_id")
    scrubbed = _cx.pii_scrub(canon, "text", "doc_id")
    enriched = scrubbed.join(canon.select("doc_id", "source", "lang"), "doc_id")
    capped = _cx.cap_per_group(enriched, "source", "doc_id", n=50)
    return capped.select(
        "doc_id",
        "source",
        "lang",
        (F.col("n_email") + F.col("n_ipv4") + F.col("n_phone")).alias("n_pii"),
        "cap_rank",
    )


@_register(
    "x_split_train_val",
    "deterministic train/val/test split by hash range: membership is a "
    "pure function of the doc id, stable under incremental ingest "
    "(north-star)",
    f"""
    WITH coord AS (SELECT doc_id, lang,
                          substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
                   FROM documents)
    SELECT doc_id, lang,
           CASE WHEN h < '{format(int(0.05 * 16**8), "08x")}' THEN 'val'
                WHEN h < '{format(int(0.10 * 16**8), "08x")}' THEN 'test'
                ELSE 'train' END AS split
    FROM coord
    """,
)
def x_split_train_val(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return _cx.train_val_test_split(
        docs, "doc_id", val_frac=0.05, test_frac=0.05
    ).select("doc_id", "lang", "split")


@_register(
    "x_minhash_recall",
    "recall of the MinHash-LSH scale path against exact uncapped-Jaccard "
    "truth (precision is 1 by construction — candidates are full-set "
    "verified): the dedup twin of x_ann_recall, the number the k/bands/"
    "bucket-cap knobs are tuned against (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    sh AS (SELECT doc_id, {_shingles_sql(3)} AS s FROM toks),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    mh AS (SELECT doc_id,
         {_MH_COLS}
       FROM ex GROUP BY doc_id),
    bands0 AS (
  {_BAND_SQL}),
    small AS (SELECT band, key FROM bands0 GROUP BY band, key
              HAVING count(*) <= {_MAX_BUCKET}),
    bands AS (SELECT bands0.* FROM bands0 JOIN small USING (band, key)),
    lcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    sz AS (SELECT doc_id, s, len(s) AS ln FROM sh),
    lsh AS (SELECT doc_a, doc_b FROM (
      SELECT doc_a, doc_b,
             round(len(list_intersect(sa.s, sb.s)) * 1.0 /
                   (sa.ln + sb.ln - len(list_intersect(sa.s, sb.s))), 4) AS j
      FROM lcand JOIN sz sa ON sa.doc_id = doc_a
                 JOIN sz sb ON sb.doc_id = doc_b) WHERE j >= 0.8),
    tcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id),
    truth AS (SELECT doc_a, doc_b FROM (
      SELECT doc_a, doc_b,
             round(len(list_intersect(sa.s, sb.s)) * 1.0 /
                   (sa.ln + sb.ln - len(list_intersect(sa.s, sb.s))), 4) AS j
      FROM tcand JOIN sz sa ON sa.doc_id = doc_a
                 JOIN sz sb ON sb.doc_id = doc_b) WHERE j >= 0.8),
    h AS (SELECT count(*) AS n_hits FROM truth JOIN lsh USING (doc_a, doc_b))
    SELECT (SELECT count(*) FROM truth) AS n_truth,
           (SELECT count(*) FROM lsh) AS n_lsh,
           n_hits,
           round(n_hits * 1.0 / (SELECT count(*) FROM truth), 4) AS recall
    FROM h
    """,
)
def x_minhash_recall(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    sh = cached(_dd.with_shingles(docs, "text", "doc_id", 3))
    # truth: exact Jaccard over ALL shared-shingle candidates (complete
    # for threshold > 0 — a qualifying pair shares at least one shingle)
    truth = _dd.jaccard_pairs(sh, 0.8).select("doc_a", "doc_b")
    found = _dd.minhash_dedup_pairs(
        docs, "text", "doc_id", n=3, k=_MINHASH_K, bands=_MINHASH_BANDS,
        threshold=0.8, max_bucket=_MAX_BUCKET,
    ).select("doc_a", "doc_b")
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nf = found.agg(F.count(F.lit(1)).alias("n_lsh"))
    hits = truth.join(found, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        nt.crossJoin(nf)
        .crossJoin(hits)
        .select(
            "n_truth",
            "n_lsh",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_truth"), 4).alias("recall"),
        )
    )


@_register(
    "x_span_scrub",
    "cross-doc duplicated-span REMOVAL (apply step of x_dup_spans): "
    "per-window owner = min doc_id keeps its copy, every other doc's "
    "covered tokens are dropped via one indexed filter over the token "
    "array — one-copy-survives substring dedup, Lee et al. 2021 "
    "(north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    gl AS (SELECT doc_id,
                  [md5(array_to_string(t[i:i+7], ' ')) FOR i IN range(1, len(t) - 6)] AS gs
           FROM toks WHERE len(t) >= 8),
    grams AS (SELECT doc_id, unnest(gs) AS g,
                     unnest(range(1, len(gs) + 1)) AS pos
              FROM gl),
    own AS (SELECT g, min(doc_id) AS owner FROM grams
            GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
    rem AS (SELECT doc_id, pos FROM grams JOIN own USING (g)
            WHERE doc_id <> owner),
    isl AS (SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER w IS NULL
                             OR pos > lag(pos) OVER w + 8 THEN 1
                        ELSE 0 END AS new_span
            FROM rem WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    sp AS (SELECT doc_id, pos,
                  sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS UNBOUNDED PRECEDING) AS span_id
           FROM isl),
    spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
              FROM sp GROUP BY doc_id, span_id),
    cov AS (SELECT doc_id, list(p) AS cov
            FROM (SELECT doc_id, unnest(range(s, e + 1)) AS p FROM spans)
            GROUP BY doc_id),
    kept AS (SELECT t.doc_id, t.t,
                    list_filter(t.t, (x, i) -> NOT list_contains(
                        coalesce(cov, CAST([] AS BIGINT[])), i)) AS kt
             FROM toks t LEFT JOIN cov USING (doc_id))
    SELECT doc_id,
           coalesce(array_to_string(kt, ' '), '') AS clean_text,
           len(t) AS n_tokens, len(t) - len(kt) AS n_removed
    FROM kept
    """,
)
def x_span_scrub(spark, sf_dir):
    return _dd.scrub_repeated_spans(
        _t(spark, sf_dir, "documents"), "text", "doc_id", k=8, min_docs=2
    )


def _semdedup_sql(n_cent: int, iters: int, t: float) -> str:
    """SemDeDup oracle: the SAME unrolled deterministic k-means training
    as _ivf_sql (id-ordered seeds, lowest-cid tie break, 1e-6 quantized
    means), then a within-cluster lower-id max-cosine per vector and the
    keep cut on the ROUNDED similarity (boundary vectors land the same
    in any engine)."""
    assign = (
        "(SELECT *, row_number() OVER (PARTITION BY id "
        "ORDER BY sim DESC, cid) AS rn FROM {src})"
    )
    parts = [
        "WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)",
        "c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v AS c "
        f"FROM (SELECT id, v FROM e ORDER BY id LIMIT {n_cent}))",
    ]
    prev = "c0"
    for i in range(1, iters + 1):
        parts.append(
            f"s{i} AS (SELECT e.id, e.v, {prev}.cid, "
            f"{_cos_sql('e.v', prev + '.c')} AS sim FROM e CROSS JOIN {prev})"
        )
        parts.append(
            f"a{i} AS (SELECT id, v, cid FROM "
            f"{assign.format(src=f's{i}')} WHERE rn = 1)"
        )
        parts.append(
            f"m{i} AS (SELECT cid, pos, round(avg(x), 6) AS m FROM "
            f"(SELECT cid, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS pos "
            f"FROM a{i}) GROUP BY cid, pos)"
        )
        parts.append(
            f"c{i} AS (SELECT {prev}.cid, coalesce(mm.c, {prev}.c) AS c "
            f"FROM {prev} LEFT JOIN (SELECT cid, list(m ORDER BY pos) AS c "
            f"FROM m{i} GROUP BY cid) mm ON mm.cid = {prev}.cid)"
        )
        prev = f"c{i}"
    parts.append(
        f"sf AS (SELECT e.id, e.v, {prev}.cid, "
        f"{_cos_sql('e.v', prev + '.c')} AS sim FROM e CROSS JOIN {prev})"
    )
    parts.append(
        "asg AS (SELECT id, v, cid FROM "
        f"{assign.format(src='sf')} WHERE rn = 1)"
    )
    parts.append(
        "ms AS (SELECT b.id AS id, "
        f"round(max({_cos_sql('a.v', 'b.v')}), 4) AS max_sim_lower "
        "FROM asg a JOIN asg b ON a.cid = b.cid AND a.id < b.id "
        "GROUP BY b.id)"
    )
    return (
        ",\n".join(parts)
        + "\nSELECT asg.id AS vec_id, asg.cid AS cid, ms.max_sim_lower, "
        f"CASE WHEN ms.max_sim_lower IS NULL OR ms.max_sim_lower < {t} "
        "THEN 1 ELSE 0 END AS keep "
        "FROM asg LEFT JOIN ms ON ms.id = asg.id"
    )


@_register(
    "x_semantic_dedup",
    "SemDeDup semantic dedup (Abbas et al. 2023): k-means clusters bound "
    "the pairwise cosine search, lowest-id keeper per near-dup group — "
    "same deterministic trained centroids as IVF, oracle replays the "
    "full training (north-star)",
    _semdedup_sql(n_cent=8, iters=3, t=0.45),
)
def x_semantic_dedup(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cents = _trained("ivf", spark, sf_dir, n_centroids=8, iters=3)
    return _sim.semantic_dedup(emb, cents, threshold=0.45)


def _md5_byte_sql(x: str) -> str:
    """First byte of md5(x) as an integer — two hex-digit lookups, the
    _sha_byte_sql pattern (DuckDB has no hex->int conv)."""
    return (
        f"((instr('0123456789abcdef', substr(md5({x}), 1, 1)) - 1) * 16 + "
        f"instr('0123456789abcdef', substr(md5({x}), 2, 1)) - 1)"
    )


@_register(
    "x_dsir_weights",
    "DSIR importance weights (Xie et al. 2023): hashed-unigram bucket "
    "LMs for target (lang='en') vs raw, per-doc sum of log(p_t/p_r) "
    "with add-1 smoothing; selection cut on the rounded score "
    "(north-star)",
    f"""
    WITH ex AS (SELECT doc_id, CAST(lang = 'en' AS INT) AS in_target,
                       {_md5_byte_sql('term')} % 256 AS b
                FROM (SELECT doc_id, lang, unnest({_TOKS_SQL}) AS term
                      FROM documents)),
    counts AS (SELECT b, count(*) AS cr, sum(in_target) AS ct
               FROM ex GROUP BY b),
    tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM counts),
    w AS (SELECT b, ln((ct + 1) / (nt + 256)) - ln((cr + 1) / (nr + 256)) AS w
          FROM counts, tot),
    scored AS (SELECT doc_id, in_target, count(*) AS n_tokens,
                      round(sum(w), 4) AS dsir_logratio
               FROM ex JOIN w USING (b) GROUP BY doc_id, in_target)
    SELECT doc_id, n_tokens, dsir_logratio, in_target,
           CAST(dsir_logratio > 0 AS INT) AS selected
    FROM scored
    """,
)
def x_dsir_weights(spark, sf_dir):
    return _cx.dsir_weights(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        F.col("lang") == "en",
    )


def _band_sql_for(mh_tbl: str) -> str:
    """_BAND_SQL parameterized on the minhash table name (cross-corpus
    banding needs one band table per side)."""
    return "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS key FROM {t}".format(
            b=b, key="||".join(f"h{b * _R + i}" for i in range(_R)), t=mh_tbl
        )
        for b in range(_MINHASH_BANDS)
    )


@_register(
    "x_cross_dedup",
    "cross-corpus dedup (train-vs-holdout leakage sweep): exact md5 "
    "semi-join + MinHash band equi-join train x holdout with hot-bucket "
    "cap and exact-Jaccard verify — never a cartesian (north-star)",
    f"""
    WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
    ho AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
    exd AS (SELECT DISTINCT t.doc_id FROM tr t
            JOIN (SELECT DISTINCT md5(text) AS fp FROM ho) h
            ON md5(t.text) = h.fp),
    tok_t AS (SELECT doc_id, {_TOKS_SQL} AS t FROM tr),
    tok_h AS (SELECT doc_id, {_TOKS_SQL} AS t FROM ho),
    sh_t AS (SELECT doc_id, {_shingles_sql(3)} AS s FROM tok_t),
    sh_h AS (SELECT doc_id, {_shingles_sql(3)} AS s FROM tok_h),
    ug_t AS (SELECT doc_id, unnest(s) AS g FROM sh_t),
    ug_h AS (SELECT doc_id, unnest(s) AS g FROM sh_h),
    mh_t AS (SELECT doc_id,
         {_MH_COLS}
       FROM ug_t GROUP BY doc_id),
    mh_h AS (SELECT doc_id,
         {_MH_COLS}
       FROM ug_h GROUP BY doc_id),
    bt AS (
  {_band_sql_for('mh_t')}),
    bh0 AS (
  {_band_sql_for('mh_h')}),
    small AS (SELECT band, key FROM bh0 GROUP BY band, key
              HAVING count(*) <= {_MAX_BUCKET}),
    bh AS (SELECT bh0.* FROM bh0 JOIN small USING (band, key)),
    cand AS (SELECT DISTINCT bt.doc_id AS tid, bh.doc_id AS hid
             FROM bt JOIN bh USING (band, key)),
    szt AS (SELECT doc_id, s, len(s) AS ln FROM sh_t),
    szh AS (SELECT doc_id, s, len(s) AS ln FROM sh_h),
    nr AS (SELECT DISTINCT tid AS doc_id FROM cand
           JOIN szt ON szt.doc_id = cand.tid
           JOIN szh ON szh.doc_id = cand.hid
           WHERE round(len(list_intersect(szt.s, szh.s)) * 1.0 /
                 (szt.ln + szh.ln - len(list_intersect(szt.s, szh.s))), 4) >= 0.8)
    SELECT t.doc_id,
           (exd.doc_id IS NOT NULL) AS exact_dup,
           (nr.doc_id IS NOT NULL) AS near_dup,
           NOT (exd.doc_id IS NOT NULL OR nr.doc_id IS NOT NULL) AS keep
    FROM tr t
    LEFT JOIN exd ON exd.doc_id = t.doc_id
    LEFT JOIN nr ON nr.doc_id = t.doc_id
    """,
)
def x_cross_dedup(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return _dd.cross_dedup(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "text",
        "doc_id",
        n=3,
        k=_MINHASH_K,
        bands=_MINHASH_BANDS,
        threshold=0.8,
        max_bucket=_MAX_BUCKET,
    )


# ---------------------------------------------------------------------------
# TPC-H Q5/Q6-style analytics: the 6-table join-ordering showcase and the
# pure scan-efficiency aggregate. Both exist to prove the engine's general
# SQL surface plans the way a warehouse should: dims broadcast, the fact
# table shuffles once on its join key, and Q6's filters all reach the
# parquet scan (PushedFilters) with a 4-column ReadSchema.
# ---------------------------------------------------------------------------


@_register(
    "q5_local_supplier_volume",
    "J-group 6-table join ordering showcase: region->nation->supplier "
    "broadcast chain, lineitem shuffles once, customer-nation co-location "
    "predicate (TPC-H Q5 shape)",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders    ON c_custkey = o_custkey
    JOIN lineitem  ON l_orderkey = o_orderkey
    JOIN supplier  ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation    ON s_nationkey = n_nationkey
    JOIN region    ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    # Dims (region -> nation -> supplier) reduce FIRST, then broadcast
    # into the fact side: at 100 TB only lineitem/orders/customer are
    # big, and each shuffles exactly once on its own join key. The
    # c_nationkey = s_nationkey predicate rides the customer join.
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            cust,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@_register(
    "q6_revenue_delta",
    "pure scan-efficiency aggregate: every predicate pushed to the "
    "parquet scan, 4-column ReadSchema, single partial+final agg "
    "(TPC-H Q6 shape)",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_delta(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_register(
    "x_hard_negatives",
    "hard-negative mining for contrastive training: per-query top-k "
    "most-similar DIFFERENT-label vectors, broadcast join + bounded "
    "per-query window (north-star)",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv, label AS ql FROM e WHERE vec_id < 5),
    scored AS (
      SELECT query_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
             {_cos_sql('qv', 'e.v')} AS sim
      FROM q JOIN e ON e.label <> q.ql)
    SELECT query_id, neighbor_id, neighbor_label, rank, round(sim, 4) AS sim
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= 5
    """,
)
def x_hard_negatives(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.hard_negatives(emb, emb.filter(F.col("vec_id") < 5), k=5)


# Bucket rates for the perplexity-bucket sampler: thin the least
# surprising quartile (boilerplate) and the most surprising one
# (gibberish/OCR noise), keep the middle — the CCNet head/mid/tail mix.
_PPL_RATES = {1: 0.5, 4: 0.25}


@_register(
    "x_ppl_bucket_sample",
    "CCNet-style perplexity-quartile bucket + per-bucket deterministic "
    "sample: exact quantiles from the rounded-score histogram (no global "
    "ntile sort), ties share buckets, tails thinned (north-star)",
    f"""
    WITH ex AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY doc_id, term),
    v AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY term),
    tot AS (SELECT sum(cnt) AS total FROM v),
    lp AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
                  round(-sum(tf * ln(cnt / total)) / sum(tf), 4) AS avg_neg_logp
           FROM tf JOIN v USING (term), tot
           GROUP BY doc_id),
    hist AS (SELECT avg_neg_logp AS vv, count(*) AS c FROM lp GROUP BY vv),
    cum AS (SELECT vv, sum(c) OVER (ORDER BY vv
                                    ROWS UNBOUNDED PRECEDING) AS cm FROM hist),
    n AS (SELECT count(*) AS nn FROM lp),
    bm AS (SELECT vv, CAST(ceil(4 * cm / nn) AS INT) AS bucket FROM cum, n)
    SELECT doc_id, n_tokens, avg_neg_logp, bucket,
           CAST(substr(md5('ppl:' || CAST(doc_id AS VARCHAR)), 1, 8) <
                CASE WHEN bucket = 1 THEN '{_cx.rate_threshold_hex(0.5)}'
                     WHEN bucket = 4 THEN '{_cx.rate_threshold_hex(0.25)}'
                     ELSE '{_cx.rate_threshold_hex(1.0)}' END AS INT) AS sampled
    FROM lp JOIN bm ON avg_neg_logp = vv
    """,
)
def x_ppl_bucket_sample(spark, sf_dir):
    lp = _ts.unigram_logprob(_t(spark, sf_dir, "documents"), "text", "doc_id")
    return _cx.score_bucket_sample(
        lp, "avg_neg_logp", "doc_id", n_buckets=4, rates=_PPL_RATES, salt="ppl"
    )


@_register(
    "a_cube_totals",
    "CUBE grouping-set aggregation (completes the rollup/grouping-sets/"
    "pivot family): all 4 combinations of (returnflag, linestatus) "
    "subtotals in ONE pass — one shuffle, grouping-id expansion map-side",
    """
    SELECT coalesce(l_returnflag, '__all__') AS rflag,
           coalesce(l_linestatus, '__all__') AS lstatus,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS n_items
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a_cube_totals(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("__all__")).alias("rflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("__all__")).alias("lstatus"),
            "sum_price",
            "n_items",
        )
    )


@_register(
    "u_unpivot_measures",
    "UNPIVOT/melt wide measures to long (key, measure, value) — the "
    "inverse of pivot; narrow per-row expansion, no shuffle at all",
    """
    SELECT o_orderkey, measure, round(value, 2) AS value
    FROM (SELECT o_orderkey, o_totalprice, CAST(o_custkey AS DOUBLE) AS custkey_d
          FROM orders)
    UNPIVOT (value FOR measure IN (o_totalprice, custkey_d))
    """,
)
def u_unpivot_measures(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            "o_totalprice",
            F.col("o_custkey").cast("double").alias("custkey_d"),
        )
        .unpivot(
            ids=["o_orderkey"],
            values=["o_totalprice", "custkey_d"],
            variableColumnName="measure",
            valueColumnName="value",
        )
        .select("o_orderkey", "measure", F.round("value", 2).alias("value"))
    )


@_register(
    "x_corpus_datasheet",
    "corpus datasheet roll-up: per-(source, lang) doc counts, token "
    "totals, mean length, exact-dup counts in one two-level aggregate — "
    "the summary table a dataset card starts from (north-star)",
    f"""
    WITH t AS (SELECT source, lang, n_chars,
                      len({_TOKS_SQL}) AS n_tokens, md5(text) AS fp
               FROM documents)
    SELECT source, lang, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_chars), 2) AS avg_chars,
           CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dups
    FROM t GROUP BY source, lang
    """,
)
def x_corpus_datasheet(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        "lang",
        "n_chars",
        F.size(_dd.tokens_expr("text")).alias("n_tokens"),
        F.md5("text").alias("fp"),
    )
    return t.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_exact_dups"),
    )


@_register(
    "x_hll_merged_by_type",
    "grouped HLL distinct users per event_type, computed as "
    "finalize(merge(registers(half A), registers(half B))) — the oracle "
    "replays one pass over the union, so a hash-match PROVES the "
    "mergeable-sketch property (shards/batches sketch independently, "
    "combine exactly; north-star)",
    f"""
    WITH h AS (SELECT event_type,
                      substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 8)
                      AS h8 FROM events),
    b AS (SELECT event_type, ({_hex32_sql('h8')} % 64) AS reg,
                 ({_hex32_sql('h8')} // 64) AS w FROM h),
    r AS (SELECT event_type, reg,
                 max(CASE WHEN w = 0 THEN 27
                          ELSE 27 - length(bin(w)) END) AS mx
          FROM b GROUP BY event_type, reg),
    spine AS (SELECT DISTINCT event_type, unnest(range(0, 64)) AS reg FROM events),
    regs AS (SELECT s.event_type, coalesce(r.mx, 0) AS mx
             FROM spine s LEFT JOIN r
             ON r.reg = s.reg AND r.event_type = s.event_type),
    agg AS (SELECT event_type, sum(pow(2.0, -mx)) AS z,
                   sum(CASE WHEN mx = 0 THEN 1 ELSE 0 END) AS zeros
            FROM regs GROUP BY event_type)
    SELECT event_type,
           round(CASE WHEN (0.709 * 64 * 64 / z) <= 160.0 AND zeros > 0
                      THEN 64.0 * ln(64.0 / zeros)
                      ELSE 0.709 * 64 * 64 / z END, 4) AS hll_estimate
    FROM agg
    """,
)
def x_hll_merged_by_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1)
    merged = _sk.hll_merge(
        _sk.hll_registers(half_a, "user_id", ["event_type"]),
        _sk.hll_registers(half_b, "user_id", ["event_type"]),
        ["event_type"],
    )
    return _sk.hll_finalize(merged, ["event_type"])


@_register(
    "x_weighted_sample",
    "deterministic weighted sampling without replacement (Efraimidis-"
    "Spirakis): ln(hash-uniform)/weight keys, distributed top-n "
    "(per-partition heads, no global sort), zero RNG/state (north-star)",
    f"""
    WITH s AS (SELECT doc_id, source, n_chars,
                      round(ln(({_hex32_sql("substr(md5('wsmpl:' || CAST(doc_id AS VARCHAR)), 1, 8)")} + 1.0)
                               / {float(16**8 + 1)!r})
                            / CAST(n_chars AS DOUBLE), 12) AS sc
               FROM documents WHERE n_chars > 0)
    SELECT doc_id, source, n_chars FROM s
    ORDER BY sc DESC, doc_id LIMIT 50
    """,
)
def x_weighted_sample(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return _cx.weighted_sample(
        docs.select("doc_id", "source", "n_chars"), "n_chars", "doc_id", n=50
    )


@_register(
    "x_length_model_by_lang",
    "per-language OLS length model chars ~ tokens via the built-in "
    "regr_* aggregates — slope/intercept/r2/corr in ONE distributed "
    "whole-stage-codegen pass, no per-group fitting loop, no UDF: the "
    "profiling regression a corpus datasheet pairs with its roll-up "
    "(north-star)",
    f"""
    WITH t AS (SELECT lang, CAST(len({_TOKS_SQL}) AS DOUBLE) AS x,
                      CAST(n_chars AS DOUBLE) AS y FROM documents)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           round(regr_slope(y, x), 4) AS slope,
           round(regr_intercept(y, x), 4) AS intercept,
           round(regr_r2(y, x), 4) AS r2,
           round(corr(y, x), 4) AS corr_xy
    FROM t GROUP BY lang
    """,
)
def x_length_model_by_lang(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        F.size(_dd.tokens_expr("text")).cast("double").alias("x"),
        F.col("n_chars").cast("double").alias("y"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("regr_slope(y, x)"), 4).alias("slope"),
        F.round(F.expr("regr_intercept(y, x)"), 4).alias("intercept"),
        F.round(F.expr("regr_r2(y, x)"), 4).alias("r2"),
        F.round(F.corr("y", "x"), 4).alias("corr_xy"),
    )


@_register(
    "q18_large_orders",
    "HAVING-subquery semi-join shape (TPC-H Q18): aggregate the detail "
    "table, filter on the group total, semi-join the hot keys back — "
    "expressed as an aggregate-then-join so Catalyst plans one shuffle "
    "on l_orderkey reused by both the agg and the join; the hot-key "
    "list is tiny and broadcasts",
    """
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
    SELECT c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           round(o_totalprice, 2) AS total_price,
           round(sum(l_quantity), 2) AS total_qty
    FROM orders
    JOIN big ON o_orderkey = big.l_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN lineitem ON lineitem.l_orderkey = o_orderkey
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY total_qty DESC, o_orderkey
    """,
)
def q18_large_orders(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 250)
        .select(F.col("l_orderkey").alias("__bigkey"))
    )
    det = li.select(
        F.col("l_orderkey").alias("__detkey"), F.col("l_quantity")
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == F.col("__bigkey"))
        .join(c, o.o_custkey == c.c_custkey)
        .join(det, o.o_orderkey == F.col("__detkey"))
        .groupBy(
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("order_date"),
            F.col("o_totalprice"),
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.substring("order_date", 1, 10).alias("order_date"),
            F.round("o_totalprice", 2).alias("total_price"),
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
    )


@_register(
    "x_key_skew_report",
    "shuffle-key skew diagnostics: per-key row counts -> count "
    "distribution (exact p50/p90/p99 on integer counts, max, mean, "
    "max/mean skew ratio, top-1 key share) in one two-level aggregate — "
    "the report that decides salting thresholds and AQE skew settings "
    "BEFORE a 100 TB join, not after it spills (north-star)",
    """
    WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           round(avg(n), 4) AS mean_rows,
           round(quantile_cont(n, 0.5), 2) AS p50,
           round(quantile_cont(n, 0.9), 2) AS p90,
           round(quantile_cont(n, 0.99), 2) AS p99,
           CAST(max(n) AS BIGINT) AS max_rows,
           round(max(n) / avg(n), 4) AS skew_ratio,
           round(max(n) * 1.0 / sum(n), 6) AS top1_share
    FROM c
    """,
)
def x_key_skew_report(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    return c.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.round(F.avg("n"), 4).alias("mean_rows"),
        F.round(F.percentile("n", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("n", F.lit(0.9)), 2).alias("p90"),
        F.round(F.percentile("n", F.lit(0.99)), 2).alias("p99"),
        F.max("n").alias("max_rows"),
        F.round(F.max("n") / F.avg("n"), 4).alias("skew_ratio"),
        F.round(F.max("n") * F.lit(1.0) / F.sum("n"), 6).alias("top1_share"),
    )


@_register(
    "x_token_entropy",
    "per-doc lexical diversity: tokens, types, TTR, Shannon entropy and "
    "its ln(types)-normalized form via the count identity "
    "H = ln(n) - sum(c*ln c)/n — one explode + two keyed map-side-"
    "partial aggregations, the stuffing/template-spam quality signal "
    "(north-star)",
    f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS c
      FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents)
      GROUP BY doc_id, term)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           round(count(*) * 1.0 / sum(c), 6) AS ttr,
           round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy,
           round(CASE WHEN count(*) > 1
                      THEN (ln(sum(c)) - sum(c * ln(c)) / sum(c))
                           / ln(CAST(count(*) AS DOUBLE))
                      ELSE 0.0 END, 4) AS norm_entropy
    FROM tf GROUP BY doc_id
    """,
)
def x_token_entropy(spark, sf_dir):
    return _ts.token_entropy(_t(spark, sf_dir, "documents"), "text", "doc_id")


@_register(
    "x_group_sample",
    "deterministic per-group fixed-size sample (the per-source eval "
    "subset): rank by a seeded content hash within each source, keep "
    "20 — reproducible across runs and engines, window partitioned by "
    "group (never global), no RNG state (north-star)",
    """
    SELECT source, doc_id, pos FROM (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('gs:' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
      FROM documents)
    WHERE pos <= 20
    """,
)
def x_group_sample(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("gs:"), F.col("doc_id").cast("string"))), "doc_id"
    )
    return (
        docs.select("source", "doc_id", F.row_number().over(w).alias("pos"))
        .filter(F.col("pos") <= 20)
    )


@_register(
    "x_source_overlap",
    "pairwise vocabulary overlap between sources: distinct (source, "
    "term) projection, term equi-join (fan-out bounded by the source "
    "count per term), per-pair Jaccard of vocabularies — the mixture "
    "diagnostic that flags near-duplicate corpus slices before they "
    "double-count in a training mix (north-star)",
    f"""
    WITH v AS (SELECT DISTINCT source, term
               FROM (SELECT source, unnest({_TOKS_SQL}) AS term
                     FROM documents)),
    sz AS (SELECT source, count(*) AS n FROM v GROUP BY source),
    inter AS (SELECT a.source AS src_a, b.source AS src_b,
                     count(*) AS n_common
              FROM v a JOIN v b ON a.term = b.term AND a.source < b.source
              GROUP BY 1, 2)
    SELECT src_a, src_b, CAST(n_common AS BIGINT) AS n_common,
           CAST(sa.n AS BIGINT) AS vocab_a, CAST(sb.n AS BIGINT) AS vocab_b,
           round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter JOIN sz sa ON sa.source = src_a
               JOIN sz sb ON sb.source = src_b
    """,
)
def x_source_overlap(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    src = _dd.spread(
        docs.select("source", F.col("text").alias("__text")), "source"
    )
    v = (
        src.select("source", F.explode(_dd.tokens_expr("__text")).alias("term"))
        .distinct()
    )
    sz = v.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = v.select(F.col("source").alias("src_a"), "term")
    b = v.select(F.col("source").alias("src_b"), "term")
    inter = (
        a.join(b, ["term"])
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sz.select(F.col("source").alias("src_a"), F.col("n").alias("vocab_a"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("vocab_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a", "src_b", "n_common", "vocab_a", "vocab_b",
            F.round(
                F.col("n_common")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


@_register(
    "x_expectations_orders",
    "declarative data-quality expectations (deequ-style) over orders "
    "joined to customer: null / domain / range / referential checks all "
    "as conditional sums in ONE aggregate scan, referential integrity "
    "folded in as a left-join-null predicate instead of a second "
    "anti-join pass; per-check report via an inline struct-array "
    "transpose (north-star)",
    """
    WITH j AS (SELECT o.*, c.c_custkey AS ref_custkey
               FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
    base AS (SELECT count(*) AS n,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS v_not_null_custkey,
       CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS v_positive_total,
       CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
            AS BIGINT) AS v_valid_status,
       CAST(sum(CASE WHEN o_orderdate <  TIMESTAMP '1992-01-01 00:00:00'
                  OR o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
                THEN 1 ELSE 0 END) AS BIGINT) AS v_date_in_range,
       CAST(sum(CASE WHEN ref_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS v_customer_exists
     FROM j)
    SELECT check_name, n_violations, n AS n_rows,
           round(1.0 - n_violations * 1.0 / n, 6) AS pass_rate
    FROM base, (
      SELECT 'customer_exists' AS check_name, v_customer_exists AS n_violations FROM base
      UNION ALL SELECT 'date_in_range', v_date_in_range FROM base
      UNION ALL SELECT 'not_null_custkey', v_not_null_custkey FROM base
      UNION ALL SELECT 'positive_total', v_positive_total FROM base
      UNION ALL SELECT 'valid_status', v_valid_status FROM base)
    ORDER BY check_name
    """,
)
def x_expectations_orders(spark, sf_dir):
    from ..operators.validate import expectations_report

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ref_custkey")
    )
    j = o.join(F.broadcast(c), o.o_custkey == c.ref_custkey, "left")
    lo = F.lit("1992-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1999-01-01 00:00:00").cast("timestamp")
    return expectations_report(
        j,
        {
            "customer_exists": F.col("ref_custkey").isNull(),
            "date_in_range": (F.col("o_orderdate") < lo)
            | (F.col("o_orderdate") >= hi),
            "not_null_custkey": F.col("o_custkey").isNull(),
            "positive_total": F.col("o_totalprice") <= 0,
            "valid_status": ~F.col("o_orderstatus").isin("O", "F", "P"),
        },
    )


def _profile_col(name):
    mn = F.min(name).cast("string").alias(f"__mn_{name}")
    mx = F.max(name).cast("string").alias(f"__mx_{name}")
    return [
        F.sum(F.when(F.col(name).isNull(), 1).otherwise(0))
        .cast("long")
        .alias(f"__nn_{name}"),
        F.countDistinct(name).alias(f"__nd_{name}"),
        mn,
        mx,
    ]


_PROFILE_COLS = ["c_custkey", "c_name", "c_mktsegment", "c_nationkey"]


@_register(
    "x_winnow_recall",
    "the winnowing guarantee as a MEASURED number: ground truth = pairs "
    "sharing any w+n-1 = 6-token positional run, candidates = uncapped "
    "fingerprint pairs; the Schleimer et al. theorem says recall is "
    "exactly 1.0 (every such run contains a selected window minimum) — "
    "same grader discipline as x_minhash_recall, except 1.0 here is a "
    "theorem, not a tuning outcome (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    h AS (SELECT doc_id,
            CASE WHEN len(t) >= 3
                 THEN [md5(array_to_string(t[i:i+2], ' '))
                       FOR i IN range(1, len(t) - 1)]
                 ELSE [md5(array_to_string(t, ' '))] END AS h
          FROM toks),
    fp AS (SELECT doc_id,
             list_distinct(CASE WHEN len(h) >= 4
                  THEN [list_min(h[j:j+3]) FOR j IN range(1, len(h) - 2)]
                  ELSE [list_min(h)] END) AS fps
           FROM h),
    exf AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM exf a JOIN exf b
             ON a.fp = b.fp AND a.doc_id < b.doc_id),
    g6 AS (SELECT doc_id, unnest(list_distinct(
             [md5(array_to_string(t[i:i+5], ' '))
              FOR i IN range(1, len(t) - 4)])) AS g
           FROM toks WHERE len(t) >= 6),
    truth AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM g6 a JOIN g6 b ON a.g = b.g AND a.doc_id < b.doc_id),
    cov AS (SELECT CAST(count(*) AS BIGINT) AS n_covered
            FROM truth JOIN cand USING (doc_a, doc_b))
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           n_covered,
           round(n_covered * 1.0 / (SELECT count(*) FROM truth), 4) AS recall,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates
    FROM cov
    """,
)
def x_winnow_recall(spark, sf_dir):
    return _dd.winnow_recall(
        _t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        n=3,
        w=4,
        fps=_winnow_fps(spark, sf_dir, n=3, w=4),
    )


@_register(
    "x_compaction_plan",
    "small-files compaction planner: bin partition sizes into "
    "~target-byte output groups by deterministic cumulative-sum banding "
    "over the (size DESC, key) total order — one window over the "
    "METADATA-sized file list, never the data; oversized inputs get "
    "their own group. The OPTIMIZE planning step as a query "
    "(north-star)",
    """
    WITH f AS (SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS n_bytes
               FROM documents GROUP BY source, lang),
    c AS (SELECT source, lang, n_bytes,
                 CAST(coalesce(sum(n_bytes) OVER (
                      ORDER BY n_bytes DESC, source, lang
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS group_bytes_before
          FROM f)
    SELECT source, lang, n_bytes,
           CAST(floor(group_bytes_before / 50000) AS BIGINT) AS group_id,
           group_bytes_before
    FROM c
    """,
)
def x_compaction_plan(spark, sf_dir):
    from ..operators.layout import compaction_plan

    files = (
        _t(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.sum("n_chars").cast("long").alias("n_bytes"))
    )
    return compaction_plan(files, "n_bytes", ["source", "lang"], 50000)


@_register(
    "x_winnow_substring_pairs",
    "winnowing-fingerprint substring sharing (Schleimer et al. / MOSS): "
    "positional gram hashes -> sliding-window minima -> df-capped "
    "fingerprint self-join. The guarantee fixed-stride shingles can't "
    "give: any shared token run >= w+n-1 pairs up even when insertions "
    "SHIFT it; the fingerprint index is ~2/(w+1) the gram count "
    "(north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    h AS (SELECT doc_id,
            CASE WHEN len(t) >= 3
                 THEN [md5(array_to_string(t[i:i+2], ' '))
                       FOR i IN range(1, len(t) - 1)]
                 ELSE [md5(array_to_string(t, ' '))] END AS h
          FROM toks),
    fp AS (SELECT doc_id,
             list_distinct(CASE WHEN len(h) >= 4
                  THEN [list_min(h[j:j+3]) FOR j IN range(1, len(h) - 2)]
                  ELSE [list_min(h)] END) AS fps
           FROM h),
    ex0 AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
    low AS (SELECT fp FROM ex0 GROUP BY fp HAVING count(*) <= 50),
    ex AS (SELECT doc_id, ex0.fp AS fp FROM ex0 JOIN low USING (fp))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def x_winnow_substring_pairs(spark, sf_dir):
    return _dd.winnow_substring_pairs(
        _t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        n=3,
        w=4,
        max_df=50,
        fps=_winnow_fps(spark, sf_dir, n=3, w=4),
    )


@_register(
    "x_embed_covariance",
    "full d x d embedding covariance as (i, j, cov) rows — double sums "
    "+ a 1e-4 rounding margin (six orders of magnitude above the "
    "partition-order ulp noise; exact-decimal accumulation measured 16x "
    "slower off the long-backed decimal fast path) — the verifiable "
    "base of the PCA family: pca_model computes the SAME matrix from "
    "mapInPandas X^T X batch partials (parity-tested), then "
    "eigendecomposes driver-side, model-sized (north-star)",
    """
    WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
    ex AS (SELECT v, unnest(range(1, len(v) + 1)) AS i FROM e),
    pairs AS (SELECT i, v[i] AS xi,
                     unnest(range(1, len(v) + 1)) AS j, v AS v2 FROM ex),
    cells AS (SELECT i, j, xi, v2[j] AS xj FROM pairs),
    stats AS (SELECT i, j, sum(xi * xj) AS sxy, sum(xi) AS sx,
                     sum(xj) AS sy, CAST(count(*) AS DOUBLE) AS n
              FROM cells GROUP BY i, j)
    SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
           floor((sxy / n - (sx / n) * (sy / n)) * 1e4 + 0.5) / 1e4 AS cov
    FROM stats
    """,
)
def x_embed_covariance(spark, sf_dir):
    return _sim.embed_covariance(_t(spark, sf_dir, "embeddings"))


@_register(
    "x_drift_report",
    "population-stability-index (PSI) drift report between corpus "
    "snapshots (reference sources vs the src0 'new batch'): fixed-width "
    "numeric bins + categorical bins, every feature counted in ONE "
    "exploded scan, per-feature PSI from the bins-sized count frame; "
    "the decimal-accumulated sum makes the score partition-order-free "
    "— the pre-ingestion drift gate a training-data pipeline runs "
    "(north-star)",
    """
    WITH b AS (
      SELECT 'lang' AS feature, lang AS bin, (source = 'src0') AS cur
      FROM documents
      UNION ALL
      SELECT 'len_chars',
             CAST(CAST(floor(n_chars / 200.0) AS BIGINT) AS VARCHAR),
             (source = 'src0')
      FROM documents),
    c AS (SELECT feature, bin,
                 sum(CASE WHEN cur THEN 0 ELSE 1 END) AS n_ref_bin,
                 sum(CASE WHEN cur THEN 1 ELSE 0 END) AS n_cur_bin
          FROM b GROUP BY feature, bin),
    t AS (SELECT feature, CAST(sum(n_ref_bin) AS BIGINT) AS n_ref,
                 CAST(sum(n_cur_bin) AS BIGINT) AS n_cur
          FROM c GROUP BY feature),
    terms AS (
      SELECT c.feature, n_ref, n_cur,
             CAST((CASE WHEN n_ref_bin = 0 THEN 1e-6
                        ELSE n_ref_bin * 1.0 / n_ref END
                   - CASE WHEN n_cur_bin = 0 THEN 1e-6
                          ELSE n_cur_bin * 1.0 / n_cur END)
                  * ln((CASE WHEN n_ref_bin = 0 THEN 1e-6
                             ELSE n_ref_bin * 1.0 / n_ref END)
                       / (CASE WHEN n_cur_bin = 0 THEN 1e-6
                               ELSE n_cur_bin * 1.0 / n_cur END))
                  AS DECIMAL(18,12)) AS t
      FROM c JOIN t ON t.feature = c.feature)
    SELECT feature, round(CAST(sum(t) AS DOUBLE), 4) AS psi, n_ref, n_cur
    FROM terms GROUP BY feature, n_ref, n_cur
    ORDER BY feature
    """,
)
def x_drift_report(spark, sf_dir):
    from ..operators.validate import drift_report

    docs = _t(spark, sf_dir, "documents")
    return drift_report(
        docs,
        current=F.col("source") == "src0",
        numeric={"len_chars": (F.col("n_chars"), 200.0)},
        categorical={"lang": F.col("lang")},
    )


@_register(
    "x_table_profile",
    "one-pass per-column table profile of customer (nulls, exact "
    "distinct, min/max as strings): every column's stats ride ONE "
    "aggregate (multiple distincts planned via a single Expand), "
    "transposed to a per-column report by an inline struct-array "
    "explode — ANALYZE TABLE as a query (north-star)",
    "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS column_name,
           CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_value,
           CAST(max({c}) AS VARCHAR) AS max_value
    FROM customer"""
        for c in _PROFILE_COLS
    )
    + "\nORDER BY column_name",
)
def x_table_profile(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    aggs = []
    for col in _PROFILE_COLS:
        aggs.extend(_profile_col(col))
    wide = c.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(col).alias("column_name"),
                F.col(f"__nn_{col}").alias("n_nulls"),
                F.col(f"__nd_{col}").alias("n_distinct"),
                F.col(f"__mn_{col}").alias("min_value"),
                F.col(f"__mx_{col}").alias("max_value"),
            )
            for col in _PROFILE_COLS
        ]
    )
    return (
        wide.select(F.explode(entries).alias("e"))
        .select("e.*")
        .orderBy("column_name")
    )


@_register(
    "x_dedup_snm_multipass",
    "multi-pass sorted-neighborhood: the head-key window UNION a "
    "rotated tail-key window, one shared full-set Jaccard verify — the "
    "classic mitigation for SNM's key-locality recall hole at 2x "
    "candidate cost, still linear per pass (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    sh AS (SELECT doc_id, {_shingles_sql(3)} AS s FROM toks),
    k1 AS (SELECT doc_id, t[1] AS block,
                  array_to_string(t[1:3], ' ') AS skey FROM toks),
    k2 AS (SELECT doc_id, t[-1] AS block,
                  array_to_string(list_slice(t, greatest(len(t) - 2, 1),
                                             len(t)), ' ') AS skey
           FROM toks),
    r1 AS (SELECT doc_id, block,
                  row_number() OVER (PARTITION BY block
                                     ORDER BY skey, doc_id) AS rn FROM k1),
    r2 AS (SELECT doc_id, block,
                  row_number() OVER (PARTITION BY block
                                     ORDER BY skey, doc_id) AS rn FROM k2),
    cand AS (
      SELECT DISTINCT doc_a, doc_b FROM (
        SELECT least(a.doc_id, b.doc_id) AS doc_a,
               greatest(a.doc_id, b.doc_id) AS doc_b
        FROM r1 a JOIN r1 b
        ON a.block = b.block
           AND b.rn BETWEEN a.rn + 1 AND a.rn + {_SNM_WINDOW - 1}
        UNION ALL
        SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id)
        FROM r2 a JOIN r2 b
        ON a.block = b.block
           AND b.rn BETWEEN a.rn + 1 AND a.rn + {_SNM_WINDOW - 1})),
    {_JACCARD_VERIFY_SQL}
    """,
)
def x_dedup_snm_multipass(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return _dd.sorted_neighborhood_pairs_multipass(
        docs, "text", "doc_id", n=3, window=_SNM_WINDOW, threshold=0.8
    )


@_register(
    "w_rank_functions",
    "ranking-window breadth in one pass: rank / dense_rank / "
    "percent_rank / cume_dist / ntile(4) over account balance WITHIN "
    "each nation — all five share one partitioned sort (and the window "
    "is always partitioned: a global ranking window is the single-task "
    "scale killer this catalog bans everywhere)",
    """
    SELECT c_nationkey, c_custkey,
           round(c_acctbal, 2) AS acctbal,
           rank()         OVER w AS rnk,
           dense_rank()   OVER w AS drnk,
           floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000.0 AS prank,
           floor(cume_dist()    OVER w * 1000000 + 0.5) / 1000000.0 AS cdist,
           ntile(4)       OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def w_rank_functions(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_nationkey",
        "c_custkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        # explicit floor(x*1e6+0.5)/1e6 rounding: rank ratios are often
        # exactly-dyadic (41/640 = .0640625) and engine round() .5
        # semantics differ — same fix as w_event_gap_stats
        (F.floor(F.percent_rank().over(w) * 1000000 + F.lit(0.5)) / 1000000.0
         ).alias("prank"),
        (F.floor(F.cume_dist().over(w) * 1000000 + F.lit(0.5)) / 1000000.0
         ).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


@_register(
    "x_pmi_collocations",
    "top-25 collocations by PMI (freq >= 5): bigram + unigram counts "
    "off one token projection, scalar totals as a 1-row broadcast, "
    "distributed TakeOrdered top-k — the phrase-mining signal for "
    "tokenizer/vocab construction (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    grams AS (SELECT doc_id, unnest({_BIGRAMS_SQL}) AS gram FROM toks),
    words AS (SELECT unnest(t) AS w FROM toks),
    ucnt AS (SELECT w, count(*) AS cw FROM words GROUP BY w),
    n1 AS (SELECT count(*) AS n1 FROM words),
    n2 AS (SELECT count(*) AS n2 FROM grams),
    big AS (SELECT gram, count(*) AS cab,
                   string_split(gram, ' ')[1] AS wa,
                   string_split(gram, ' ')[2] AS wb
            FROM grams GROUP BY gram HAVING count(*) >= 5)
    SELECT gram, cab AS freq,
           round(ln((cab * 1.0 / n2) /
                    ((ca.cw * 1.0 / n1) * (cb.cw * 1.0 / n1))), 4) AS pmi
    FROM big JOIN ucnt ca ON ca.w = wa
             JOIN ucnt cb ON cb.w = wb
             CROSS JOIN n1 CROSS JOIN n2
    ORDER BY pmi DESC, gram LIMIT 25
    """,
)
def x_pmi_collocations(spark, sf_dir):
    return _ts.pmi_collocations(
        _t(spark, sf_dir, "documents"), "text", "doc_id", min_count=5, k=25
    )


_FH_DIM = 16


def _fh_sql(dim: int) -> str:
    b = "(" + " + ".join(
        f"(instr('0123456789abcdef', substr(h, {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
        for j in range(8)
    ) + f") % {dim}"
    sign = ("CASE WHEN instr('0123456789abcdef', substr(h, 9, 1)) - 1 >= 8 "
            "THEN 1.0 ELSE -1.0 END")
    sums = ",\n           ".join(
        f"sum(CASE WHEN b = {j} THEN s ELSE 0.0 END) AS c{j}"
        for j in range(dim)
    )
    vec = "list_value(" + ", ".join(f"c{j}" for j in range(dim)) + ")"
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    tok AS (SELECT doc_id, md5('fh:' || w) AS h
            FROM (SELECT doc_id, unnest(t) AS w FROM toks)),
    contrib AS (SELECT doc_id, {b} AS b, {sign} AS s FROM tok),
    wide AS (SELECT doc_id,
           {sums}
     FROM contrib GROUP BY doc_id),
    vecs AS (SELECT doc_id, {vec} AS v FROM wide),
    normed AS (SELECT doc_id, v,
                      sqrt(list_reduce(list_transform(v, x -> x * x),
                                       (a, x) -> a + x)) AS nrm
               FROM vecs)
    SELECT doc_id,
           list_transform(v, x -> round(CASE WHEN nrm > 0 THEN x / nrm
                                             ELSE 0.0 END, 6)) AS embedding
    FROM normed
    """


@_register(
    "x_feature_hash_embed",
    "text -> dense vector by the hashing trick (signed md5 buckets, "
    "L2-normalized): the trained-vocabulary-free bridge from the text "
    "tables into every embedding operator — one explode + one grouped "
    "aggregate with all dim sums in the map-side partial. Emitted "
    "LONG-FORM (doc_id, dim, value): the driver's canonicalizer sorts "
    "rows through pandas, where an array<double> column is unsortable "
    "(r5 driver error) — scalar columns only in registered outputs "
    "(north-star)",
    f"""
    WITH fh AS ({_fh_sql(_FH_DIM)})
    SELECT doc_id, unnest(range({_FH_DIM})) AS dim, unnest(embedding) AS value
    FROM fh
    """,
)
def x_feature_hash_embed(spark, sf_dir):
    emb = _sim.feature_hash_embed(
        _t(spark, sf_dir, "documents"), "text", "doc_id", dim=_FH_DIM
    )
    return emb.select(
        F.col("id").alias("doc_id"), F.posexplode("embedding").alias("dim", "value")
    ).select("doc_id", F.col("dim").cast("bigint").alias("dim"), "value")


@_register(
    "x_text_knn_e2e",
    "end-to-end text similarity search with no trained artifacts: "
    "feature-hash embed the corpus, then exact cosine top-3 for the "
    "first three docs as queries — proves the text->vector bridge "
    "composes with the KNN operators (query side broadcast, final "
    "bounded top-k window) (north-star)",
    f"""
    WITH fh AS ({_fh_sql(_FH_DIM)}),
    q AS (SELECT doc_id AS query_id, embedding AS qv FROM fh WHERE doc_id < 3),
    scored AS (
      SELECT query_id, fh.doc_id AS neighbor_id,
             {_cos_sql('qv', 'fh.embedding')} AS sim
      FROM q JOIN fh ON fh.doc_id <> q.query_id)
    SELECT query_id, neighbor_id, rank, round(sim, 4) AS sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= 3
    """,
)
def x_text_knn_e2e(spark, sf_dir):
    # the embedding feeds both the base and the query side
    emb = cached(_sim.feature_hash_embed(
        _t(spark, sf_dir, "documents"), "text", "doc_id", dim=_FH_DIM
    ))
    return _sim.knn_bruteforce(
        emb, emb.filter(F.col("id") < 3), k=3, id_col="id"
    )


# ---------------------------------------------------------------------------
# Round-4 continuation: the remaining canonical TPC-H decision-support
# shapes the catalog didn't yet cover, each picked for a DISTINCT
# decorrelation/plan pattern (the reference's serving queries are all
# simple aggregates — these prove the engine handles the full ad-hoc
# analytics surface a reference user would eventually ask of it):
#   Q2  -> argmin-per-group decorrelated into a min join-back
#   Q13 -> outer-join count distribution (double aggregate)
#   Q15 -> max-over-aggregate scalar join-back
#   Q17 -> correlated AVG subquery decorrelated into a per-key join
#   Q22 -> global scalar threshold + anti-join
# ---------------------------------------------------------------------------


@_register(
    "q2_min_cost_supplier",
    "argmin-per-group (TPC-H Q2 shape): cheapest supplier per part — "
    "correlated MIN subquery decorrelated into aggregate + equality "
    "join-back; the part filter is a broadcast prune on the grouped "
    "side, suppliers broadcast onto the tiny winner set. min() returns "
    "an ACTUAL group value, so the double equality join is exact — no "
    "epsilon needed",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem
      WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
      GROUP BY l_partkey, l_suppkey),
    mn AS (SELECT l_partkey, min(unit_cost) AS min_cost FROM ps GROUP BY l_partkey)
    SELECT p_partkey, p_name, s_suppkey, s_name,
           floor(ps.unit_cost * 10000 + 0.5) / 10000.0 AS unit_cost
    FROM ps
    JOIN mn ON ps.l_partkey = mn.l_partkey AND ps.unit_cost = mn.min_cost
    JOIN part ON p_partkey = ps.l_partkey AND p_size = 25
    JOIN supplier ON s_suppkey = ps.l_suppkey
    ORDER BY p_partkey, s_suppkey
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") == 25)
    sup = _t(spark, sf_dir, "supplier")
    # ps feeds BOTH the min-per-part aggregate and the equality join
    # back; the explicit key notnull filter matches the isnotnull the
    # join branch pushes into its scan, so the two ps subtrees
    # canonicalize EQUAL and AQE reuses one shuffle (ReusedExchange) —
    # without it the fact table is scanned and shuffled twice
    ps = (
        li.filter(F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull())
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    mn = ps.groupBy(F.col("l_partkey").alias("__mnpk")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    win = (
        ps.join(
            mn,
            (ps.l_partkey == F.col("__mnpk")) & (ps.unit_cost == F.col("min_cost")),
        )
        .select("l_partkey", "l_suppkey", "unit_cost")
        .join(F.broadcast(part), ps.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    # explicit floor(x*1e4+0.5)/1e4: price/quantity ratios can land on
    # a 4th-decimal .5 where engine round() semantics differ (same fix
    # as w_event_gap_stats / w_rank_functions, found at sf0.1)
    return win.select(
        "p_partkey", "p_name", "s_suppkey", "s_name",
        (F.floor(F.col("unit_cost") * 10000 + F.lit(0.5)) / 10000.0
         ).alias("unit_cost"),
    ).orderBy("p_partkey", "s_suppkey")


@_register(
    "q13_order_count_dist",
    "outer-join count distribution (TPC-H Q13 shape): orders-per-"
    "customer histogram INCLUDING zero-order customers. Aggregate-"
    "before-join: orders collapse to one row per custkey FIRST (the only "
    "wide shuffle), the left join then carries |customer| rows, and the "
    "second aggregate is over a tiny distinct-count domain",
    """
    WITH oc AS (
      SELECT o_custkey, count(*) AS n
      FROM orders WHERE o_orderpriority <> '1-URGENT'
      GROUP BY o_custkey),
    co AS (
      SELECT c_custkey, coalesce(n, 0) AS c_count
      FROM customer LEFT JOIN oc ON c_custkey = o_custkey)
    SELECT c_count, count(*) AS custdist
    FROM co GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_count_dist(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    oc = (
        o.filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    co = c.join(oc, c.c_custkey == oc.o_custkey, "left").select(
        F.coalesce("n", F.lit(0)).alias("c_count")
    )
    return (
        co.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@_register(
    "q15_top_supplier",
    "max-over-aggregate join-back (TPC-H Q15 shape): quarterly revenue "
    "per supplier, keep the row(s) hitting the global max — the scalar "
    "max is a 1-row broadcast against the aggregated frame (never "
    "against the fact table), supplier dim broadcasts onto the winner. "
    "Revenue is rounded to 2 BEFORE the max compare on both engines so "
    "the equality is on identical doubles",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        AND l_suppkey IS NOT NULL
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    # the key notnull filter makes the rev subtree under the max branch
    # and under the supplier join canonically identical, so AQE reuses
    # ONE shuffle for both (see q2_min_cost_supplier)
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
            & F.col("l_suppkey").isNotNull()
        )
        .groupBy("l_suppkey")
        .agg(
            # decimal-exact sum (order-free) rounded in decimal: this
            # value feeds the max-equality join, where ANY cross-engine
            # divergence (ulp from double sum order, or .5 rounding)
            # would change WHICH ROWS return
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("total_rev")
        )
    )
    mx = rev.agg(F.max("total_rev").alias("__mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_rev == F.col("__mx"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


@_register(
    "q17_small_qty_revenue",
    "correlated AVG subquery decorrelated (TPC-H Q17 shape): lines of "
    "one brand whose quantity is below half that part's average — the "
    "per-part avg is ONE aggregate joined back on the part key (Catalyst "
    "gets a single shuffle on l_partkey reused by agg and join), the "
    "brand filter broadcasts, the answer is a single global row",
    """
    WITH pq AS (
      SELECT l_partkey, 0.5 * avg(l_quantity) AS half_avg
      FROM lineitem GROUP BY l_partkey),
    sel AS (
      SELECT l.l_extendedprice
      FROM lineitem l
      JOIN part ON p_partkey = l.l_partkey AND p_brand = 'Brand#12'
      JOIN pq ON pq.l_partkey = l.l_partkey
      WHERE l.l_quantity < half_avg)
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
                      AS DOUBLE) / 7.0, 2) AS avg_yearly,
           count(*) AS n_lines
    FROM sel
    """,
)
def q17_small_qty_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#12")
    pq = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg")
    )
    sel = (
        li.join(F.broadcast(part), li.l_partkey == F.col("p_partkey"))
        .join(pq, li.l_partkey == F.col("__pk"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
    )
    return sel.agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double")
            / 7.0,
            2,
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@_register(
    "q22_idle_rich_customers",
    "global scalar threshold + anti-join (TPC-H Q22 shape): customers "
    "with above-average balance and NO urgent orders, aggregated by "
    "nation. The global avg rides a 1-row broadcast (the only NLJ, "
    "bounded), the NOT EXISTS is a left_anti against the urgent-order "
    "keys — never a full orders shuffle against customer",
    """
    WITH ab AS (SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0),
    rich AS (
      SELECT c_custkey, c_nationkey, c_acctbal
      FROM customer, ab WHERE c_acctbal > a),
    idle AS (
      SELECT r.* FROM rich r
      WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = r.c_custkey AND o_orderpriority = '1-URGENT'))
    SELECT c_nationkey, count(*) AS numcust,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS totacctbal
    FROM idle GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)
def q22_idle_rich_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    ab = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("__a"))
    rich = (
        c.crossJoin(F.broadcast(ab))
        .filter(F.col("c_acctbal") > F.col("__a"))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    idle = rich.join(urgent, rich.c_custkey == urgent.o_custkey, "left_anti")
    return (
        idle.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@_register(
    "p_cdc_compact",
    "changelog compaction (K5 batch twin / Kafka log-compaction "
    "semantics): latest state per key by (ts, id) — one shuffle on the "
    "key, per-key ordered window, rank 1. This is the batch equivalent "
    "of the reference's Redis last-write-wins dim upsert "
    "(DwdOrderApp-style state maintenance) over the events stream",
    """
    SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
           round(value, 2) AS value
    FROM (
      SELECT user_id, event_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
    ORDER BY user_id
    """,
)
def p_cdc_compact(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_type",
            F.round("value", 2).alias("value"),
        )
        .orderBy("user_id")
    )


_IDOT = (
    "list_reduce(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]), "
    "(x, y) -> x + y)"
)


@_register(
    "x_knn_sq8",
    "int8 scalar-quantized top-k + exact re-rank: per-dim max-abs "
    "scales as a 1-row broadcast model, candidate ranking by EXACT "
    "integer code dot products (1 byte/dim on the wide scan instead of "
    "8 — the spill-vs-memory difference at 100 TB), full-precision "
    "vectors fetched by id equi-join only for the bounded refine*k "
    "re-rank set. The fidelity tier between x_knn_bruteforce and "
    "x_knn_pq (north-star scale path)",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    d AS (SELECT i, max(abs(x)) AS m
          FROM (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e)
          GROUP BY i),
    s AS (SELECT list(m ORDER BY i) AS sc FROM d),
    qz AS (SELECT vec_id,
             list_transform(range(1, len(v) + 1),
               i -> CAST(floor((CASE WHEN sc[i] > 0 THEN v[i] / sc[i] * 127
                                     ELSE 0.0 END) + 0.5) AS BIGINT)) AS q
           FROM e, s),
    qn AS (SELECT vec_id, q, sqrt(CAST({_IDOT.format(a='q', b='q')} AS DOUBLE)) AS n
           FROM qz),
    qs AS (SELECT vec_id AS query_id, q AS qq, n AS qqn FROM qn WHERE vec_id < 5),
    approx AS (
      SELECT query_id, z.vec_id AS neighbor_id,
             CAST({_IDOT.format(a='qq', b='z.q')} AS DOUBLE) / (qqn * z.n) AS asim
      FROM qs JOIN qn z ON z.vec_id <> qs.query_id),
    cand AS (SELECT query_id, neighbor_id FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY asim DESC, neighbor_id) AS arank
      FROM approx) WHERE arank <= 15),
    rer AS (
      SELECT query_id, neighbor_id, {_cos_sql('qe.v', 'ne.v')} AS sim
      FROM cand
      JOIN e qe ON qe.vec_id = cand.query_id
      JOIN e ne ON ne.vec_id = cand.neighbor_id)
    SELECT query_id, neighbor_id, rank, round(sim, 4) AS sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
      FROM rer) WHERE rank <= 5
    """,
)
def x_knn_sq8(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.sq8_topk(emb, emb.filter(F.col("vec_id") < 5), k=5, refine=3)


@_register(
    "q11_important_parts",
    "aggregate vs global-threshold scalar (TPC-H Q11 shape): per-part "
    "value, keep parts above a fraction of TOTAL value — the total is "
    "re-aggregated from the per-part frame (never a second fact scan) "
    "and rides a 1-row broadcast into the filter",
    """
    WITH pv AS (
      SELECT l_partkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS val
      FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT CAST(sum(CAST(val AS DECIMAL(18,6))) AS DOUBLE)
                   * 0.0005 AS cutoff FROM pv)
    SELECT l_partkey, round(val, 2) AS part_value
    FROM pv, tot WHERE val > cutoff
    ORDER BY part_value DESC, l_partkey
    """,
)
def q11_important_parts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # decimal-exact per-part sums: double partial sums are partition-
    # order dependent; both the display rounding and the cutoff
    # comparison need the exact value (see the q9/q10 1-cent diffs)
    pv = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("val")
    )
    # the cutoff decides MEMBERSHIP — re-aggregate through decimal so
    # it's the identical double on every engine and partitioning
    tot = pv.agg(
        (F.sum(F.col("val").cast("decimal(18,6)")).cast("double") * 0.0005).alias(
            "cutoff"
        )
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("val") > F.col("cutoff"))
        .select("l_partkey", F.round("val", 2).alias("part_value"))
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


@_register(
    "q14_promo_revenue_share",
    "conditional-aggregate ratio (TPC-H Q14 shape): promo revenue share "
    "in one month — the CASE rides INSIDE the aggregate so both the "
    "numerator and denominator come out of a single scan + single "
    "grouped reduction; the part type dim broadcasts onto the "
    "date-pruned fact scan",
    """
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                ELSE CAST(0.0 AS DECIMAL(18,6)) END) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,6))) AS DOUBLE), 4) AS promo_share,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-12-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    """,
)
def q14_promo_revenue_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-12-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            # decimal-exact numerator/denominator (order-free), ratio in
            # double of identical inputs -> deterministic
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev)
                    .otherwise(F.lit(0.0))
                    .cast("decimal(18,6)")
                ).cast("double")
                / F.sum(rev.cast("decimal(18,6)")).cast("double"),
                4,
            ).alias("promo_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@_register(
    "x_sq8_recall",
    "recall@k of the SQ8 quantized search vs exact brute force — "
    "quantifies what the int8 candidate ranking + narrow refine window "
    "actually costs in recall, same measure-the-approximation "
    "discipline as x_ann_recall / x_minhash_recall (north-star)",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    d AS (SELECT i, max(abs(x)) AS m
          FROM (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e)
          GROUP BY i),
    s AS (SELECT list(m ORDER BY i) AS sc FROM d),
    qz AS (SELECT vec_id,
             list_transform(range(1, len(v) + 1),
               i -> CAST(floor((CASE WHEN sc[i] > 0 THEN v[i] / sc[i] * 127
                                     ELSE 0.0 END) + 0.5) AS BIGINT)) AS q
           FROM e, s),
    qn AS (SELECT vec_id, q, sqrt(CAST({_IDOT.format(a='q', b='q')} AS DOUBLE)) AS n
           FROM qz),
    qs AS (SELECT vec_id AS query_id, q AS qq, n AS qqn FROM qn WHERE vec_id < 20),
    ap AS (
      SELECT query_id, z.vec_id AS neighbor_id,
             CAST({_IDOT.format(a='qq', b='z.q')} AS DOUBLE) / (qqn * z.n) AS asim
      FROM qs JOIN qn z ON z.vec_id <> qs.query_id),
    cand AS (SELECT query_id, neighbor_id FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY asim DESC, neighbor_id) AS arank
      FROM ap) WHERE arank <= 9),
    rer AS (
      SELECT query_id, neighbor_id, {_cos_sql('qe.v', 'ne.v')} AS sim
      FROM cand
      JOIN e qe ON qe.vec_id = cand.query_id
      JOIN e ne ON ne.vec_id = cand.neighbor_id),
    approx AS (SELECT DISTINCT query_id, neighbor_id FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
      FROM rer) WHERE rank <= 3),
    truth AS (SELECT query_id, neighbor_id FROM (
      SELECT q2.vec_id AS query_id, b2.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q2.vec_id
               ORDER BY {_cos_sql('q2.v', 'b2.v')} DESC, b2.vec_id) AS rank
      FROM e q2 JOIN e b2 ON b2.vec_id <> q2.vec_id WHERE q2.vec_id < 20)
      WHERE rank <= 3),
    bt AS (SELECT query_id, count(*) AS n_truth FROM truth GROUP BY query_id),
    hits AS (SELECT query_id, count(*) AS n_hits
             FROM truth JOIN approx USING (query_id, neighbor_id)
             GROUP BY query_id)
    SELECT query_id, n_truth, coalesce(n_hits, 0) AS n_hits,
           round(coalesce(n_hits, 0) * 1.0 / n_truth, 4) AS recall
    FROM bt LEFT JOIN hits USING (query_id)
    """,
)
def x_sq8_recall(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    truth = _sim.knn_bruteforce(emb, queries, k=3)
    approx = _sim.sq8_topk(emb, queries, k=3, refine=3)
    return _sim.ann_recall(truth, approx)


@_register(
    "q21_waiting_suppliers",
    "correlated EXISTS + NOT EXISTS on the same fact (TPC-H Q21 shape): "
    "suppliers whose returned lines sit in multi-supplier orders where "
    "NO other supplier returned — decorrelated into a left_semi and a "
    "left_anti against the same fact, each an equi-join on the order "
    "key with the suppkey<> residual riding along (never a theta join); "
    "supplier dim broadcasts at the end",
    """
    WITH l1 AS (SELECT l_orderkey, l_suppkey FROM lineitem
                WHERE l_returnflag = 'R')
    SELECT s_name, count(*) AS numwait
    FROM l1 JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
)
def q21_waiting_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    l2 = li.select(
        F.col("l_orderkey").alias("__ok2"), F.col("l_suppkey").alias("__sk2")
    )
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("__ok3"), F.col("l_suppkey").alias("__sk3"))
    )
    waiting = (
        l1.join(
            l2,
            (l1.l_orderkey == F.col("__ok2")) & (l1.l_suppkey != F.col("__sk2")),
            "left_semi",
        )
        .join(
            l3,
            (l1.l_orderkey == F.col("__ok3")) & (l1.l_suppkey != F.col("__sk3")),
            "left_anti",
        )
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        waiting.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


@_register(
    "q19_disjunctive_predicates",
    "OR-of-ANDs join predicate (TPC-H Q19 shape): three brand/size/"
    "quantity bands OR'd together — the shared p_partkey = l_partkey "
    "equi key keeps the join hash-based (the disjunction is a residual "
    "filter, never a nested loop), and Catalyst extracts the common "
    "quantity/size bounds into scan-level pushdowns",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 21)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50
           AND l_quantity >= 20 AND l_quantity <= 40)
    """,
)
def q19_disjunctive_predicates(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    bands = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .filter(bands)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@_register(
    "x_dedup_keep_longest",
    "quality-aware survivor selection: near-dup clusters -> keep the "
    "LONGEST member per cluster (ties to the smaller id) — the "
    "longest-copy-survives heuristic a CCNet-style dedup materializes "
    "as its output table, vs x_dedup_cluster's min-id canonical. One "
    "keyed window over the (doc, cluster) frame; singletons keep "
    "themselves by construction (north-star)",
    f"""
    SELECT cluster_id, doc_id AS kept_doc_id, n_members,
           n_chars AS kept_chars
    FROM (
      SELECT l.cluster_id, d.doc_id, d.n_chars,
             count(*) OVER (PARTITION BY l.cluster_id) AS n_members,
             row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id) AS rk
      FROM ({_CLUSTER_SQL}) l JOIN documents d USING (doc_id))
    WHERE rk = 1
    ORDER BY cluster_id
    """,
)
def x_dedup_keep_longest(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    # shares the materialized cluster-label table with x_dedup_cluster
    # (one clustering pass per process, not one per consumer entry)
    labs = _cluster_labels(spark, sf_dir)
    w = Window.partitionBy("cluster_id")
    wr = w.orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        labs.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("n_members", F.count(F.lit(1)).over(w))
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            "n_members",
            F.col("n_chars").alias("kept_chars"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Remaining TPC-H shapes (Q4/Q7/Q8/Q9/Q10/Q12/Q16/Q20), adapted where the
# testdata lacks a TPC-H column (no partsupp/shipmode/receiptdate): the
# PLAN SHAPE is the thing each entry pins, substitutions are noted.
# ---------------------------------------------------------------------------


@_register(
    "q4_priority_check",
    "EXISTS-decorrelated semi join into a date-windowed histogram "
    "(TPC-H Q4 shape; returnflag='R' substitutes for the missing "
    "receipt>commit late test): orders with at least one returned line, "
    "counted by priority — the exists list is an aggregate-free semi "
    "join on the order key",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_priority_check(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ret = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .join(ret, o.o_orderkey == ret.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@_register(
    "q7_nation_volume",
    "two independent dim chains to one fact + disjunctive pair filter "
    "(TPC-H Q7 shape): customer nation via orders, supplier nation via "
    "lineitem, keep the two directed pairs, yearly volume — nations "
    "broadcast twice under different aliases",
    """
    SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = c_nationkey
    JOIN nation n2 ON n2.n_nationkey = s_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n1.n_name, n2.n_name, l_year
    ORDER BY cust_nation, supp_nation, l_year
    """,
)
def q7_nation_volume(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    n1 = nat.select(
        F.col("n_nationkey").alias("__nk1"), F.col("n_name").alias("cust_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("__nk2"), F.col("n_name").alias("supp_nation")
    )
    pair = (
        (F.col("cust_nation") == "NATION_1") & (F.col("supp_nation") == "NATION_2")
    ) | ((F.col("cust_nation") == "NATION_2") & (F.col("supp_nation") == "NATION_1"))
    j = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("__nk1") == F.col("c_nationkey"))
        .join(F.broadcast(n2), F.col("__nk2") == F.col("s_nationkey"))
        .filter(pair)
    )
    return (
        j.groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            # DECIMAL-exact revenue: double partial sums are partition-
            # order dependent and can cross a 2-decimal boundary (1-cent
            # cross-engine diffs seen at sf0.01 on q9/q10); decimal
            # addition is exact and order-free
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("cust_nation", "supp_nation", "l_year")
    )


@_register(
    "q8_market_share",
    "conditional-ratio market share by year (TPC-H Q8 shape): one "
    "supplier nation's share of an entire region's customer market — "
    "the CASE rides inside both aggregates of a single grouped "
    "reduction; ratio rounded by the explicit floor form (engine "
    "round() .5 semantics differ)",
    """
    WITH base AS (
      SELECT CAST(year(l_shipdate) AS BIGINT) AS l_year,
             l_extendedprice * (1 - l_discount) AS rev,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = c_nationkey
      JOIN region ON r_regionkey = n1.n_regionkey AND r_name = 'AMERICA'
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s_nationkey)
    SELECT l_year,
           floor(CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                               THEN CAST(rev AS DECIMAL(18,6))
                               ELSE CAST(0.0 AS DECIMAL(18,6)) END) AS DOUBLE)
                 / CAST(sum(CAST(rev AS DECIMAL(18,6))) AS DOUBLE)
                 * 1000000 + 0.5)
             / 1000000.0 AS mkt_share,
           count(*) AS n_lines
    FROM base GROUP BY l_year ORDER BY l_year
    """,
)
def q8_market_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = nat.select(
        F.col("n_nationkey").alias("__nk1"), F.col("n_regionkey").alias("__rk1")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("__nk2"), F.col("n_name").alias("supp_nation")
    )
    base = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("__nk1") == F.col("c_nationkey"))
        .join(F.broadcast(reg), F.col("r_regionkey") == F.col("__rk1"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n2), F.col("__nk2") == F.col("s_nationkey"))
        .select(
            F.year("l_shipdate").cast("long").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
            "supp_nation",
        )
    )
    share = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("rev"))
        .otherwise(F.lit(0.0))
        .cast("decimal(18,6)")
    ).cast("double") / F.sum(F.col("rev").cast("decimal(18,6)")).cast("double")
    return (
        base.groupBy("l_year")
        .agg(
            (F.floor(share * 1000000 + F.lit(0.5)) / 1000000.0).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("l_year")
    )


@_register(
    "q9_product_profit",
    "LIKE-filtered multi-dim profit rollup (TPC-H Q9 shape; revenue "
    "substitutes for profit — no partsupp supplycost in the testdata): "
    "parts matching '%gizmo%', revenue by supplier nation and year — "
    "the LIKE prunes through a broadcast dim before the fact joins",
    """
    SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS l_year,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey AND p_name LIKE '%gizmo%'
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    GROUP BY n_name, l_year
    ORDER BY nation, l_year DESC
    """,
)
def q9_product_profit(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gizmo%"))
    s = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            # DECIMAL-exact revenue: double partial sums are partition-
            # order dependent and can cross a 2-decimal boundary (1-cent
            # cross-engine diffs seen at sf0.01 on q9/q10); decimal
            # addition is exact and order-free
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("nation", F.col("l_year").desc())
    )


@_register(
    "q10_returned_revenue",
    "returned-item top customers (TPC-H Q10 shape): revenue lost to "
    "'R' lines in one quarter per customer with nation, top 20 — "
    "ordering on the ROUNDED revenue with a key tiebreak so the limit "
    "is deterministic cross-engine; must plan TakeOrdered, never a "
    "global sort",
    """
    SELECT c_custkey, c_name, n_name AS nation,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@_register(
    "q12_priority_by_status",
    "conditional two-way counts on a fact join (TPC-H Q12 shape; "
    "l_linestatus substitutes for the missing shipmode): per status, "
    "high- vs low-priority order line counts in one year — both counts "
    "out of ONE grouped reduction",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q12_priority_by_status(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@_register(
    "q16_supplier_count",
    "distinct-count with an exclusion list (TPC-H Q16 shape; negative "
    "account balance substitutes for the complaints LIKE): suppliers "
    "per (brand, size) for selected sizes, excluding one brand and the "
    "bad-supplier list — NOT IN decorrelates to a left_anti (the bad "
    "list is null-free by construction), then count(DISTINCT)",
    """
    SELECT p_brand, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (10, 20, 30)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    """,
)
def q16_supplier_count(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(10, 20, 30)
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
    )


@_register(
    "q20_part_promotion",
    "nested semi-join chain over an aggregated subquery (TPC-H Q20 "
    "shape; shipped-quantity threshold substitutes for the missing "
    "partsupp availqty): suppliers who moved >45 units of some size-25 "
    "part in 1996 — the inner aggregate's qualifying keys semi-join the "
    "supplier dim",
    """
    WITH hot AS (
      SELECT l_suppkey
      FROM lineitem JOIN part ON p_partkey = l_partkey AND p_size = 25
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_suppkey, l_partkey HAVING sum(l_quantity) > 45)
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM hot)
    ORDER BY s_suppkey
    """,
)
def q20_part_promotion(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") == 25)
    sup = _t(spark, sf_dir, "supplier")
    hot = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 45)
        .select("l_suppkey")
    )
    return (
        sup.join(hot, sup.s_suppkey == hot.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


# round-5 additions ----------------------------------------------------------


def _cluster_sample_sql(n_cent: int, iters: int, cap: int) -> str:
    """Cluster-balanced sample oracle: the shared k-means training prefix
    (_kmeans_parts — identical CTEs to the IVF oracle), corpus
    assignment, then the md5-seeded per-cluster window."""
    parts, prev = _kmeans_parts(n_cent, iters)
    parts.append(
        f"sf AS (SELECT e.id, e.v, {prev}.cid, "
        f"{_cos_sql('e.v', prev + '.c')} AS sim FROM e CROSS JOIN {prev})"
    )
    parts.append(
        "asg AS (SELECT id, cid FROM "
        f"{_KM_ASSIGN.format(key='id', src='sf')} WHERE rn = 1)"
    )
    return (
        ",\n".join(parts)
        + "\nSELECT cid, vec_id, pos FROM ("
        "SELECT cid, id AS vec_id, row_number() OVER (PARTITION BY cid "
        "ORDER BY md5('cbs:' || CAST(id AS VARCHAR)), id) AS pos FROM asg) "
        f"WHERE pos <= {cap}"
    )


@_register(
    "x_cluster_balanced_sample",
    "topic-balanced corpus selection: k-means cluster assignment (shared "
    "trained model with the IVF family) + per-cluster seeded-hash quota — "
    "the DataComp/SemDeDup-style curation step that stops one topic from "
    "dominating the mixture; oracle replays training, assignment and the "
    "md5 window (north-star)",
    _cluster_sample_sql(n_cent=8, iters=3, cap=10),
)
def x_cluster_balanced_sample(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cents = _trained("ivf", spark, sf_dir, n_centroids=8, iters=3)
    return _sim.cluster_balanced_sample(emb, cents, cap=10)


_RP_MAT = _sim.randproj_matrix(16, 64)
_RP_LIT = (
    "["
    + ", ".join("[" + ", ".join(f"{x:.1f}" for x in row) + "]" for row in _RP_MAT)
    + "]"
)


def _randproj_cand_sql(q_max: int, k: int, shortlist: int) -> list[str]:
    """Shared CTE list: JL-projected vectors -> per-query shortlist ->
    exact full-dimension re-rank scores (unranked)."""
    proj = (
        "list_transform(p.m, pr -> list_reduce(list_transform("
        "range(1, len(v) + 1), i -> v[i] * pr[i]), (x, y) -> x + y))"
    )
    return [
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"p AS (SELECT {_RP_LIT}::DOUBLE[][] AS m)",
        f"pe AS (SELECT vec_id, {proj} AS rv FROM e CROSS JOIN p)",
        f"q AS (SELECT vec_id AS query_id, rv AS rq FROM pe WHERE vec_id < {q_max})",
        "cand AS (SELECT query_id, neighbor_id FROM ("
        "SELECT query_id, pe.vec_id AS neighbor_id, "
        f"row_number() OVER (PARTITION BY query_id ORDER BY "
        f"{_cos_sql('rq', 'pe.rv')} DESC, pe.vec_id) AS prank "
        f"FROM q JOIN pe ON pe.vec_id <> q.query_id) WHERE prank <= {shortlist * k})",
        "rer AS (SELECT query_id, neighbor_id, "
        f"{_cos_sql('qe.v', 'ne.v')} AS sim FROM cand "
        "JOIN e qe ON qe.vec_id = cand.query_id "
        "JOIN e ne ON ne.vec_id = cand.neighbor_id)",
    ]


@_register(
    "x_knn_randproj",
    "Johnson-Lindenstrauss compressed top-k: deterministic ±1 projection "
    "(LCG signs, model-as-data broadcast) ranks candidates in 16 dims, "
    "exact cosine re-ranks the shortlist — the no-training compress-then-"
    "refine path beside SQ8/PQ; candidate generation never touches the "
    "full-dimension vector (north-star scale path)",
    ",\n".join(_randproj_cand_sql(q_max=20, k=3, shortlist=4))
    + "\nSELECT query_id, neighbor_id, rank, round(sim, 4) AS sim FROM ("
    "SELECT *, row_number() OVER (PARTITION BY query_id "
    "ORDER BY sim DESC, neighbor_id) AS rank FROM rer) WHERE rank <= 3",
)
def x_knn_randproj(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.knn_randproj(
        emb, emb.filter(F.col("vec_id") < 20), _RP_MAT, k=3, shortlist=4
    )


@_register(
    "x_randproj_recall",
    "recall@k of the JL-projected shortlist path against exact brute "
    "force — grades the r=16 compression the same way x_ann_recall "
    "grades sign-LSH and x_sq8_recall grades int8 (north-star)",
    ",\n".join(_randproj_cand_sql(q_max=20, k=3, shortlist=4))
    + f""",
    approx AS (SELECT query_id, neighbor_id FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY sim DESC, neighbor_id) AS rank FROM rer) WHERE rank <= 3),
    truth AS (SELECT query_id, neighbor_id FROM (
      SELECT q2.vec_id AS query_id, b2.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q2.vec_id
               ORDER BY {_cos_sql('q2.v', 'b2.v')} DESC, b2.vec_id) AS rank
      FROM e q2 JOIN e b2 ON b2.vec_id <> q2.vec_id WHERE q2.vec_id < 20)
      WHERE rank <= 3),
    bt AS (SELECT query_id, count(*) AS n_truth FROM truth GROUP BY query_id),
    hits AS (SELECT query_id, count(*) AS n_hits
             FROM truth JOIN approx USING (query_id, neighbor_id)
             GROUP BY query_id)
    SELECT query_id, n_truth, coalesce(n_hits, 0) AS n_hits,
           round(coalesce(n_hits, 0) * 1.0 / n_truth, 4) AS recall
    FROM bt LEFT JOIN hits USING (query_id)
    """,
)
def x_randproj_recall(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    truth = _sim.knn_bruteforce(emb, queries, k=3)
    approx = _sim.knn_randproj(emb, queries, _RP_MAT, k=3, shortlist=4)
    return _sim.ann_recall(truth, approx)


@_register(
    "x_embed_label_centroids",
    "per-label embedding cohesion/separation report: one posexplode "
    "aggregate trains the label centroids (O(1) plan in dims), broadcast "
    "back for mean member-to-centroid cosine, max inter-centroid cosine "
    "flags collapsing labels — the embedding-quality gate before ANN "
    "indexes are built on a column (north-star)",
    f"""
    WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
    m AS (SELECT label, pos, round(avg(x), 6) AS m FROM
      (SELECT label, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS pos
       FROM e) GROUP BY label, pos),
    c AS (SELECT label, list(m ORDER BY pos) AS c FROM m GROUP BY label),
    s AS (SELECT e.label, round({_cos_sql('e.v', 'c.c')}, 6) AS s
          FROM e JOIN c USING (label)),
    intra AS (SELECT label, count(*) AS n_vecs,
              floor(CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*) * 10000 + 0.5) / 10000 AS avg_intra_sim
              FROM s GROUP BY label),
    inter AS (SELECT a.label,
              floor(max({_cos_sql('a.c', 'b.c')}) * 10000 + 0.5) / 10000
                AS max_inter_sim
              FROM c a JOIN c b ON a.label <> b.label GROUP BY a.label)
    SELECT label, n_vecs, avg_intra_sim, max_inter_sim
    FROM intra JOIN inter USING (label)
    """,
)
def x_embed_label_centroids(spark, sf_dir):
    return _sim.label_centroid_report(_t(spark, sf_dir, "embeddings"))


_CONTAM_N, _CONTAM_BENCH = 8, "src0"


@_register(
    "x_contamination_overlap",
    "exact benchmark-contamination audit: per training doc, the fraction "
    "of its 8-grams present anywhere in the benchmark source's gram set "
    "(broadcast — benchmark-sized, never corpus-sized), flag at 0.1 — the "
    "exact-ratio complement to x_decontaminate's bloom membership "
    "(north-star)",
    f"""
    WITH toks AS (SELECT doc_id, source, {_TOKS_SQL} AS t FROM documents),
    sh AS (SELECT doc_id, source, {_shingles_sql(_CONTAM_N)} AS s FROM toks),
    bg AS (SELECT DISTINCT unnest(s) AS g FROM sh
           WHERE source = '{_CONTAM_BENCH}'),
    tr AS (SELECT doc_id, len(s) AS n_grams, s FROM sh
           WHERE source <> '{_CONTAM_BENCH}'),
    hits AS (SELECT doc_id, count(*) AS n_hit
             FROM (SELECT doc_id, unnest(s) AS g FROM tr) x
             JOIN bg USING (g) GROUP BY doc_id)
    SELECT tr.doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
           CASE WHEN n_grams > 0 THEN
                floor(coalesce(n_hit, 0) * 1.0 / n_grams * 10000 + 0.5) / 10000
                ELSE 0.0 END AS overlap_frac,
           CASE WHEN (CASE WHEN n_grams > 0 THEN
                floor(coalesce(n_hit, 0) * 1.0 / n_grams * 10000 + 0.5) / 10000
                ELSE 0.0 END) >= 0.1 THEN 1 ELSE 0 END AS contaminated
    FROM tr LEFT JOIN hits USING (doc_id)
    """,
)
def x_contamination_overlap(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return _cx.contamination_overlap(
        docs, F.col("source") == _CONTAM_BENCH, n=_CONTAM_N, threshold=0.1
    )


@_register(
    "x_gopher_quality_report",
    "per-source Gopher-rule filter report (word-count bounds, mean word "
    "length, stopword floor, top-token dominance): per-doc flags as pure "
    "column expressions over ONE tokenization — no explode — then one "
    "map-side-partial groupBy on source; the per-source go/no-go table a "
    "curation run publishes before mixing (north-star)",
    f"""
    WITH toks AS (SELECT source, {_TOKS_SQL} AS t FROM documents),
    f AS (SELECT source,
      CASE WHEN len(t) < {_ts.GOPHER_WC_MIN}
             OR len(t) > {_ts.GOPHER_WC_MAX} THEN 1 ELSE 0 END AS f_wc,
      CASE WHEN list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t)
             < {_ts.GOPHER_MWL_MIN}
             OR list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t)
             > {_ts.GOPHER_MWL_MAX} THEN 1 ELSE 0 END AS f_mwl,
      CASE WHEN len(list_filter(t, x -> list_contains({_STOPSET_SQL}, x)))
             < {_ts.GOPHER_MIN_STOPWORDS} THEN 1 ELSE 0 END AS f_stop,
      CASE WHEN list_max(list_transform(list_distinct(t),
             w -> len(list_filter(t, x -> x = w)))) * 1.0 / len(t)
             > {_ts.GOPHER_MAX_TOP_TOKEN_FRAC} THEN 1 ELSE 0 END AS f_top
      FROM toks),
    g AS (SELECT *, greatest(f_wc, f_mwl, f_stop, f_top) AS f_any FROM f)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(f_wc) AS BIGINT) AS n_fail_wordcount,
           CAST(sum(f_mwl) AS BIGINT) AS n_fail_wordlen,
           CAST(sum(f_stop) AS BIGINT) AS n_fail_stopwords,
           CAST(sum(f_top) AS BIGINT) AS n_fail_toptoken,
           CAST(count(*) - sum(f_any) AS BIGINT) AS n_pass,
           floor((count(*) - sum(f_any)) * 1.0 / count(*) * 10000 + 0.5)
             / 10000 AS pass_rate
    FROM g GROUP BY source
    """,
)
def x_gopher_quality_report(spark, sf_dir):
    return _ts.gopher_quality_report(
        _t(spark, sf_dir, "documents"), "text", "doc_id", "source"
    )


_ASOF_FWD_TOL_MS = 7_200_000  # 2 h view->purchase attribution window
_ASOF_NEAR_TOL_MS = 600_000  # ±10 min error<->click correlation window


@_register(
    "j_asof_forward",
    "forward as-of join with tolerance (pandas merge_asof "
    "direction='forward'): each view event attaches the user's NEXT "
    "purchase within 2 h — tag+union+ONE descending window per key, "
    "never a range-predicate join (north-star; extends j_asof_prev_order "
    "to the full direction/tolerance surface)",
    f"""
    WITH v AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
               FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id, epoch_ms(ts) AS pts, value AS purchase_value,
                 event_id AS purchase_id
          FROM events WHERE event_type = 'purchase'),
    cand AS (SELECT v.event_id, p.pts, p.purchase_value, p.purchase_id,
                    row_number() OVER (PARTITION BY v.event_id
                      ORDER BY p.pts ASC, p.purchase_id DESC) AS rn
             FROM v JOIN p ON p.user_id = v.user_id
               AND p.pts >= v.ts_ms
               AND p.pts - v.ts_ms <= {_ASOF_FWD_TOL_MS})
    SELECT v.event_id, v.user_id, v.ts_ms,
           c.pts AS purchase_ts_ms, c.purchase_value, c.purchase_id
    FROM v LEFT JOIN cand c ON c.event_id = v.event_id AND c.rn = 1
    """,
)
def j_asof_forward(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", F.unix_millis("ts").alias("ts_ms")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_millis("ts").alias("pts"),
        F.col("value").alias("purchase_value"),
        F.col("event_id").alias("purchase_id"),
    )
    return _jn.asof_join_directional(
        views, purch, ["user_id"], "ts_ms", "pts",
        ["purchase_value", "purchase_id"],
        direction="forward", tolerance=_ASOF_FWD_TOL_MS,
        tiebreak=["purchase_id"], match_ts="purchase_ts_ms",
    ).select(
        "event_id", "user_id", "ts_ms",
        "purchase_ts_ms", "purchase_value", "purchase_id",
    )


@_register(
    "j_asof_nearest",
    "nearest-direction as-of join with tolerance (pandas merge_asof "
    "direction='nearest', ties to the earlier match): each error event "
    "attaches the user's closest click within ±10 min — two directional "
    "window passes recombined on the unique left key; still no "
    "range-predicate join anywhere (north-star)",
    f"""
    WITH er AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
                FROM events WHERE event_type = 'error'),
    c AS (SELECT user_id, epoch_ms(ts) AS cts, event_id AS click_id
          FROM events WHERE event_type = 'click'),
    b AS (SELECT event_id, cts, click_id FROM (
        SELECT er.event_id, c.cts, c.click_id,
               row_number() OVER (PARTITION BY er.event_id
                 ORDER BY c.cts DESC, c.click_id DESC) AS rn
        FROM er JOIN c ON c.user_id = er.user_id
          AND c.cts <= er.ts_ms
          AND er.ts_ms - c.cts <= {_ASOF_NEAR_TOL_MS}) WHERE rn = 1),
    f AS (SELECT event_id, cts, click_id FROM (
        SELECT er.event_id, c.cts, c.click_id,
               row_number() OVER (PARTITION BY er.event_id
                 ORDER BY c.cts ASC, c.click_id DESC) AS rn
        FROM er JOIN c ON c.user_id = er.user_id
          AND c.cts >= er.ts_ms
          AND c.cts - er.ts_ms <= {_ASOF_NEAR_TOL_MS}) WHERE rn = 1)
    SELECT er.event_id, er.user_id, er.ts_ms,
           CASE WHEN b.cts IS NOT NULL AND (f.cts IS NULL
                  OR (er.ts_ms - b.cts) <= (f.cts - er.ts_ms))
                THEN b.cts ELSE f.cts END AS click_ts_ms,
           CASE WHEN b.cts IS NOT NULL AND (f.cts IS NULL
                  OR (er.ts_ms - b.cts) <= (f.cts - er.ts_ms))
                THEN b.click_id ELSE f.click_id END AS click_id
    FROM er LEFT JOIN b ON b.event_id = er.event_id
            LEFT JOIN f ON f.event_id = er.event_id
    """,
)
def j_asof_nearest(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    errs = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.unix_millis("ts").alias("ts_ms")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_millis("ts").alias("cts"),
        F.col("event_id").alias("click_id"),
    )
    return _jn.asof_join_nearest(
        errs, clicks, ["user_id"], "event_id", "ts_ms", "cts",
        ["click_id"], tolerance=_ASOF_NEAR_TOL_MS,
        tiebreak=["click_id"], match_ts="click_ts_ms",
    ).select("event_id", "user_id", "ts_ms", "click_ts_ms", "click_id")


_SHA_BYTES_LIST_SQL = "[" + ", ".join(_sha_byte_sql(i) for i in range(32)) + "]"


@_register(
    "x_multimodal_png_roundtrip",
    "REAL PNG encode->decode through the pure-stdlib codec "
    "(functions/png.py), verified end to end: the DECODED pixel sum is "
    "an exact integer the oracle recomputes from the 32 sha256 digest "
    "bytes alone (pixels = digest tiled to w*h) — any filtering/zlib/"
    "tiling corruption breaks the match; the real-pixel complement to "
    "the fake-decoder entries (north-star)",
    f"""
    WITH hs AS (SELECT doc_id, sha256(text) AS h FROM documents),
    b AS (SELECT doc_id,
                 {_SHA_BYTES_LIST_SQL} AS db,
                 CAST(64 + ({_sha_byte_sql(0)}) % 64 AS INT) AS width,
                 CAST(64 + ({_sha_byte_sql(1)}) % 64 AS INT) AS height
          FROM hs)
    SELECT doc_id, width, height,
           CAST(width * height AS BIGINT) AS n_pixels,
           CAST((width * height // 32) * list_sum(db)
                + coalesce(list_sum(db[1:(width * height % 32)]), 0)
                AS BIGINT) AS pixel_sum
    FROM b
    """,
)
def x_multimodal_png_roundtrip(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    mm = _mm.attach_binary_payload(docs, "text", modality="image", mime="image/png")
    return _mm.png_roundtrip_report(mm, "doc_id")


@_register(
    "w_value_functions",
    "value-window breadth in one pass: first_value / last_value / "
    "nth_value(3) / lag / lead over each user's event timeline, with the "
    "last_value frame pinned to UNBOUNDED FOLLOWING (the default "
    "current-row frame makes last_value a silent no-op — the classic "
    "window-frame bug, fixed identically on both engines); always "
    "partitioned by user, never a global window",
    """
    WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value
               FROM events)
    SELECT event_id, user_id, ts_ms,
           first_value(event_id) OVER w AS first_event,
           last_value(event_id)  OVER (PARTITION BY user_id
                                       ORDER BY ts_ms, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND UNBOUNDED FOLLOWING) AS last_event,
           nth_value(event_id, 3) OVER (PARTITION BY user_id
                                        ORDER BY ts_ms, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS third_event,
           lag(event_id)  OVER w AS prev_event,
           lead(event_id) OVER w AS next_event
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
    """,
)
def w_value_functions(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_millis("ts").alias("ts_ms")
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        "ts_ms",
        F.first("event_id").over(w).alias("first_event"),
        F.last("event_id").over(wfull).alias("last_event"),
        F.nth_value("event_id", 3).over(wfull).alias("third_event"),
        F.lag("event_id").over(w).alias("prev_event"),
        F.lead("event_id").over(w).alias("next_event"),
    )


@_register(
    "a_session_conversion",
    "session-level conversion analytics: 30-min-gap session windows "
    "(session_window — one keyed aggregate, no self-join) classified by "
    "whether a purchase occurred inside them, rolled up per day: "
    "sessions, converted sessions, floor-rounded conversion rate and "
    "mean session event count — the funnel at session granularity "
    "rather than a_funnel_daily's strict event ordering",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_type,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    numbered AS (
      SELECT user_id, ts, event_type,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged),
    sess AS (
      SELECT user_id, session_no,
             strftime(min(ts), '%Y-%m-%d') AS dt,
             count(*) AS n_events,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM numbered GROUP BY user_id, session_no)
    SELECT dt,
           count(*) AS n_sessions,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           floor(sum(converted) * 1.0 / count(*) * 10000 + 0.5) / 10000
             AS conversion_rate,
           floor(sum(n_events) * 1.0 / count(*) * 10000 + 0.5) / 10000
             AS avg_session_events
    FROM sess GROUP BY dt
    """,
)
def a_session_conversion(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    sess = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("converted"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("dt"),
            "n_events",
            "converted",
        )
    )
    return sess.groupBy("dt").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        (
            F.floor(F.sum("converted") / F.count(F.lit(1)) * 1e4 + F.lit(0.5))
            / 1e4
        ).alias("conversion_rate"),
        (
            F.floor(F.sum("n_events") / F.count(F.lit(1)) * 1e4 + F.lit(0.5))
            / 1e4
        ).alias("avg_session_events"),
    )


@_register(
    "x_ngram_novelty",
    "ingestion-order novelty curve: per doc, the fraction of its "
    "distinct 3-grams absent from every lower-id doc — first-owner = "
    "min(doc_id) per gram, so the whole curve costs two map-side-partial "
    "aggregates (never a per-prefix rescan); the marginal-value monitor "
    "for continuous corpus growth (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    sh AS (SELECT doc_id, {_shingles_sql(3)} AS s FROM toks),
    grams AS (SELECT doc_id, unnest(s) AS g FROM sh),
    owners AS (SELECT g, min(doc_id) AS owner FROM grams GROUP BY g)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN doc_id = owner THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           floor(sum(CASE WHEN doc_id = owner THEN 1 ELSE 0 END) * 1.0
                 / count(*) * 10000 + 0.5) / 10000 AS novelty
    FROM grams JOIN owners USING (g)
    GROUP BY doc_id
    """,
)
def x_ngram_novelty(spark, sf_dir):
    return _cx.ngram_novelty(_t(spark, sf_dir, "documents"), "text", "doc_id", 3)


_SCD2_ASOF_US = 1_705_276_800_000_000  # 2024-01-15 00:00:00 UTC, epoch micros


@_register(
    "j_scd2_asof",
    "point-in-time dimension read over the SCD2 history: per key, the "
    "value whose half-open validity interval contains the AS OF instant "
    "— the query that makes j_scd2_history useful (training-data joins "
    "must see the dim AS OF the fact's event time, not latest); one "
    "interval filter over the history, no extra shuffle beyond building "
    "it",
    f"""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    starts AS (SELECT user_id, event_type, ts, event_id FROM ordered
               WHERE prev IS NULL OR event_type <> prev),
    hist AS (
      SELECT user_id, event_type,
             epoch_us(ts) AS valid_from_us,
             epoch_us(lead(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id)) AS valid_to_us
      FROM starts)
    SELECT user_id, event_type AS value_asof,
           valid_from_us, valid_to_us
    FROM hist
    WHERE valid_from_us <= {_SCD2_ASOF_US}
      AND (valid_to_us IS NULL OR valid_to_us > {_SCD2_ASOF_US})
    """,
)
def j_scd2_asof(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    from ..operators.cdc import scd2_history

    hist = scd2_history(ev, "user_id", "event_type", "ts", order_col="event_id")
    t = F.lit(_SCD2_ASOF_US)
    return hist.filter(
        (F.col("valid_from_us") <= t)
        & (F.col("valid_to_us").isNull() | (F.col("valid_to_us") > t))
    ).select(
        "user_id",
        F.col("event_type").alias("value_asof"),
        "valid_from_us",
        "valid_to_us",
    )


# round-7 additions ----------------------------------------------------------
# PCA family driver exposure (round-6 verdict item 3): a power-iteration
# component whose TRAINING the oracle replays in SQL, plus projection and
# shortlist-KNN entries over a frozen offline-trained basis (the
# x_knn_randproj model-as-literals precedent).


def _pca_power_sql(iters: int, squarings: int) -> str:
    """DuckDB twin of operators.similarity.pca_power_component: the
    x_embed_covariance cell pipeline (floor-rounded at 1e-4 — the shared
    determinism anchor), rows/matrix as ORDER BY-ed lists, ``squarings``
    unrolled matrix-squaring CTEs (rescaled by the order-free max-|x|),
    then ``iters`` matrix-vector CTEs of strict left-fold dots —
    bit-identical to the driver-side Python fold (same IEEE ops, same
    order). The final Rayleigh quotient reads the ORIGINAL matrix m."""
    dot = _DOT.format
    parts = [
        "WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings)",
        "ex AS (SELECT v, unnest(range(1, len(v) + 1)) AS i FROM e)",
        "prs AS (SELECT i, v[i] AS xi, unnest(range(1, len(v) + 1)) AS j, "
        "v AS v2 FROM ex)",
        "cl AS (SELECT i, j, xi, v2[j] AS xj FROM prs)",
        "st AS (SELECT i, j, sum(xi * xj) AS sxy, sum(xi) AS sx, "
        "sum(xj) AS sy, CAST(count(*) AS DOUBLE) AS n FROM cl GROUP BY i, j)",
        "cov AS (SELECT i, j, floor((sxy / n - (sx / n) * (sy / n)) "
        "* 1e4 + 0.5) / 1e4 AS cov FROM st)",
        "rws AS (SELECT i, list(cov ORDER BY j) AS r FROM cov GROUP BY i)",
        "m AS (SELECT list(r ORDER BY i) AS mat FROM rws)",
    ]
    prev_m = "m"
    for s in range(1, squarings + 1):
        parts.append(
            f"sq{s} AS (SELECT list_transform(mat, ri -> "
            f"list_transform(mat, rj -> {dot(a='ri', b='rj')})) AS m2 "
            f"FROM {prev_m})"
        )
        parts.append(
            f"mx{s} AS (SELECT m2, list_aggregate(flatten("
            "list_transform(m2, r -> list_transform(r, x -> abs(x)))), "
            f"'max') AS mx FROM sq{s})"
        )
        parts.append(
            f"sm{s} AS (SELECT list_transform(m2, r -> "
            f"list_transform(r, x -> x / mx)) AS mat FROM mx{s})"
        )
        prev_m = f"sm{s}"
    parts.append(
        "v0 AS (SELECT list_transform(mat, r -> "
        f"1.0 / sqrt(CAST(len(mat) AS DOUBLE))) AS v FROM {prev_m})"
    )
    prev = "v0"
    for t in range(1, iters + 1):
        parts.append(
            f"u{t} AS (SELECT list_transform(pm.mat, row -> "
            f"{dot(a='row', b='v')}) AS u FROM {prev_m} pm, {prev})"
        )
        parts.append(
            f"n{t} AS (SELECT u, sqrt({dot(a='u', b='u')}) AS nrm FROM u{t})"
        )
        parts.append(
            f"v{t} AS (SELECT list_transform(u, x -> x / nrm) AS v FROM n{t})"
        )
        prev = f"v{t}"
    parts.append(
        f"fin AS (SELECT v, list_transform(v, x -> abs(x)) AS av FROM {prev})"
    )
    parts.append(
        "pv AS (SELECT v, CASE WHEN "
        "v[list_position(av, list_aggregate(av, 'max'))] < 0 "
        "THEN -1.0 ELSE 1.0 END AS sgn FROM fin)"
    )
    parts.append(
        "mv AS (SELECT v, sgn, list_transform(m.mat, row -> "
        f"{dot(a='row', b='v')}) AS u FROM pv, m)"
    )
    parts.append(
        f"lam AS (SELECT v, sgn, {dot(a='v', b='u')} AS lr FROM mv)"
    )
    return (
        ",\n".join(parts)
        + "\nSELECT CAST(i - 1 AS BIGINT) AS i, "
        "floor((sgn * v[i]) * 1e6 + 0.5) / 1e6 AS loading, "
        "floor(lr * 1e6 + 0.5) / 1e6 AS eigenvalue "
        "FROM (SELECT v, sgn, lr, unnest(range(1, len(v) + 1)) AS i FROM lam)"
    )


_PCA_POWER_ITERS, _PCA_POWER_SQUARINGS = 12, 6


@_register(
    "x_pca_power",
    "top principal component by power iteration on the DISTRIBUTED "
    "covariance — the PCA-family member whose training an ANSI-SQL "
    "oracle replays end to end (eigh is not SQL; iters matrix-vector "
    "folds on ordered lists are): data-sized work is the one covariance "
    "scan, the d x d cell frame crossing the driver is model-sized, and "
    "every float op after the 1e-4 cell rounding is a strict left fold "
    "replayed bit-identically by both engines (north-star)",
    _pca_power_sql(_PCA_POWER_ITERS, _PCA_POWER_SQUARINGS),
)
def x_pca_power(spark, sf_dir):
    return _sim.pca_power_component(
        _t(spark, sf_dir, "embeddings"),
        iters=_PCA_POWER_ITERS,
        squarings=_PCA_POWER_SQUARINGS,
    )


def _frozen_pca_model(k: int = 4) -> dict:
    """PCA basis trained OFFLINE (numpy moments + the same
    pca_from_moments used everywhere) on the fixed sf0.001 embeddings —
    the model-as-literals precedent of _RP_MAT: by the time a query
    runs, a trained basis is just a fixed linear map, so the catalog
    entry pins one and both the Spark plan and the DuckDB oracle replay
    it from identical literals whatever sf the driver picks. Training
    parity itself is covered by pca_model's pytest oracle; derived at
    import (not frozen in source) so regenerated testdata re-derives
    both sides consistently."""
    import duckdb
    import numpy as np

    rows = duckdb.sql(
        "SELECT embedding::DOUBLE[] FROM "
        "'/root/testdata/sf0.001/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    x = np.array([r[0] for r in rows], dtype=float)
    return _sim.pca_from_moments(len(x), x.sum(axis=0), x.T @ x, k)


_PCA_MODEL = _frozen_pca_model(k=4)
# per-component mean offsets, the IDENTICAL Python fold pca_project uses
# internally (b = dot(mean, comp), left sum from int 0) so the SQL
# literal and the Spark model-frame value are the same double
_PCA_B = [
    float(sum(m * c for m, c in zip(_PCA_MODEL["mean"], comp)))
    for comp in _PCA_MODEL["components"]
]


def _pca_model_cte() -> str:
    """1-row CTE carrying the frozen components as list columns
    (c0..ck) — the SQL twin of pca_project's model-as-data broadcast
    frame. Hoisting matters for SPEED, not just style: a component
    inlined as a literal inside the _DOT lambda is re-materialized per
    ELEMENT evaluation (measured 6.8 s vs 0.3 s at sf0.1 — 33M list
    constructions); a cross-joined column reference is built once.
    repr() literals roundtrip doubles exactly."""
    cols = ", ".join(
        "[" + ", ".join(repr(float(x)) for x in comp) + f"]::DOUBLE[] AS c{ci}"
        for ci, comp in enumerate(_PCA_MODEL["components"])
    )
    return f"p AS (SELECT {cols})"


def _pca_proj_sql_exprs(vec: str = "v") -> list[str]:
    """Per-component projection expressions dot(v, p.c_i) - b_i against
    the _pca_model_cte columns (requires CROSS JOIN p in the query)."""
    return [
        f"({_DOT.format(a=vec, b=f'p.c{ci}')} - ({b!r}))"
        for ci, b in enumerate(_PCA_B)
    ]


@_register(
    "x_pca_project",
    "projection onto a frozen offline-trained PCA basis, scalarized to "
    "pc0..pc3 columns (driver canon: no array outputs) — exercises the "
    "model-as-data broadcast + zip_with/aggregate fold path of "
    "pca_project; floor-form 1e-6 rounding on both sides, never engine "
    "round() (north-star: narrow projection, O(1) plan in k and d, "
    "no shuffle)",
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n"
    + _pca_model_cte()
    + "\nSELECT vec_id, "
    + ", ".join(
        f"floor(({ex}) * 1e6 + 0.5) / 1e6 AS pc{c}"
        for c, ex in enumerate(_pca_proj_sql_exprs())
    )
    + " FROM e CROSS JOIN p",
)
def x_pca_project(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    proj = _sim.pca_project(emb, _PCA_MODEL, round_decimals=None)

    def fl(c):
        x = F.col("proj")[c]
        return (F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            f"pc{c}"
        )

    return proj.select(
        F.col("id").alias("vec_id"),
        *[fl(c) for c in range(len(_PCA_MODEL["components"]))],
    )


def _pca_cand_sql(q_max: int, k: int, shortlist: int) -> list[str]:
    """Shared CTE list for the PCA-shortlist KNN: mean-centered
    projections from the frozen-literal basis -> per-query shortlist by
    centered cosine -> exact full-dimension re-rank scores (the
    _randproj_cand_sql shape with a trained basis)."""
    rv = "[" + ", ".join(_pca_proj_sql_exprs()) + "]"
    return [
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        _pca_model_cte(),
        f"pe AS (SELECT vec_id, {rv} AS rv FROM e CROSS JOIN p)",
        f"q AS (SELECT vec_id AS query_id, rv AS rq FROM pe "
        f"WHERE vec_id < {q_max})",
        "cand AS (SELECT query_id, neighbor_id FROM ("
        "SELECT query_id, pe.vec_id AS neighbor_id, "
        f"row_number() OVER (PARTITION BY query_id ORDER BY "
        f"{_cos_sql('rq', 'pe.rv')} DESC, pe.vec_id) AS prank "
        f"FROM q JOIN pe ON pe.vec_id <> q.query_id) "
        f"WHERE prank <= {shortlist * k})",
        "rer AS (SELECT query_id, neighbor_id, "
        f"{_cos_sql('qe.v', 'ne.v')} AS sim FROM cand "
        "JOIN e qe ON qe.vec_id = cand.query_id "
        "JOIN e ne ON ne.vec_id = cand.neighbor_id)",
    ]


@_register(
    "x_knn_pca",
    "PCA-shortlist top-k: candidates ranked by centered cosine in the "
    "frozen 4-dim trained basis (the data-aware counterpart of "
    "x_knn_randproj — more variance kept per retained dimension), "
    "shortlist re-ranked by exact full-dimension cosine; same "
    "compress-then-refine topology, window and tie-break discipline "
    "(north-star: candidate generation never touches the full vector)",
    ",\n".join(_pca_cand_sql(q_max=20, k=3, shortlist=4))
    + "\nSELECT query_id, neighbor_id, rank, round(sim, 4) AS sim FROM ("
    "SELECT *, row_number() OVER (PARTITION BY query_id "
    "ORDER BY sim DESC, neighbor_id) AS rank FROM rer) WHERE rank <= 3",
)
def x_knn_pca(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.knn_pca(
        emb, emb.filter(F.col("vec_id") < 20), _PCA_MODEL, k=3, shortlist=4
    )


@_register(
    "x_multimodal_wav_roundtrip",
    "REAL WAV (RIFF/PCM16) encode->decode through the pure-numpy codec "
    "(functions/wav.py), verified end to end: rate/length/samples are "
    "synthesized from the sha256 digest, written as actual RIFF bytes, "
    "decoded back through the generic chunk walk, and every emitted "
    "stat is an exact integer the oracle recomputes from the 32 digest "
    "bytes alone — n_bytes pins the container layout, duration_ms the "
    "fmt chunk, sum/min/max the data chunk; the audio complement of "
    "x_multimodal_png_roundtrip (north-star)",
    f"""
    WITH hs AS (SELECT doc_id, sha256(text) AS h FROM documents),
    b AS (SELECT doc_id, {_SHA_BYTES_LIST_SQL} AS db FROM hs),
    c AS (SELECT doc_id,
            CAST(8000 * (1 + db[1] % 3) AS BIGINT) AS sample_rate,
            CAST(256 + (db[2] * 256 + db[3]) % 1024 AS BIGINT) AS n_samples,
            list_transform(range(1, 17),
                j -> CAST(db[2*j - 1] * 256 + db[2*j] - 32768 AS BIGINT)) AS p
          FROM b)
    SELECT doc_id, sample_rate, n_samples,
           CAST(44 + 2 * n_samples AS BIGINT) AS n_bytes,
           CAST(n_samples * 1000 // sample_rate AS BIGINT) AS duration_ms,
           CAST((n_samples // 16) * list_sum(p)
                + coalesce(list_sum(p[1:(n_samples % 16)]), 0)
                AS BIGINT) AS sample_sum,
           CAST(list_aggregate(p, 'min') AS BIGINT) AS sample_min,
           CAST(list_aggregate(p, 'max') AS BIGINT) AS sample_max
    FROM c
    """,
)
def x_multimodal_wav_roundtrip(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    mm = _mm.attach_binary_payload(docs, "text", modality="audio", mime="audio/wav")
    return _mm.wav_roundtrip_report(mm, "doc_id")


@_register(
    "x_triangle_counts",
    "per-node triangle counts + local clustering coefficient on the "
    "part co-occurrence graph (parts sharing an order), by "
    "degree-oriented wedge join (Schank/Wagner; Suri/Vassilvitskii): "
    "orientation bounds wedge fanout by O(m^1.5) regardless of hub "
    "skew and yields each triangle exactly once, vs the oracle's naive "
    "a<b<c three-way self-join; exact integer counts, floor-form "
    "coefficient (north-star: 3 integer-key shuffles, no cartesian)",
    """
    WITH e AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    ed AS (SELECT DISTINCT a.p AS x, b.p AS y
           FROM e a JOIN e b ON a.o = b.o AND a.p < b.p),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree
            FROM (SELECT x AS node FROM ed UNION ALL SELECT y FROM ed)
            GROUP BY node),
    tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
            FROM ed e1 JOIN ed e2 ON e2.x = e1.y
            JOIN ed e3 ON e3.x = e1.x AND e3.y = e2.y),
    pern AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
             FROM (SELECT a AS node FROM tri UNION ALL
                   SELECT b FROM tri UNION ALL SELECT c FROM tri)
             GROUP BY node)
    SELECT deg.node, deg.degree,
           coalesce(pern.n_triangles, 0) AS n_triangles,
           CASE WHEN deg.degree >= 2
                THEN floor(2.0 * coalesce(pern.n_triangles, 0)
                           / (deg.degree * (deg.degree - 1)) * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS clustering_coeff
    FROM deg LEFT JOIN pern USING (node)
    """,
)
def x_triangle_counts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = e.alias("a"), e.alias("b")
    edges = a.join(
        b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p"))
    ).select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
    # the lineitem self-join edge subtree is expensive and feeds every
    # branch of the triangle plan — lazy recompute per branch measured
    # 17-20 s vs ~6 s materialized at sf0.1 (the dense-graph pipelining
    # loss is smaller than the recompute cost here; x_link_prediction
    # is the opposite case), so the edges are a cut
    return _gr.triangle_counts(cached(edges), "src", "dst")


@_register(
    "x_kn_bigram_logprob",
    "per-doc bigram surprise under an interpolated Kneser-Ney model "
    "trained on the corpus itself (Chen & Goodman eq. 4.24): absolute "
    "discount + continuation-probability interpolation — the "
    "transition-level step up from x_unigram_logprob on the quality "
    "axis (word salads separate from prose); model tables are "
    "bigram-type-sized, one corpus-sized shuffle, fixed left-assoc "
    "float shape + floor-round 1e-4 (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
           FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
    dbg AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bg GROUP BY 1, 2, 3),
    c12 AS (SELECT w1, w2, sum(tf) AS c12 FROM dbg GROUP BY 1, 2),
    c1 AS (SELECT w1, sum(c12) AS c1, count(*) AS n1p_fwd FROM c12 GROUP BY 1),
    pc AS (SELECT w2, count(*) AS n1p_rev FROM c12 GROUP BY 1),
    bt AS (SELECT CAST(count(*) AS DOUBLE) AS n_types FROM c12),
    model AS (SELECT c12.w1, c12.w2,
                greatest(c12.c12 - 0.75, 0.0) / c1.c1
                + 0.75 * c1.n1p_fwd / c1.c1 * (pc.n1p_rev / bt.n_types) AS p
              FROM c12 JOIN c1 USING (w1) JOIN pc USING (w2), bt)
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
           floor(-sum(tf * ln(p)) / sum(tf) * 1e4 + 0.5) / 1e4 AS avg_neg_logp
    FROM dbg JOIN model USING (w1, w2)
    GROUP BY doc_id
    """,
)
def x_kn_bigram_logprob(spark, sf_dir):
    return _ts.kn_bigram_logprob(_t(spark, sf_dir, "documents"), "text", "doc_id")


_MG_GROUPS, _MG_M, _MG_K = 8, 2, 20


def _mg_group_sql(shard: str) -> str:
    return (
        f"({_hex32_sql(f'''substr(md5('mg:' || CAST({shard} AS VARCHAR)), 1, 8)''')}"
        f" % {_MG_GROUPS})"
    )


@_register(
    "x_mg_topk",
    "Misra-Gries/SpaceSaving mergeable heavy-hitter summary over doc "
    "tokens, graded against exact counts: rows sharded into md5(doc_id) "
    "virtual groups (row shards, never key shards — a key-sharded "
    "'summary' is just a disjoint exact count), per-group top-m "
    "counters + truncation bound eps_g, merged estimate = surviving "
    "counter sum (lower bound) with certificate true <= est + sum "
    "eps_g over absent groups — the summary is groups x m rows "
    "regardless of key cardinality, the key-surfacing complement of "
    "the CMS entry (m deliberately tight here so drops and bounds are "
    "exercised, not vacuous) (north-star)",
    f"""
    WITH ex AS (SELECT doc_id, unnest({_TOKS_SQL}) AS key FROM documents),
    kg AS (SELECT key, {_mg_group_sql('doc_id')} AS g FROM ex),
    counts AS (SELECT g, key, count(*) AS cnt FROM kg GROUP BY 1, 2),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY g
                 ORDER BY cnt DESC, key) AS rn FROM counts),
    kept AS (SELECT * FROM ranked WHERE rn <= {_MG_M}),
    eps AS (SELECT g, cnt AS eps_g FROM ranked WHERE rn = {_MG_M + 1}),
    te AS (SELECT coalesce(sum(eps_g), 0) AS total_eps FROM eps),
    pk AS (SELECT key, sum(cnt) AS est, count(*) AS n_groups_kept,
                  coalesce(sum(eps_g), 0) AS eps_present
           FROM kept LEFT JOIN eps USING (g) GROUP BY key),
    tru AS (SELECT key, CAST(count(*) AS BIGINT) AS true_cnt
            FROM ex GROUP BY key)
    SELECT CAST(rank AS BIGINT) AS rank, key, est, upper_bound,
           n_groups_kept, true_cnt
    FROM (SELECT pk.key, CAST(pk.est AS BIGINT) AS est,
                 CAST(pk.est + te.total_eps - pk.eps_present AS BIGINT)
                   AS upper_bound,
                 CAST(pk.n_groups_kept AS BIGINT) AS n_groups_kept,
                 row_number() OVER (ORDER BY pk.est DESC, pk.key) AS rank
          FROM pk, te)
    JOIN tru USING (key)
    WHERE rank <= {_MG_K}
    """,
)
def x_mg_topk(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
            )
        ).alias("token"),
    )
    summary = _sk.mg_topk(
        ex, "token", "doc_id", k=_MG_K, n_groups=_MG_GROUPS, m=_MG_M, salt="mg"
    )
    tru = ex.groupBy(F.col("token").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("true_cnt")
    )
    out = summary.select(
        F.col("rank").cast("long").alias("rank"),
        "key",
        "est",
        "upper_bound",
        "n_groups_kept",
    ).join(tru, "key")
    return out.select(
        "rank", "key", "est", "upper_bound", "n_groups_kept", "true_cnt"
    )


from ..functions import bpe as _bpe


def _frozen_bpe_merges(k: int = 8) -> list[tuple[str, str]]:
    """Phrase-BPE merge list trained OFFLINE on the fixed sf0.001
    corpus (the _frozen_pca_model precedent: by query time a trained
    tokenizer is a frozen model, pinned as literals so both engines
    replay it whatever sf the driver picks; training itself is graded
    by pytest against a hand replay). Deterministic: greedy
    (count DESC, pair ASC) ties."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT {_TOKS_SQL} FROM "
        "'/root/testdata/sf0.001/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    merges = _bpe.train_merges([r[0] for r in rows], n_merges=k)
    for a, b in merges:
        if not all(c.isalnum() or c in "+_-" for c in a + b):
            raise ValueError(f"merge token needs SQL escaping: {(a, b)}")
    return merges


_BPE_MERGES = _frozen_bpe_merges(k=8)


def _bpe_fold_sql(expr: str, left: str, right: str) -> str:
    unit = f"{left}+{right}"
    return (
        f"reduce(list_transform({expr}, x -> [x]), (acc, x) -> "
        f"CASE WHEN len(acc) > 0 AND acc[-1] = '{left}' AND x[1] = '{right}' "
        f"THEN list_append(acc[1:len(acc) - 1], '{unit}') "
        f"ELSE list_append(acc, x[1]) END)"
    )


def _bpe_chain_sql(expr: str) -> str:
    for left, right in _BPE_MERGES:
        expr = _bpe_fold_sql(expr, left, right)
    return expr


@_register(
    "x_bpe_segment",
    "phrase-BPE segmentation under a frozen 8-merge model trained on "
    "the corpus (Sennrich et al.: greedy most-frequent-pair merges; "
    "training offline in Python, pytest-graded against a hand replay): "
    "application is a chain of per-merge greedy-left folds over the "
    "ordered token array — one engine-side aggregate per merge, no "
    "UDF, nothing leaves the row — replayed fold-for-fold by DuckDB "
    "reduce() (north-star: tokenizer apply as pure narrow projection)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    seg AS (SELECT doc_id, len(t) AS n_before, {_bpe_chain_sql('t')} AS s
            FROM toks WHERE len(t) > 0)
    SELECT doc_id, CAST(n_before AS BIGINT) AS n_before,
           CAST(len(s) AS BIGINT) AS n_after,
           floor(len(s) * 1.0 / n_before * 1e4 + 0.5) / 1e4
             AS compression,
           array_to_string(s, ' ') AS merged_text
    FROM seg
    """,
)
def x_bpe_segment(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
        ).alias("t"),
    ).filter(F.size("t") > 0)
    seg = toks.select(
        "doc_id",
        F.size("t").alias("__nb"),
        _bpe.apply_merges_col(F.col("t"), _BPE_MERGES).alias("s"),
    )
    return seg.select(
        "doc_id",
        F.col("__nb").cast("long").alias("n_before"),
        F.size("s").cast("long").alias("n_after"),
        (
            F.floor(F.size("s") / F.col("__nb") * F.lit(1e4) + F.lit(0.5))
            / F.lit(1e4)
        ).alias("compression"),
        F.array_join("s", " ").alias("merged_text"),
    )


@_register(
    "x_cms_join_size",
    "self-join size (F2 moment) of events by user_id estimated from "
    "the count-min sketch's inner product with itself (AMS/CMS join-"
    "size estimation), graded against the exact sum of squared "
    "frequencies — the cardinality a planner needs BEFORE attempting a "
    "key self-join, from a d x w table instead of the key domain; "
    "overcount-only, integer-exact on both engines (north-star)",
    f"""
    WITH rows AS (SELECT unnest(range(0, {_CMS_D})) AS row),
    cells AS (SELECT r.row,
                     {_cms_bucket_sql('r.row', 'e.user_id', _CMS_W)} AS bucket
              FROM events e CROSS JOIN rows r),
    sk AS (SELECT row, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2),
    pr AS (SELECT row, sum(cnt * cnt) AS f2_row FROM sk GROUP BY row),
    est AS (SELECT CAST(min(f2_row) AS BIGINT) AS est FROM pr),
    tru AS (SELECT CAST(sum(c * c) AS BIGINT) AS true_f2 FROM
            (SELECT count(*) AS c FROM events GROUP BY user_id))
    SELECT est, true_f2,
           floor(est * 1.0 / true_f2 * 1e4 + 0.5) / 1e4 AS overcount_ratio
    FROM est, tru
    """,
)
def x_cms_join_size(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    est = _sk.cms_self_join_size(ev, "user_id", d=_CMS_D, w=_CMS_W)
    tru = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("true_f2"))
    )
    return (
        est.crossJoin(F.broadcast(tru))
        .select(
            "est",
            "true_f2",
            (
                F.floor(F.col("est") / F.col("true_f2") * F.lit(1e4) + F.lit(0.5))
                / F.lit(1e4)
            ).alias("overcount_ratio"),
        )
    )


_RRF_K0, _RRF_DEPTH, _RRF_OUT = 60, 50, 10


@_register(
    "x_hybrid_rrf",
    "hybrid retrieval by reciprocal-rank fusion (Cormack et al.): the "
    "BM25 lexical ranking and the exact-cosine vector ranking (query = "
    "embedding 0) fused as sum of 1/(60 + rank) over the rankers that "
    "returned the doc — rank-space fusion needs no score calibration "
    "between BM25 logs and cosines, which is why it's the default "
    "hybrid in production retrieval; composes two existing oracle-"
    "checked rankers, full-outer on doc id, absent rank contributes 0 "
    "(north-star: each ranker's depth-bounded output is the only thing "
    "fused — list-sized, never corpus-sized)",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    lens AS (SELECT doc_id, len(t) AS dl FROM toks),
    corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
    tf AS (SELECT doc_id, g AS term, tfv AS tf FROM (
             SELECT doc_id,
                    unnest(list_intersect(t, {list(_BM25_TERMS)!r})) AS g,
                    t FROM toks),
           LATERAL (SELECT len(list_filter(t, x -> x = g)) AS tfv)),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    bscored AS (
      SELECT doc_id,
             round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * (tf * {_BM25_K1 + 1.0})
                   / (tf + {_BM25_K1} * ({1.0 - _BM25_B} + {_BM25_B} * dl / avgdl))), 4)
               AS score
      FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id)
           CROSS JOIN corpus
      GROUP BY doc_id),
    lex AS (SELECT doc_id, rank AS lex_rank FROM (
      SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM bscored) WHERE rank <= {_RRF_DEPTH}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    vscored AS (SELECT e.vec_id AS doc_id, {_cos_sql('qv', 'e.v')} AS sim
                FROM e CROSS JOIN q WHERE e.vec_id <> 0),
    vec AS (SELECT doc_id, rank AS vec_rank FROM (
      SELECT *, row_number() OVER (ORDER BY sim DESC, doc_id) AS rank
      FROM vscored) WHERE rank <= {_RRF_DEPTH}),
    fused AS (SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
                     coalesce(lex_rank, 0) AS lex_rank,
                     coalesce(vec_rank, 0) AS vec_rank,
                     (CASE WHEN lex_rank IS NULL THEN 0.0
                           ELSE 1.0 / ({_RRF_K0} + lex_rank) END
                      + CASE WHEN vec_rank IS NULL THEN 0.0
                             ELSE 1.0 / ({_RRF_K0} + vec_rank) END) AS s
              FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
    SELECT CAST(rank AS BIGINT) AS rank, doc_id,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(vec_rank AS BIGINT) AS vec_rank,
           floor(s * 1e6 + 0.5) / 1e6 AS rrf_score
    FROM (SELECT *, row_number() OVER (ORDER BY s DESC, doc_id) AS rank
          FROM fused)
    WHERE rank <= {_RRF_OUT}
    """,
)
def x_hybrid_rrf(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = _ts.bm25_topk(
        docs, "text", "doc_id", list(_BM25_TERMS),
        k=_RRF_DEPTH, k1=_BM25_K1, b=_BM25_B,
    ).select("doc_id", F.col("rank").alias("lex_rank"))
    vec = (
        _sim.knn_bruteforce(emb, emb.filter(F.col("vec_id") == 0), k=_RRF_DEPTH)
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("vec_rank"))
    )
    contrib = lambda c: F.when(  # noqa: E731 — local fusion term
        F.col(c).isNull(), F.lit(0.0)
    ).otherwise(F.lit(1.0) / (F.lit(_RRF_K0) + F.col(c)))
    fused = lex.join(vec, "doc_id", "outer").select(
        "doc_id",
        F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
        F.coalesce("vec_rank", F.lit(0)).alias("vec_rank"),
        (contrib("lex_rank") + contrib("vec_rank")).alias("s"),
    )
    w = Window.orderBy(F.col("s").desc(), F.col("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _RRF_OUT)
        .select(
            F.col("rank").cast("long").alias("rank"),
            "doc_id",
            F.col("lex_rank").cast("long").alias("lex_rank"),
            F.col("vec_rank").cast("long").alias("vec_rank"),
            (F.floor(F.col("s") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
                "rrf_score"
            ),
        )
    )


_KANON_K = 5


@_register(
    "x_k_anonymity",
    "k-anonymity audit (Sweeney) of customer quasi-identifiers "
    "(nation, segment, banded balance): equivalence classes smaller "
    "than k are re-identification risks — the structural release gate "
    "complementing the pattern-based PII scrub (innocuous columns can "
    "be jointly identifying); one groupBy, class-sized output "
    "(north-star)",
    f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) < {_KANON_K} AS INT) AS at_risk
    FROM customer
    GROUP BY 1, 2, 3
    """,
)
def x_k_anonymity(spark, sf_dir):
    from ..operators.validate import k_anonymity_report

    cust = _t(spark, sf_dir, "customer")
    return k_anonymity_report(
        cust,
        [
            F.col("c_nationkey"),
            F.col("c_mktsegment"),
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
        ],
        k=_KANON_K,
    ).select(
        "c_nationkey",
        "c_mktsegment",
        "bal_band",
        F.col("n").cast("long").alias("n"),
        "at_risk",
    )


_RESAMPLE_FACTOR = 4


@_register(
    "x_audio_resample",
    "audio downsample through the real codec (the audio analog of the "
    "image resize path): decode -> stride decimate -> re-encode at "
    "rate/4 -> re-decode; emitted stats certify the full chain and the "
    "oracle replays them in closed form (a 16-periodic pattern "
    "decimated by 4 is 4-periodic at known positions) (north-star: "
    "mapInPandas off the scan, payload never shuffles)",
    f"""
    WITH hs AS (SELECT doc_id, sha256(text) AS h FROM documents),
    b AS (SELECT doc_id, {_SHA_BYTES_LIST_SQL} AS db FROM hs),
    c AS (SELECT doc_id,
            CAST(8000 * (1 + db[1] % 3) AS BIGINT) AS in_rate,
            CAST(256 + (db[2] * 256 + db[3]) % 1024 AS BIGINT) AS n_in,
            list_transform(range(1, 17),
                j -> CAST(db[2*j - 1] * 256 + db[2*j] - 32768 AS BIGINT)) AS p
          FROM b),
    d AS (SELECT doc_id, in_rate, n_in,
                 [p[1], p[5], p[9], p[13]] AS p4,
                 CAST((n_in + {_RESAMPLE_FACTOR - 1}) // {_RESAMPLE_FACTOR}
                      AS BIGINT) AS n_out
          FROM c)
    SELECT doc_id, in_rate,
           CAST(in_rate // {_RESAMPLE_FACTOR} AS BIGINT) AS out_rate,
           n_in, n_out,
           CAST(44 + 2 * n_out AS BIGINT) AS out_n_bytes,
           CAST((n_out // 4) * list_sum(p4)
                + coalesce(list_sum(p4[1:(n_out % 4)]), 0)
                AS BIGINT) AS out_sum
    FROM d
    """,
)
def x_audio_resample(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    mm = _mm.attach_binary_payload(docs, "text", modality="audio", mime="audio/wav")
    return _mm.resample_audio(mm, factor=_RESAMPLE_FACTOR, id_col="doc_id")


# ---------------------------------------------------------------------------
# Round 8: ordered/sequential analytics, record linkage + entity resolution,
# changelog/snapshot CDC twins, l-diversity, streaming Misra-Gries exposure.
# ---------------------------------------------------------------------------

from ..operators import cdc as _cdc
from ..operators import linkage as _lk
from ..operators import ordered as _ord
from ..operators.validate import l_diversity_report as _ldiv
from ..streaming import incremental as _inc
from ..streaming.sinks import batch_ids, read_batches, write_batch


@_register(
    "x_interval_union",
    "gaps-and-islands interval union: per-supplier shipment service "
    "intervals [shipdate, shipdate + linenumber%7 days] merged into "
    "maximal disjoint islands — coverage, island count, longest run; "
    "one shuffle on the key, windows and aggregates reuse the "
    "partitioning (north-star)",
    """
    WITH base AS (
      SELECT l_suppkey AS key, CAST(l_shipdate AS DATE) AS s,
             CAST(l_shipdate AS DATE) + (l_linenumber % 7) AS e
      FROM lineitem),
    r AS (
      -- total-order tiebreaker: duplicate (s, e) rows are value-
      -- identical, but the two window passes below must agree on ONE
      -- tie order or a tied block can split across islands
      SELECT key, s, e,
             row_number() OVER (PARTITION BY key ORDER BY s, e) AS rn
      FROM base),
    m AS (
      SELECT key, s, e, rn,
             max(e) OVER (PARTITION BY key ORDER BY s, e, rn
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pme
      FROM r),
    isl AS (
      SELECT key, s, e,
             sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
               OVER (PARTITION BY key ORDER BY s, e, rn
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS island
      FROM m),
    g AS (
      SELECT key, island, min(s) AS is_, max(e) AS ie, count(*) AS n_iv
      FROM isl GROUP BY key, island)
    SELECT key AS l_suppkey,
           CAST(sum(n_iv) AS BIGINT) AS n_intervals,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(date_diff('day', is_, ie) + 1) AS BIGINT)
             AS covered_days,
           CAST(max(date_diff('day', is_, ie) + 1) AS BIGINT)
             AS longest_island_days
    FROM g GROUP BY key
    """,
)
def x_interval_union(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.to_date("l_shipdate").alias("s_d"),
        F.date_add(
            F.to_date("l_shipdate"), F.col("l_linenumber") % 7
        ).alias("e_d"),
    )
    return _ord.interval_union(li, "l_suppkey", "s_d", "e_d")


_SKY_BRAND = "Brand#23"


@_register(
    "x_skyline",
    "2D skyline / Pareto frontier (Börzsönyi ICDE'01) of one brand's "
    "parts minimizing retail price, maximizing size: per-cost max-gain "
    "reduction + one domain-sized running-max window + equi-join back "
    "(the quadratic all-pairs dominance anti-join is the ORACLE, never "
    "the plan) (north-star)",
    f"""
    WITH b AS (SELECT p_partkey, p_retailprice, p_size FROM part
               WHERE p_brand = '{_SKY_BRAND}')
    SELECT p.p_partkey, p.p_retailprice, CAST(p.p_size AS BIGINT) AS p_size
    FROM b p
    WHERE NOT EXISTS (
      SELECT 1 FROM b o
      WHERE o.p_retailprice <= p.p_retailprice AND o.p_size >= p.p_size
        AND (o.p_retailprice < p.p_retailprice OR o.p_size > p.p_size))
    """,
)
def x_skyline(spark, sf_dir):
    b = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == _SKY_BRAND)
        .select("p_partkey", "p_retailprice", F.col("p_size").cast("long"))
    )
    return _ord.skyline_2d(b, "p_retailprice", "p_size")


_EWMA_K = 8
_EWMA_ALPHA = 0.5
_EWMA_WEIGHTS = [
    _EWMA_ALPHA * (1 - _EWMA_ALPHA) ** (i - 1) for i in range(1, _EWMA_K + 1)
]
_EWMA_NUM_SQL = " + ".join(
    f"(CASE WHEN g{i} IS NOT NULL THEN {w!r} * g{i} ELSE 0 END)"
    for i, w in enumerate(_EWMA_WEIGHTS, 1)
)
_EWMA_DEN_SQL = " + ".join(
    f"(CASE WHEN g{i} IS NOT NULL THEN {w!r} ELSE 0 END)"
    for i, w in enumerate(_EWMA_WEIGHTS, 1)
)
_EWMA_LAGS_SQL = ", ".join(
    f"lag(v, {i}) OVER (ORDER BY dt) AS g{i}" for i in range(1, _EWMA_K + 1)
)


@_register(
    "x_ewma_deviation",
    "bounded-memory EWMA anomaly check over the daily order-count "
    "series: weighted mean of the previous 8 days (alpha=0.5 binary-"
    "fraction weights, explicit left-associated chain -> bit-identical "
    "doubles on any engine) + today's deviation; the batch form of a "
    "per-micro-batch alerting monitor (north-star: keyless window is "
    "DOMAIN-sized, ~2.4k daily rows, never data-sized)",
    f"""
    WITH daily AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS dt,
             CAST(count(*) AS DOUBLE) AS v
      FROM orders GROUP BY 1),
    l AS (SELECT dt, v, {_EWMA_LAGS_SQL} FROM daily),
    nd AS (SELECT dt, v, {_EWMA_NUM_SQL} AS num, {_EWMA_DEN_SQL} AS den
           FROM l)
    SELECT dt, v AS value,
           floor(num / den * 10000 + 0.5) / 10000 AS ewma,
           floor((v - num / den) * 10000 + 0.5) / 10000 AS deviation
    FROM nd WHERE den > 0
    """,
)
def x_ewma_deviation(spark, sf_dir):
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("dt")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("v"))
    )
    return _ord.ewma_deviation(
        daily, "dt", "v", alpha=_EWMA_ALPHA, k=_EWMA_K, decimals=4
    )


_EWMA_KEYED_LAGS_SQL = ", ".join(
    f"lag(v, {i}) OVER (PARTITION BY pr ORDER BY dt) AS g{i}"
    for i in range(1, _EWMA_K + 1)
)


@_register(
    "x_ewma_keyed",
    "KEYED bounded-memory EWMA anomaly check: the same 8-lag binary-"
    "fraction chain as x_ewma_deviation, per order-priority daily "
    "series — the at-scale form (one shuffle on the key, a partitioned "
    "window; millions of independent series parallelize where the "
    "keyless daily entry is a single domain-sized task) (north-star)",
    f"""
    WITH daily AS (
      SELECT o_orderpriority AS pr,
             strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS dt,
             CAST(count(*) AS DOUBLE) AS v
      FROM orders GROUP BY 1, 2),
    l AS (SELECT pr, dt, v, {_EWMA_KEYED_LAGS_SQL} FROM daily),
    nd AS (SELECT pr, dt, v, {_EWMA_NUM_SQL} AS num, {_EWMA_DEN_SQL} AS den
           FROM l)
    SELECT pr, dt, v AS value,
           floor(num / den * 10000 + 0.5) / 10000 AS ewma,
           floor((v - num / den) * 10000 + 0.5) / 10000 AS deviation
    FROM nd WHERE den > 0
    """,
)
def x_ewma_keyed(spark, sf_dir):
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("pr"),
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("dt"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("v"))
    )
    return _ord.ewma_deviation(
        daily, "dt", "v", key_col="pr", alpha=_EWMA_ALPHA, k=_EWMA_K,
        decimals=4,
    )


@_register(
    "x_markov_transitions",
    "first-order Markov transition matrix over per-user event-type "
    "sequences ordered by (ts, event_id): which event follows which — "
    "drop-off prediction / funnel design on the DwdDauApp-ordered "
    "stream (DwdDauApp.scala:136-142 orders the same way to find "
    "session entries); one shuffle on user, normalization over the "
    "|S|^2 matrix frame (north-star)",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    c AS (SELECT event_type AS from_state, nxt AS to_state,
                 count(*) AS n
          FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2)
    SELECT from_state, to_state, CAST(n AS BIGINT) AS n,
           floor(CAST(n AS DOUBLE)
                 / CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS p
    FROM c
    """,
)
def x_markov_transitions(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return _ord.markov_transitions(
        ev, "user_id", ["ts", "event_id"], "event_type", decimals=6
    )


_LINK_THRESHOLD = 4


def _linkage_base(spark, sf_dir):
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bb"),
        F.substring("c_name", -1, 1).alias("sfx"),
    )


def _linkage_features():
    return [
        ("seg", F.col("a_c_mktsegment") == F.col("b_c_mktsegment"), 4, 2),
        (
            "bal",
            F.abs(F.col("a_c_acctbal") - F.col("b_c_acctbal")) < 100.0,
            3,
            1,
        ),
        ("sfx", F.col("a_sfx") == F.col("b_sfx"), 2, 1),
    ]


_LINK_PAIRS_SQL = f"""
    c AS (SELECT c_custkey, c_nationkey,
                 CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bb,
                 c_mktsegment, c_acctbal, right(c_name, 1) AS sfx
          FROM customer),
    p AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
            (CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 4 ELSE -2 END)
          + (CASE WHEN abs(a.c_acctbal - b.c_acctbal) < 100.0
                  THEN 3 ELSE -1 END)
          + (CASE WHEN a.sfx = b.sfx THEN 2 ELSE -1 END) AS score,
            CAST(a.c_mktsegment = b.c_mktsegment AS INT) AS agree_seg,
            CAST(abs(a.c_acctbal - b.c_acctbal) < 100.0 AS INT) AS agree_bal,
            CAST(a.sfx = b.sfx AS INT) AS agree_sfx
          FROM c a JOIN c b
          ON a.c_nationkey = b.c_nationkey AND a.bb = b.bb
             AND a.c_custkey < b.c_custkey),
    matches AS (SELECT * FROM p WHERE score >= {_LINK_THRESHOLD})
"""


@_register(
    "x_record_linkage",
    "Fellegi-Sunter record linkage over customers: blocked pairs "
    "(nation x balance band — an EQUI-join, fanout governed by the "
    "blocking choice, never a cross product) scored by summed integer "
    "agreement/disagreement weights on segment, balance proximity and "
    "name suffix; the structured-records complement of text dedup "
    "(north-star)",
    f"""
    WITH {_LINK_PAIRS_SQL}
    SELECT id_a, id_b, CAST(score AS INT) AS score,
           agree_seg, agree_bal, agree_sfx
    FROM matches
    """,
)
def x_record_linkage(spark, sf_dir):
    return _lk.linkage_pairs(
        _linkage_base(spark, sf_dir),
        "c_custkey",
        ["c_nationkey", "bb"],
        _linkage_features(),
        threshold=_LINK_THRESHOLD,
    )


@_register(
    "x_entity_resolution",
    "end-to-end entity resolution: blocked Fellegi-Sunter matches -> "
    "connected components (hash-min label propagation, localCheckpoint "
    "lineage discipline) -> entity ids over ALL customers (singletons "
    "map to themselves, min member is canonical); the structured-"
    "records dedup a training-data pipeline runs beside text dedup "
    "(north-star: pair path is equi-join only, no NLJ)",
    f"""
    WITH RECURSIVE {_LINK_PAIRS_SQL},
    edges AS (SELECT id_a AS src, id_b AS dst FROM matches
              UNION ALL SELECT id_b, id_a FROM matches),
    reach(node, lbl) AS (
      SELECT c_custkey, c_custkey FROM customer
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node)
    SELECT node AS c_custkey, CAST(min(lbl) AS BIGINT) AS entity_id,
           CAST(min(lbl) = node AS INT) AS is_canonical
    FROM reach GROUP BY node
    """,
)
def x_entity_resolution(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    pairs = _lk.linkage_pairs(
        _linkage_base(spark, sf_dir),
        "c_custkey",
        ["c_nationkey", "bb"],
        _linkage_features(),
        threshold=_LINK_THRESHOLD,
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    labs = _cc(pairs, cust.select("c_custkey"))
    return labs.select(
        F.col("doc_id").alias("c_custkey"),
        F.col("cluster_id").cast("long").alias("entity_id"),
        "is_canonical",
    )


@_register(
    "x_changelog_merge",
    "keyed changelog -> final state: last op per order wins (max_by "
    "over an order struct — ONE hash aggregate with map-side partial, "
    "the shuffle carries one candidate per key per partition, never "
    "the changelog; a row_number window would shuffle every change), "
    "delete-ops vanish; the batch twin of the K5 streaming dim upsert "
    "(OdsBaseDbApp.scala:144-163) used to audit/backfill the store "
    "(north-star)",
    """
    WITH c AS (
      SELECT l_orderkey, l_quantity, l_suppkey,
             CASE WHEN l_returnflag = 'R' THEN 'D' ELSE 'U' END AS op,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber DESC, op DESC,
                                         l_quantity DESC, l_suppkey DESC)
               AS rn
      FROM lineitem)
    SELECT l_orderkey, l_quantity, l_suppkey
    FROM c WHERE rn = 1 AND op <> 'D'
    """,
)
def x_changelog_merge(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_returnflag") == "R", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "l_quantity",
        "l_suppkey",
    )
    # this testdata's (l_orderkey, l_linenumber) is NOT unique — extend
    # the order key over the full payload so ties are interchangeable
    return _cdc.merge_changelog(
        li,
        "l_orderkey",
        ["l_linenumber", "op", "l_quantity", "l_suppkey"],
        "op",
        "D",
        ["l_quantity", "l_suppkey"],
    )


@_register(
    "x_snapshot_diff",
    "keyed snapshot diff -> changefeed: full outer hash join of two "
    "dim snapshots classifying I/D/U per key (unchanged keys drop "
    "out) — recovers the CDC stream a binlog would have produced "
    "(backfill when a source can't emit real CDC; audit that a "
    "streaming K5 store and a batch rebuild agree) (north-star)",
    """
    WITH old AS (SELECT c_custkey, c_acctbal AS bal FROM customer
                 WHERE c_custkey % 10 <> 3),
    new AS (SELECT c_custkey,
                   CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100
                        ELSE c_acctbal END AS bal
            FROM customer WHERE c_custkey % 10 <> 6)
    SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'I'
                WHEN n.c_custkey IS NULL THEN 'D' ELSE 'U' END AS op,
           o.bal AS old_bal, n.bal AS new_bal
    FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
    WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL OR o.bal <> n.bal
    """,
)
def x_snapshot_diff(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    old = cust.filter(F.col("c_custkey") % 10 != 3).select(
        "c_custkey", F.col("c_acctbal").alias("bal")
    )
    new = cust.filter(F.col("c_custkey") % 10 != 6).select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100
        )
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    return _cdc.snapshot_diff(old, new, ["c_custkey"], ["bal"])


_LDIV_L = 3


@_register(
    "x_l_diversity",
    "l-diversity audit (Machanavajjhala ICDE'06), the k-anonymity "
    "follow-up: a quasi-identifier class can be k-large yet leak the "
    "sensitive attribute when every member shares it (homogeneity "
    "attack) — requires >= l distinct segment values per "
    "(nation, balance-band) class; same single-groupBy shape as "
    "x_k_anonymity (north-star)",
    f"""
    SELECT c_nationkey,
           CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive,
           CAST(count(DISTINCT c_mktsegment) < {_LDIV_L} AS INT) AS at_risk
    FROM customer GROUP BY 1, 2
    """,
)
def x_l_diversity(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    return _ldiv(
        cust,
        [
            F.col("c_nationkey"),
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
        ],
        "c_mktsegment",
        l=_LDIV_L,
    ).select(
        "c_nationkey",
        "bal_band",
        F.col("n").cast("long").alias("n"),
        F.col("n_sensitive").cast("long").alias("n_sensitive"),
        "at_risk",
    )


_MGS_BATCHES, _MGS_M, _MGS_K = 3, 16, 10
_MG_STREAM_PATHS: dict = {}


def _mg_stream_store(spark, sf_dir: str) -> str:
    """Build (once per process) a 3-batch Misra-Gries summary store over
    document tokens, sharded by doc_id % 3 — the batch replay of the
    streaming_mg_topk writer (identical mg_write_batch code path the
    foreachBatch sink runs per micro-batch)."""
    key = (sf_dir, _MGS_BATCHES, _MGS_M)
    if key not in _MG_STREAM_PATHS:
        import atexit
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix="spark_mg_stream_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        ex = _t(spark, sf_dir, "documents").select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), r"\s+"),
                    lambda x: x != "",
                )
            ).alias("token"),
        )
        for b in range(_MGS_BATCHES):
            _inc.mg_write_batch(
                ex.filter(F.col("doc_id") % _MGS_BATCHES == b),
                b,
                path,
                "token",
                m=_MGS_M,
            )
        _MG_STREAM_PATHS[key] = path
    return _MG_STREAM_PATHS[key]


@_register(
    "x_mg_topk_stream",
    "streaming Misra-Gries heavy-hitter store, driver-exposed: three "
    "micro-batch summaries (each batch's exact top-m counters + "
    "truncation bound, written by the same mg_write_batch the "
    "foreachBatch sink runs) merged by counter addition + "
    "re-truncation (Agarwal et al. mergeable summaries) into top-k "
    "with an upper-bound certificate; state is batches x (m+1) rows "
    "regardless of key cardinality (north-star)",
    f"""
    WITH ex AS (SELECT doc_id, unnest({_TOKS_SQL}) AS key FROM documents),
    counts AS (SELECT doc_id % {_MGS_BATCHES} AS g, key, count(*) AS cnt
               FROM ex GROUP BY 1, 2),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY g
                 ORDER BY cnt DESC, key) AS rn FROM counts),
    kept AS (SELECT key, cnt FROM ranked WHERE rn <= {_MGS_M}),
    et AS (SELECT coalesce(sum(cnt), 0) AS etot FROM ranked
           WHERE rn = {_MGS_M + 1}),
    merged AS (SELECT key, sum(cnt) AS cnt FROM kept GROUP BY key),
    mr AS (SELECT key, cnt,
                  row_number() OVER (ORDER BY cnt DESC, key) AS rn
           FROM merged),
    tc AS (SELECT coalesce(sum(cnt), 0) AS t FROM mr
           WHERE rn = {_MGS_M + 1})
    SELECT CAST(rn AS BIGINT) AS rank, key, CAST(cnt AS BIGINT) AS est,
           CAST(cnt + et.etot + tc.t AS BIGINT) AS upper_bound
    FROM mr, et, tc WHERE rn <= {_MGS_K}
    """,
)
def x_mg_topk_stream(spark, sf_dir):
    store = _mg_stream_store(spark, sf_dir)
    return _inc.read_mg_topk(spark, store, k=_MGS_K, m=_MGS_M).select(
        F.col("rank").cast("long").alias("rank"),
        "key",
        "est",
        "upper_bound",
    )


_LP_MIN_COMMON, _LP_TOPK = 2, 5
_LP_CUT = "1997-01-01"


@_register(
    "x_link_prediction",
    "Jaccard-coefficient link prediction (Liben-Nowell/Kleinberg "
    "CIKM'03) on the part co-occurrence graph (first two shipping "
    "years): top-5 predicted not-yet-co-purchased partners per part — "
    "wedge-join candidates (pairs sharing >= 2 neighbors), "
    "left-anti against existing edges, broadcast node-sized degree "
    "join closes the union term, WindowGroupLimit top-k per node "
    "(north-star)",
    f"""
    WITH e AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
               FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'),
    ed AS (SELECT DISTINCT a.p AS ex, b.p AS ey
           FROM e a JOIN e b ON a.o = b.o AND a.p < b.p),
    sym AS (SELECT ex AS a, ey AS b FROM ed
            UNION ALL SELECT ey, ex FROM ed),
    deg AS (SELECT a AS node, count(*) AS degree FROM sym GROUP BY 1),
    w AS (SELECT e1.b AS x, e2.b AS y FROM sym e1
          JOIN sym e2 ON e1.a = e2.a AND e1.b < e2.b),
    common AS (SELECT x, y, count(*) AS common FROM w GROUP BY 1, 2
               HAVING count(*) >= {_LP_MIN_COMMON}),
    cand AS (SELECT c.x, c.y, c.common FROM common c
             LEFT JOIN ed ON c.x = ed.ex AND c.y = ed.ey
             WHERE ed.ex IS NULL),
    scored AS (SELECT x, y, common,
                 floor(CAST(common AS DOUBLE)
                       / (dx.degree + dy.degree - common) * 1e6 + 0.5) / 1e6
                   AS jacc
               FROM cand JOIN deg dx ON dx.node = x
                         JOIN deg dy ON dy.node = y),
    dd AS (SELECT x AS node, y AS cand, common, jacc FROM scored
           UNION ALL SELECT y, x, common, jacc FROM scored),
    rk AS (SELECT node, cand, common, jacc,
                  row_number() OVER (PARTITION BY node
                                     ORDER BY jacc DESC, common DESC, cand)
                    AS rank
           FROM dd)
    SELECT node, CAST(rank AS BIGINT) AS rank, cand,
           CAST(common AS BIGINT) AS common, jacc
    FROM rk WHERE rank <= {_LP_TOPK}
    """,
)
def x_link_prediction(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < _LP_CUT
    )
    e = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = e.alias("a"), e.alias("b")
    edges = a.join(
        b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p"))
    ).select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
    pred = _gr.jaccard_link_prediction(edges, min_common=_LP_MIN_COMMON)
    sym = pred.select(
        F.col("node_x").alias("node"),
        F.col("node_y").alias("cand"),
        "common",
        "jacc",
    ).unionByName(
        pred.select(
            F.col("node_y").alias("node"),
            F.col("node_x").alias("cand"),
            "common",
            "jacc",
        )
    )
    w = Window.partitionBy("node").orderBy(
        F.col("jacc").desc(), F.col("common").desc(), F.col("cand")
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _LP_TOPK)
        .select(
            "node",
            F.col("rank").cast("long").alias("rank"),
            "cand",
            F.col("common").cast("long").alias("common"),
            "jacc",
        )
    )


def _em_oracle_sql(iters: int = 2) -> str:
    """Unrolled fixed-point EM oracle mirroring linkage_em's exact
    expression shapes (left-assoc products, 2^-12 responsibility grid,
    floor-form output rounding) over the customer blocked pairs."""
    feats = [
        ("seg", "CAST(a.c_mktsegment = b.c_mktsegment AS INT)"),
        ("bal", "CAST(abs(a.c_acctbal - b.c_acctbal) < 100.0 AS INT)"),
        ("sfx", "CAST(a.sfx = b.sfx AS INT)"),
    ]
    k = len(feats)
    gcols = ", ".join(f"{expr} AS g{j}" for j, (_, expr) in enumerate(feats))
    # parameter expressions per iteration: iteration 0 uses the binary-
    # fraction constants; iteration i>0 references the s{i} aggregate
    def params(i):
        if i == 0:
            return "0.125", ["0.75"] * k, ["0.25"] * k
        # per-feature M-step denominators (non-null-flag rows only) —
        # mirrors linkage_em's missing-as-no-evidence convention,
        # INCLUDING its keep-current-estimate fallback when a feature's
        # denominator is 0/NULL (all flags null, or responsibility mass
        # rounds to 0): the CASE recurses to the previous iteration's
        # expression so Spark and the oracle stay bit-identical even on
        # a degenerate feature.
        _, pm, pu = params(i - 1)
        return (
            f"(s{i}.rn / s{i}.nn)",
            [
                f"(CASE WHEN s{i}.rnj{j} > 0 THEN s{i}.rg{j} / s{i}.rnj{j}"
                f" ELSE {pm[j]} END)"
                for j in range(k)
            ],
            [
                f"(CASE WHEN s{i}.snj{j} > 0 THEN s{i}.sg{j} / s{i}.snj{j}"
                f" ELSE {pu[j]} END)"
                for j in range(k)
            ],
        )

    ctes = []
    for i in range(iters):
        p, ms, us = params(i)
        pm = p
        pu = f"(1.0 - {p})"
        for j in range(k):
            pm += (
                f" * (CASE WHEN g{j} IS NULL THEN 1.0"
                f" WHEN g{j} = 1 THEN {ms[j]}"
                f" ELSE (1.0 - {ms[j]}) END)"
            )
            pu += (
                f" * (CASE WHEN g{j} IS NULL THEN 1.0"
                f" WHEN g{j} = 1 THEN {us[j]}"
                f" ELSE (1.0 - {us[j]}) END)"
            )
        # all prior 1-row s-tables join in (cross join of singletons):
        # the keep-current fallback can reference any earlier iteration
        src = "pat" if i == 0 else "pat, " + ", ".join(
            f"s{t}" for t in range(1, i + 1)
        )
        ctes.append(
            f"it{i + 1} AS (SELECT g0, g1, g2, n,\n"
            f"  floor(({pm}) / (({pm}) + ({pu})) * 4096.0 + 0.5) / 4096.0"
            f" AS r\n  FROM {src})"
        )
        sums = ", ".join(
            [f"sum(n * r * g{j}) AS rg{j}" for j in range(k)]
            + [f"sum((1.0 - r) * n * g{j}) AS sg{j}" for j in range(k)]
            + [
                f"sum(CASE WHEN g{j} IS NOT NULL THEN n * r END) AS rnj{j}"
                for j in range(k)
            ]
            + [
                f"sum(CASE WHEN g{j} IS NOT NULL THEN (1.0 - r) * n END)"
                f" AS snj{j}"
                for j in range(k)
            ]
        )
        ctes.append(
            f"s{i + 1} AS (SELECT sum(n * r) AS rn,"
            f" sum((1.0 - r) * n) AS sn, sum(n) AS nn, {sums}"
            f" FROM it{i + 1})"
        )
    pF, msF, usF = params(iters)
    rows = []
    for j, (name, _) in enumerate(feats):
        rows.append(
            f"SELECT '{name}' AS feature,\n"
            f"  floor({msF[j]} * 1e6 + 0.5) / 1e6 AS m,\n"
            f"  floor({usF[j]} * 1e6 + 0.5) / 1e6 AS u,\n"
            f"  floor({msF[j]} / {usF[j]} * 1e6 + 0.5) / 1e6 AS w_agree,\n"
            f"  floor((1.0 - {msF[j]}) / (1.0 - {usF[j]}) * 1e6 + 0.5) / 1e6"
            f" AS w_disagree\nFROM "
            + ", ".join(f"s{t}" for t in range(1, iters + 1))
        )
    cte_block = ",\n    ".join(ctes)
    union_block = " UNION ALL ".join(rows)
    return f"""
    WITH c AS (SELECT c_custkey, c_nationkey,
                 CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bb,
                 c_mktsegment, c_acctbal, right(c_name, 1) AS sfx
          FROM customer),
    pr AS (SELECT {gcols}
           FROM c a JOIN c b
           ON a.c_nationkey = b.c_nationkey AND a.bb = b.bb
              AND a.c_custkey < b.c_custkey),
    pat AS (SELECT g0, g1, g2, CAST(count(*) AS DOUBLE) AS n
            FROM pr GROUP BY 1, 2, 3),
    {cte_block}
    {union_block}
    """


@_register(
    "x_linkage_em",
    "Fellegi-Sunter EM parameter estimation (Winkler'88) over the same "
    "blocked customer pairs as x_record_linkage: learn per-feature "
    "m = P(agree|match), u = P(agree|non-match) and likelihood-ratio "
    "weights from UNLABELED pairs — one data-sized aggregate to "
    "2^k agreement-pattern counts, then every EM iteration runs on the "
    "model-sized pattern frame; responsibilities quantized to the "
    "2^-12 grid make the M-step sums exact and order-free "
    "(north-star: no second pass over pairs, no libm)",
    _em_oracle_sql(iters=2),
)
def x_linkage_em(spark, sf_dir):
    pairs = _lk.linkage_pairs(
        _linkage_base(spark, sf_dir),
        "c_custkey",
        ["c_nationkey", "bb"],
        _linkage_features(),
        threshold=-100,
    )
    return _lk.linkage_em(
        pairs, ["agree_seg", "agree_bal", "agree_sfx"], iters=2
    ).withColumn(
        "feature", F.regexp_replace("feature", "^agree_", "")
    )


@_register(
    "x_t_closeness",
    "t-closeness audit (Li ICDE'07) — the third privacy rung after "
    "x_k_anonymity (class size) and x_l_diversity (distinct values): "
    "total-variation EMD between each (nation, balance-band) class's "
    "segment distribution and the global one, values the class misses "
    "included; integer numerators accumulated in DECIMAL and an "
    "integer threshold compare make both the distance and the at_risk "
    "verdict exact at any scale (north-star)",
    """
    WITH base AS (SELECT c_nationkey,
                    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
                    c_mktsegment AS s
             FROM customer),
    cls AS (SELECT c_nationkey, bal_band, count(*) AS n
            FROM base GROUP BY 1, 2),
    cv AS (SELECT c_nationkey, bal_band, s, count(*) AS cnt
           FROM base GROUP BY 1, 2, 3),
    gv AS (SELECT s, count(*) AS cnt_g FROM base GROUP BY 1),
    tot AS (SELECT count(*) AS nn FROM base),
    fj AS (SELECT cls.c_nationkey, cls.bal_band, cls.n, gv.s, gv.cnt_g,
                  tot.nn, coalesce(cv.cnt, 0) AS cnt
           FROM cls CROSS JOIN gv CROSS JOIN tot
           LEFT JOIN cv ON cv.c_nationkey = cls.c_nationkey
                       AND cv.bal_band = cls.bal_band AND cv.s = gv.s),
    pc AS (SELECT c_nationkey, bal_band, n, nn,
                  sum(abs(CAST(cnt AS HUGEINT) * nn
                          - CAST(cnt_g AS HUGEINT) * n)) AS num
           FROM fj GROUP BY 1, 2, 3, 4)
    SELECT c_nationkey, bal_band, CAST(n AS BIGINT) AS n,
           floor(CAST(num AS DOUBLE)
                 / CAST(CAST(2 AS HUGEINT) * n * nn AS DOUBLE)
                 * 1e6 + 0.5) / 1e6 AS emd,
           CAST(num * 5 > CAST(2 AS HUGEINT) * n * nn AS INT) AS at_risk
    FROM pc
    """,
)
def x_t_closeness(spark, sf_dir):
    from ..operators.validate import t_closeness_report

    cust = _t(spark, sf_dir, "customer")
    return t_closeness_report(
        cust,
        [
            F.col("c_nationkey"),
            F.floor(F.col("c_acctbal") / 1000.0)
            .cast("long")
            .alias("bal_band"),
        ],
        "c_mktsegment",
        t_num=1,
        t_den=5,
    )


@_register(
    "x_cluster_split",
    "leakage-safe train/val/test split: hash-range membership keyed by "
    "the near-dup CLUSTER id (labels shared with x_dedup_cluster via "
    "the process-level materialized parquet), so every member of a "
    "duplicate cluster lands in the SAME split — the guard that stops "
    "val/test contamination by near-copies of training docs, composing "
    "the dedup labels with the split instead of re-deriving either "
    "(north-star)",
    f"""
    WITH labels AS ({_CLUSTER_SQL}),
    coord AS (SELECT l.doc_id, l.cluster_id,
                     substr(md5('split:' || CAST(l.cluster_id AS VARCHAR)),
                            1, 8) AS h
              FROM labels l)
    SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           CASE WHEN h < '{format(int(0.05 * 16**8), "08x")}' THEN 'val'
                WHEN h < '{format(int(0.10 * 16**8), "08x")}' THEN 'test'
                ELSE 'train' END AS split
    FROM coord
    """,
)
def x_cluster_split(spark, sf_dir):
    labels = _cluster_labels(spark, sf_dir)
    return _cx.train_val_test_split(
        labels, "cluster_id", val_frac=0.05, test_frac=0.05
    ).select(
        "doc_id", F.col("cluster_id").cast("long").alias("cluster_id"), "split"
    )


def _hex48_sql(h: str) -> str:
    """48-bit integer from a 12-hex-char column expression (the
    _hex32_sql digit math, widened to 12 digits)."""
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1) "
        f"* {16 ** (11 - j)}"
        for j in range(12)
    )
    return f"({terms})"


_MANIFEST_SHARDS = 8


@_register(
    "x_shard_manifest",
    "per-shard integrity manifest for the export: row count + "
    "order-free exact content fingerprint (48-bit md5 row hashes "
    "summed in DECIMAL — commutative, overflow-free — reduced mod "
    "2^31-1), same hash-mod shards as x_shard_assign; the receipt that "
    "lets any later copy/compaction/re-read prove 'same rows' without "
    "comparing data (north-star: one projection + one 8-row aggregate)",
    f"""
    WITH r AS (
      SELECT ({_hex32_sql("substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8)")}
              % {_MANIFEST_SHARDS}) AS shard,
             {_hex48_sql("substr(md5(concat_ws('|', CAST(doc_id AS VARCHAR), coalesce(text, ''), coalesce(lang, ''), coalesce(source, ''))), 1, 12)")}
               AS h
      FROM documents)
    SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(h) % 2147483647 AS BIGINT) AS fingerprint
    FROM r GROUP BY shard
    """,
)
def x_shard_manifest(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return _cx.shard_manifest(
        docs, "doc_id", ["text", "lang", "source"], n_shards=_MANIFEST_SHARDS
    )


@_register(
    "x_markov_surprise",
    "per-user sequence surprise under the corpus's own first-order "
    "Markov transition model (avg -ln P(next|current) over the user's "
    "transitions): bot/scripted-session detection on the same ordered "
    "event stream x_markov_transitions models — model is the |S|^2 "
    "broadcast matrix, scoring is one windowed lead + two keyed "
    "aggregates (north-star)",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    c AS (SELECT event_type AS from_state, nxt AS to_state,
                 count(*) AS n
          FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
    model AS (SELECT from_state, to_state,
                     greatest(floor(CAST(n AS DOUBLE)
                              / CAST(sum(n) OVER (PARTITION BY from_state)
                                     AS DOUBLE)
                              * 1000000 + 0.5) / 1000000,
                              0.000001) AS p
              FROM c),
    ut AS (SELECT user_id, event_type AS from_state, nxt AS to_state,
                  count(*) AS tf
           FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2, 3)
    SELECT user_id, CAST(sum(tf) AS BIGINT) AS n_transitions,
           floor(sum(tf * -ln(p)) / sum(tf) * 1e4 + 0.5) / 1e4 AS surprise
    FROM ut JOIN model USING (from_state, to_state)
    GROUP BY user_id
    """,
)
def x_markov_surprise(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return _ord.markov_surprise(
        ev, "user_id", ["ts", "event_id"], "event_type", decimals=4
    )


_HLL_STREAM_BATCHES = 3
_HLL_STREAM_PATHS: dict = {}


def _hll_stream_store(spark, sf_dir: str) -> str:
    """3-batch streaming HLL register store over events user_ids,
    sharded by event_id % 3 — the batch replay of streaming_hll_distinct
    (identical hll_registers writer the foreachBatch sink runs)."""
    key = (sf_dir, _HLL_STREAM_BATCHES)
    if key not in _HLL_STREAM_PATHS:
        import atexit
        import os
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix="spark_hll_stream_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        ev = _t(spark, sf_dir, "events")
        for b in range(_HLL_STREAM_BATCHES):
            regs = _sk.hll_registers(
                ev.filter(F.col("event_id") % _HLL_STREAM_BATCHES == b),
                "user_id",
            )
            write_batch(regs, path, b)
        _HLL_STREAM_PATHS[key] = path
    return _HLL_STREAM_PATHS[key]


@_register(
    "x_hll_stream",
    "streaming HyperLogLog distinct store, driver-exposed: three "
    "micro-batch register tables (the same hll_registers writer the "
    "streaming_hll_distinct foreachBatch sink runs, idempotent "
    "per-batch dirs) merged by cell-wise max and finalized — "
    "finalize(merge(shards)) == one-pass estimate EXACTLY (mergeable "
    "sketch algebra), so the oracle is the single-pass batch SQL "
    "unchanged; state is batches x 64 integer registers regardless of "
    "key cardinality (north-star)",
    f"""
    WITH h AS (SELECT substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 8)
                      AS h8 FROM events),
    b AS (SELECT ({_hex32_sql('h8')} % 64) AS reg,
                 ({_hex32_sql('h8')} // 64) AS w FROM h),
    r AS (SELECT reg,
                 max(CASE WHEN w = 0 THEN 27
                          ELSE 27 - length(bin(w)) END) AS mx
          FROM b GROUP BY reg),
    spine AS (SELECT unnest(range(0, 64)) AS reg),
    regs AS (SELECT coalesce(r.mx, 0) AS mx
             FROM spine s LEFT JOIN r ON r.reg = s.reg),
    agg AS (SELECT sum(pow(2.0, -mx)) AS z,
                   sum(CASE WHEN mx = 0 THEN 1 ELSE 0 END) AS zeros
            FROM regs)
    SELECT round(CASE WHEN (0.709 * 64 * 64 / z) <= 160.0 AND zeros > 0
                      THEN 64.0 * ln(64.0 / zeros)
                      ELSE 0.709 * 64 * 64 / z END, 4) AS hll_estimate,
           (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
               AS true_distinct
    FROM agg
    """,
)
def x_hll_stream(spark, sf_dir):
    from ..streaming.incremental import read_hll_estimate

    store = _hll_stream_store(spark, sf_dir)
    est = read_hll_estimate(spark, store)
    tru = _t(spark, sf_dir, "events").agg(
        F.count_distinct("user_id").alias("true_distinct")
    )
    return est.crossJoin(tru)


@_register(
    "x_benford_audit",
    "Benford first-significant-digit audit (Nigrini fraud screen) of "
    "order totals: observed vs log10(1+1/d) expected shares per digit "
    "— the digit comes from INTEGER floor+string math (no log on data, "
    "so no cross-engine libm flip can move a discrete digit), "
    "expectations are compiled constants; one hash aggregate, ALWAYS "
    "9 rows (zero-count digits kept via the 1..9 spine — an absent "
    "digit is the strongest fraud signal) (north-star)",
    """
    WITH ben(digit, p) AS (VALUES
      ('1', 0.3010299956639812), ('2', 0.17609125905568124),
      ('3', 0.12493873660829992), ('4', 0.09691001300805642),
      ('5', 0.07918124604762482), ('6', 0.06694678963061322),
      ('7', 0.05799194697768673), ('8', 0.05115252244738129),
      ('9', 0.04575749056067514)),
    obs AS (SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                               AS VARCHAR), 1, 1) AS digit,
                   count(*) AS n
            FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
    c AS (SELECT ben.digit, ben.p, coalesce(obs.n, 0) AS n
          FROM ben LEFT JOIN obs USING (digit)),
    t AS (SELECT sum(n) AS tot FROM c)
    SELECT c.digit, CAST(c.n AS BIGINT) AS n,
           floor(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) * 1e6 + 0.5)
             / 1e6 AS share,
           floor(c.p * 1e6 + 0.5) / 1e6 AS expected_share,
           floor(abs(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) - c.p)
                 * 1e6 + 0.5) / 1e6 AS abs_dev
    FROM c CROSS JOIN t
    """,
)
def x_benford_audit(spark, sf_dir):
    from ..operators.validate import benford_report

    return benford_report(_t(spark, sf_dir, "orders"), "o_totalprice")


_CMS_STREAM_BATCHES = 3
_CMS_STREAM_PATHS: dict = {}


def _cms_stream_store(spark, sf_dir: str) -> str:
    """3-batch streaming CMS store over events user_ids, sharded by
    event_id % 3 — the batch replay of streaming_cms_counts (identical
    cms_sketch writer the foreachBatch sink runs per micro-batch)."""
    key = (sf_dir, _CMS_STREAM_BATCHES, _CMS_D, _CMS_W)
    if key not in _CMS_STREAM_PATHS:
        import atexit
        import os
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix="spark_cms_stream_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        ev = _t(spark, sf_dir, "events")
        for b in range(_CMS_STREAM_BATCHES):
            write_batch(
                _sk.cms_sketch(
                    ev.filter(F.col("event_id") % _CMS_STREAM_BATCHES == b),
                    "user_id",
                    d=_CMS_D,
                    w=_CMS_W,
                ),
                path, b,
            )
        _CMS_STREAM_PATHS[key] = path
    return _CMS_STREAM_PATHS[key]


@_register(
    "x_cms_stream",
    "streaming count-min store, driver-exposed (completing the "
    "driver-checked mergeable-store trio with x_mg_topk_stream and "
    "x_hll_stream): three micro-batch d x w cell tables (the same "
    "cms_sketch writer the streaming_cms_counts sink runs) merged by "
    "cell-wise SUM and min-probed — merge-of-shards equals the "
    "single-pass sketch exactly, so the oracle is the batch SQL "
    "unchanged; state is batches x d x w cells regardless of key "
    "cardinality (north-star)",
    f"""
    WITH rows AS (SELECT unnest(range(0, {_CMS_D})) AS row),
    cells AS (SELECT r.row,
                     {_cms_bucket_sql('r.row', 'e.user_id', _CMS_W)} AS bucket
              FROM events e CROSS JOIN rows r),
    sk AS (SELECT row, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2),
    keys AS (SELECT DISTINCT user_id FROM events),
    probes AS (SELECT k.user_id, r.row,
                      {_cms_bucket_sql('r.row', 'k.user_id', _CMS_W)} AS bucket
               FROM keys k CROSS JOIN rows r),
    est AS (SELECT user_id, min(cnt) AS est
            FROM probes JOIN sk USING (row, bucket) GROUP BY user_id),
    tru AS (SELECT user_id, count(*) AS true_cnt FROM events GROUP BY user_id)
    SELECT user_id, est, true_cnt FROM est JOIN tru USING (user_id)
    """,
)
def x_cms_stream(spark, sf_dir):
    from ..streaming.incremental import read_cms_estimate

    store = _cms_stream_store(spark, sf_dir)
    ev = _t(spark, sf_dir, "events")
    keys = ev.select("user_id").distinct()
    est = read_cms_estimate(spark, store, keys, "user_id", d=_CMS_D, w=_CMS_W)
    tru = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_cnt"))
    return est.join(tru, "user_id").select("user_id", "est", "true_cnt")


_AGG_STREAM_BATCHES = 3
_AGG_STREAM_PATHS: dict = {}


def _agg_stream_store(spark, sf_dir: str) -> str:
    """3-batch IVM-lite aggregate store over events, sharded by
    event_id % 3 — the batch replay of streaming_agg_store (identical
    agg_write_batch the foreachBatch sink runs per micro-batch)."""
    from ..streaming.incremental import agg_write_batch

    key = (sf_dir, _AGG_STREAM_BATCHES)
    if key not in _AGG_STREAM_PATHS:
        import atexit
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix="spark_agg_stream_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        ev = _t(spark, sf_dir, "events")
        for b in range(_AGG_STREAM_BATCHES):
            agg_write_batch(
                ev.filter(F.col("event_id") % _AGG_STREAM_BATCHES == b),
                b,
                path,
                ["user_id", "event_type"],
                "value",
            )
        _AGG_STREAM_PATHS[key] = path
    return _AGG_STREAM_PATHS[key]


@_register(
    "x_agg_store_stream",
    "streaming IVM-lite exact aggregate store, driver-exposed (the "
    "EXACT-state member of the mergeable-store family beside the "
    "HLL/CMS/MG sketches): three micro-batch per-key partial aggregates "
    "(count / decimal sum / min / max — the same agg_write_batch the "
    "streaming_agg_store sink runs) merged at read into totals equal BY "
    "ALGEBRA to one groupBy over the full stream; decimal sums make the "
    "merge partition-order-free (north-star: each batch aggregates only "
    "itself, reads never rescan history)",
    """
    SELECT user_id, event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sm,
           min(value) AS mn, max(value) AS mx,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)
             AS avg
    FROM events GROUP BY 1, 2
    """,
)
def x_agg_store_stream(spark, sf_dir):
    from ..streaming.incremental import read_agg_totals

    store = _agg_stream_store(spark, sf_dir)
    return read_agg_totals(spark, store, ["user_id", "event_type"])


@_register(
    "x_anomaly_mad",
    "robust per-type outliers by MAD (Iglewicz-Hoaglin modified "
    "z-score 0.6745*(x-med)/MAD, |M| > 3.5): the mean/stddev moments "
    "behind x_anomaly_zscore are themselves dragged by the outliers "
    "they hunt — median/MAD have 50% breakdown; two keyed exact-"
    "percentile aggregates + broadcast joins back, threshold cut on "
    "the ROUNDED score so the cut is engine-stable; exact percentile "
    "keeps the oracle exact — at 100 TB swap approx_percentile "
    "(t-digest, mergeable) per group, the documented knob "
    "(north-star)",
    """
    WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                 FROM events GROUP BY event_type),
    mad AS (SELECT e.event_type,
                   quantile_cont(abs(e.value - m.med), 0.5) AS mad
            FROM events e JOIN med m ON e.event_type = m.event_type
            GROUP BY e.event_type),
    s AS (SELECT med.event_type, med.med, mad.mad
          FROM med JOIN mad ON med.event_type = mad.event_type)
    SELECT event_id, e.event_type,
           floor(0.6745 * (e.value - s.med) / s.mad * 1e4 + 0.5) / 1e4
             AS mscore
    FROM events e JOIN s ON e.event_type = s.event_type
    WHERE s.mad > 0
      AND abs(floor(0.6745 * (e.value - s.med) / s.mad * 1e4 + 0.5)
              / 1e4) > 3.5
    """,
)
def x_anomaly_mad(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias(
                "mad"
            )
        )
    )
    s = med.join(mad, "event_type")
    m = (
        F.floor(
            F.lit(0.6745)
            * (F.col("value") - F.col("med"))
            / F.col("mad")
            * F.lit(1e4)
            + F.lit(0.5)
        )
        / F.lit(1e4)
    )
    return (
        ev.join(F.broadcast(s), "event_type")
        .filter(F.col("mad") > 0)
        .withColumn("mscore", m)
        .filter(F.abs(F.col("mscore")) > 3.5)
        .select("event_id", "event_type", "mscore")
    )


@_register(
    "x_ks_drift",
    "exact two-sample Kolmogorov-Smirnov drift between click and view "
    "value distributions: distinct-value per-side counts, GLOBAL "
    "running counts via a distributed two-pass prefix sum (range "
    "partition + partitioned window + partition-offset broadcast — "
    "never a single-task global window), deviation |cumA*nB - cumB*nA| "
    "stays INTEGER so max and argmax are exact; the binless complement "
    "of the binned PSI drift report (north-star)",
    """
    WITH a AS (SELECT value AS v,
                      count(*) FILTER (event_type = 'click') AS ca,
                      count(*) FILTER (event_type = 'view') AS cb
               FROM events WHERE event_type IN ('click', 'view')
               GROUP BY value),
    t AS (SELECT sum(ca) AS n_a, sum(cb) AS n_b FROM a),
    r AS (SELECT v,
                 sum(ca) OVER (ORDER BY v) AS cum_a,
                 sum(cb) OVER (ORDER BY v) AS cum_b
          FROM a),
    d AS (SELECT r.v, abs(r.cum_a * t.n_b - r.cum_b * t.n_a) AS num,
                 t.n_a, t.n_b
          FROM r, t),
    best AS (SELECT * FROM d ORDER BY num DESC, v LIMIT 1)
    SELECT floor(CAST(num AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS d_stat,
           v AS at_value,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
    FROM best
    """,
)
def x_ks_drift(spark, sf_dir):
    from ..operators.distributed import ks_two_sample

    ev = _t(spark, sf_dir, "events")
    return ks_two_sample(ev, "value", "event_type", "click", "view")


@_register(
    "x_ecdf_normalize",
    "ECDF percentile normalization of document length: every doc gets "
    "its corpus-wide length percentile (the scale-free feature quality "
    "mixers and length-balanced samplers consume) — distinct-value "
    "counts, global running counts via the distributed prefix sum "
    "(never a single-task window), one broadcast join back; pct = "
    "cum/n is one exact-integer division (north-star)",
    """
    WITH a AS (SELECT n_chars AS v, count(*) AS c FROM documents GROUP BY 1),
    t AS (SELECT sum(c) AS n FROM a),
    r AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM a)
    SELECT d.doc_id, d.n_chars,
           floor(CAST(r.cum AS DOUBLE) / CAST(t.n AS DOUBLE) * 1e6 + 0.5)
             / 1e6 AS pct
    FROM documents d JOIN r ON r.v = d.n_chars CROSS JOIN t
    """,
)
def x_ecdf_normalize(spark, sf_dir):
    from ..operators.distributed import prefix_sums

    docs = _t(spark, sf_dir, "documents")
    per_v = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    cums = prefix_sums(per_v, ["v"], ["c"])
    tot = per_v.agg(F.sum("c").alias("n"))
    pct = (
        F.floor(
            F.col("c_cum").cast("double")
            / F.col("n").cast("double")
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    ecdf = (
        cums.crossJoin(F.broadcast(tot))
        .select(F.col("v"), pct.alias("pct"))
    )
    return docs.join(
        F.broadcast(ecdf), docs["n_chars"] == ecdf["v"]
    ).select("doc_id", "n_chars", "pct")


_IVF_STREAM_BATCHES = 3
_IVF_STREAM_PATHS: dict = {}


def _ivf_stream_store(spark, sf_dir: str, cents) -> str:
    """3-batch cell-partitioned IVF ingest store over embeddings,
    sharded by vec_id % 3 — the batch replay of streaming_ivf_ingest
    (identical assignment + partitionBy(cell) layout the foreachBatch
    sink writes per micro-batch)."""
    from ..operators.similarity import _attach, _cell_expr, _cents_col, as_double_vec

    key = (sf_dir, _IVF_STREAM_BATCHES)
    if key not in _IVF_STREAM_PATHS:
        import atexit
        import os
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix="spark_ivf_stream_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        emb = _t(spark, sf_dir, "embeddings")
        for b in range(_IVF_STREAM_BATCHES):
            batch = emb.filter(F.col("vec_id") % _IVF_STREAM_BATCHES == b)
            assigned = _attach(
                batch.select(
                    F.col("vec_id").alias("id"),
                    as_double_vec("embedding").alias("v"),
                ),
                _cents_col(spark, cents),
            ).select("id", "v", _cell_expr(F.col("v")).alias("cell"))
            write_batch(assigned, path, b, partition_by="cell")
        _IVF_STREAM_PATHS[key] = path
    return _IVF_STREAM_PATHS[key]


@_register(
    "x_ivf_stream",
    "streaming IVF index store, driver-exposed: three micro-batch "
    "cell-partitioned ingests (the same model-broadcast assignment + "
    "partitionBy(cell) layout streaming_ivf_ingest writes — a probe "
    "prunes to n_probe cell dirs per batch, never the corpus) queried "
    "with the shared trained centroids; cell assignment is a pure "
    "function of the model, so the store probe is IDENTICAL to batch "
    "ivf_topk and the oracle is x_knn_ivf's unrolled-training SQL "
    "unchanged (north-star)",
    _ivf_sql(n_cent=8, iters=3, q_max=20, k=3, n_probe=2),
)
def x_ivf_stream(spark, sf_dir):
    from ..streaming.incremental import query_ivf_store

    emb = _t(spark, sf_dir, "embeddings")
    cents = _trained("ivf", spark, sf_dir, n_centroids=8, iters=3)
    store = _ivf_stream_store(spark, sf_dir, cents)
    return query_ivf_store(
        spark,
        store,
        emb.filter(F.col("vec_id") < 20),
        cents,
        k=3,
        n_probe=2,
    )


@_register(
    "x_exact_quantiles",
    "exact distributed type-1 quantiles of order totals (p50/p90/p99/"
    "p999): distinct-value counts + the distributed prefix sum (no "
    "single-task sort anywhere) + minimal-qualifying-value selection — "
    "integer-rank selection with integer ceil division, zero float "
    "arithmetic on data; the reproducible-by-contract counterpart of "
    "approx_percentile (north-star)",
    """
    WITH a AS (SELECT o_totalprice AS v, count(*) AS c FROM orders
               GROUP BY 1),
    t AS (SELECT sum(c) AS n FROM a),
    r AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM a),
    ps(p_num) AS (VALUES (500000), (900000), (990000), (999000))
    SELECT CAST(p_num AS DOUBLE) / 1000000 AS p,
           CAST((t.n * p_num + 999999) // 1000000 AS BIGINT)
             AS target_rank,
           min(r.v) AS value
    FROM ps CROSS JOIN t JOIN r
      ON r.cum >= (t.n * p_num + 999999) // 1000000
    GROUP BY p_num, t.n
    """,
)
def x_exact_quantiles(spark, sf_dir):
    from ..operators.distributed import exact_quantiles

    orders = _t(spark, sf_dir, "orders")
    return exact_quantiles(
        orders, "o_totalprice", [0.5, 0.9, 0.99, 0.999]
    )


@_register(
    "x_gap_fill",
    "calendar gap-fill + forward-fill: daily order counts per priority "
    "joined against the full generated date spine (missing days appear "
    "as rows, not silences), then last-observation-carried-forward via "
    "a PARTITIONED ignore-nulls window — the standard time-series "
    "densification every reporting/feature table needs; spine is "
    "generated (dates x priorities), never scanned (north-star)",
    """
    WITH d AS (SELECT CAST(o_orderdate AS DATE) AS od, o_orderpriority AS pr
               FROM orders),
    daily AS (SELECT od, pr, count(*) AS n FROM d GROUP BY 1, 2),
    bounds AS (SELECT min(od) AS lo, max(od) AS hi FROM d),
    spine AS (SELECT unnest(generate_series(lo, hi,
                                            INTERVAL 1 DAY))::DATE AS od
              FROM bounds),
    prs AS (SELECT DISTINCT pr FROM d),
    grid AS (SELECT s.od, p.pr FROM spine s CROSS JOIN prs p),
    j AS (SELECT g.od, g.pr, daily.n
          FROM grid g LEFT JOIN daily
            ON daily.od = g.od AND daily.pr = g.pr)
    SELECT strftime(od, '%Y-%m-%d') AS dt, pr,
           CAST(coalesce(last_value(n IGNORE NULLS)
                           OVER (PARTITION BY pr ORDER BY od
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW), 0) AS BIGINT) AS n,
           CAST(n IS NULL AS INT) AS filled
    FROM j
    """,
)
def x_gap_fill(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    d = orders.select(
        F.to_date("o_orderdate").alias("od"),
        F.col("o_orderpriority").alias("pr"),
    )
    daily = d.groupBy("od", "pr").agg(F.count(F.lit(1)).alias("n"))
    bounds = d.agg(F.min("od").alias("lo"), F.max("od").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("od")
    )
    prs = d.select("pr").distinct()
    grid = spine.crossJoin(F.broadcast(prs))
    j = grid.join(daily, ["od", "pr"], "left")
    w = Window.partitionBy("pr").orderBy("od").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return j.select(
        F.date_format("od", "yyyy-MM-dd").alias("dt"),
        "pr",
        F.coalesce(F.last("n", ignorenulls=True).over(w), F.lit(0))
        .cast("long")
        .alias("n"),
        F.col("n").isNull().cast("int").alias("filled"),
    )


@_register(
    "x_attribution_last_touch",
    "last-touch attribution: every purchase credits the user's LAST "
    "preceding non-purchase event (masked ignore-nulls window over the "
    "(ts, event_id)-ordered per-user stream — one shuffle on user); "
    "purchases with no preceding touch credit 'none'; revenue summed "
    "in DECIMAL (order-free) and cast out (north-star)",
    """
    WITH e AS (SELECT user_id, ts, event_id, event_type, value
               FROM events),
    m AS (SELECT user_id, ts, event_id, event_type, value,
                 last_value(CASE WHEN event_type <> 'purchase'
                                 THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS touch
          FROM e)
    SELECT coalesce(touch, 'none') AS attributed_to,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM m WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def x_attribution_last_touch(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("none")).alias("attributed_to"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@_register(
    "x_rfm_segmentation",
    "RFM customer segmentation: per customer recency (days since last "
    "order vs corpus max date), frequency (orders), monetary (decimal "
    "spend); quintile scores are EXACT ntile(5) semantics under a TOTAL "
    "order (metric + custkey tiebreak) but computed with the "
    "distributed integer-rank primitive (prefix_sums rank + the "
    "q/m tile formula) — NEVER a keyless ntile window, whose single "
    "task over the data-keyed customer domain is the classic scale "
    "trap (north-star: two keyed aggregates + three range exchanges, "
    "no single data-sized task)",
    """
    WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
                      o_totalprice FROM orders),
    mx AS (SELECT max(od) AS mxd FROM o),
    per_c AS (SELECT o_custkey,
                     date_diff('day', max(od), (SELECT mxd FROM mx))
                       AS recency_days,
                     count(*) AS frequency,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                          AS DOUBLE) AS monetary
              FROM o GROUP BY o_custkey),
    scored AS (SELECT *,
                 ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r_inv,
                 ntile(5) OVER (ORDER BY frequency, o_custkey) AS f_sc,
                 ntile(5) OVER (ORDER BY monetary, o_custkey) AS m_sc
               FROM per_c)
    SELECT o_custkey, CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency, monetary,
           CAST(6 - r_inv AS INT) AS r_score,
           CAST(f_sc AS INT) AS f_score,
           CAST(m_sc AS INT) AS m_score,
           concat(CAST(6 - r_inv AS VARCHAR), CAST(f_sc AS VARCHAR),
                  CAST(m_sc AS VARCHAR)) AS rfm
    FROM scored
    """,
)
def x_rfm_segmentation(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("od"),
        "o_totalprice",
    )
    return _rfm_frame(o)


def _rfm_frame(o):
    """RFM scores from a projected (o_custkey, od, o_totalprice) orders
    frame. Shared by the x_rfm_segmentation entry and
    scripts/business_probe.py (which feeds it scaled customer
    domains)."""
    mx = o.agg(F.max("od").alias("mxd"))
    per_c = (
        o.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.first("mxd"), F.max("od")).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    from ..operators.distributed import ntile_exact

    scored = per_c
    for metric, out in (
        ("recency_days", "r_inv"),
        ("frequency", "f_sc"),
        ("monetary", "m_sc"),
    ):
        scored = ntile_exact(scored, [metric, "o_custkey"], 5, out)
    return scored.select(
        "o_custkey",
        F.col("recency_days").cast("long").alias("recency_days"),
        F.col("frequency").cast("long").alias("frequency"),
        "monetary",
        (F.lit(6) - F.col("r_inv")).cast("int").alias("r_score"),
        F.col("f_sc").cast("int").alias("f_score"),
        F.col("m_sc").cast("int").alias("m_score"),
        F.concat(
            (F.lit(6) - F.col("r_inv")).cast("string"),
            F.col("f_sc").cast("string"),
            F.col("m_sc").cast("string"),
        ).alias("rfm"),
    )


_LIFT_MIN_SUPPORT = 2
# Pair fanout per basket is B*(B-1)/2: one pathological basket (a crawler
# cart, a load-test order) with 1M lines would alone emit 5e11 pairs.
# Baskets over the cap are EXCLUDED from all lift statistics (standard
# market-basket practice — degenerate carts are noise, not signal), and
# the cap bounds the worst single-basket fanout at ~5k pairs. TPC-H
# orders carry <= 7 lines, so the cap is invisible at every test SF; the
# oracle applies the identical cut.
_LIFT_MAX_BASKET = 100


def _basket_lift_frame(e, min_support: int, max_basket: int):
    """Association-rule stats from a distinct (o, p) basket-membership
    frame: basket-size cap -> pair equi-join on the basket key ->
    Apriori min-support prune -> broadcast stats joins. Shared by the
    x_basket_lift entry and scripts/business_probe.py (which feeds it
    scaled + hub-skewed synthetic baskets)."""
    bs = e.groupBy("o").agg(F.count(F.lit(1)).alias("_bs")).filter(
        F.col("_bs") <= max_basket
    ).select("o")
    e = e.join(bs, "o")
    nb = e.agg(F.count_distinct("o").alias("n_baskets"))
    pc = e.groupBy("p").agg(F.count(F.lit(1)).alias("n_p"))
    a, b = e.alias("a"), e.alias("b")
    pp = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(
            F.col("a.p").alias("part_a"), F.col("b.p").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_support)
    )
    ca = pc.select(F.col("p").alias("part_a"), F.col("n_p").alias("na"))
    cb = pc.select(F.col("p").alias("part_b"), F.col("n_p").alias("nbp"))
    scale6, scale4 = F.lit(1e6), F.lit(1e4)

    def _r(col, s):
        return F.floor(col * s + F.lit(0.5)) / s

    return (
        pp.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "part_a",
            "part_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            _r(
                F.col("n_ab").cast("double") / F.col("n_baskets"), scale6
            ).alias("support"),
            _r(F.col("n_ab").cast("double") / F.col("na"), scale6).alias(
                "confidence_a_to_b"
            ),
            _r(
                F.col("n_ab").cast("double")
                * F.col("n_baskets")
                / (F.col("na").cast("double") * F.col("nbp")),
                scale4,
            ).alias("lift"),
        )
    )


@_register(
    "x_basket_lift",
    "market-basket association rules on part co-purchase: pair support "
    "counts (equi-join on the order key — fanout bounded by lines per "
    "order and a basket-size cap, never a cross product), per-part "
    "basket counts, exact integer support/confidence/lift with "
    "floor-rounds; min-support prune BEFORE the stats join (the Apriori "
    "downward-closure cut) (north-star)",
    f"""
    WITH e0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem),
    bs AS (SELECT o FROM e0 GROUP BY o
           HAVING count(*) <= {_LIFT_MAX_BASKET}),
    e AS (SELECT e0.o, e0.p FROM e0 JOIN bs USING (o)),
    nb AS (SELECT count(DISTINCT o) AS n_baskets FROM e),
    pc AS (SELECT p, count(*) AS n_p FROM e GROUP BY p),
    pp AS (SELECT a.p AS part_a, b.p AS part_b, count(*) AS n_ab
           FROM e a JOIN e b ON a.o = b.o AND a.p < b.p
           GROUP BY 1, 2 HAVING count(*) >= {_LIFT_MIN_SUPPORT})
    SELECT part_a, part_b, CAST(n_ab AS BIGINT) AS n_ab,
           floor(CAST(n_ab AS DOUBLE) / nb.n_baskets * 1e6 + 0.5) / 1e6
             AS support,
           floor(CAST(n_ab AS DOUBLE) / ca.n_p * 1e6 + 0.5) / 1e6
             AS confidence_a_to_b,
           floor(CAST(n_ab AS DOUBLE) * nb.n_baskets
                 / (CAST(ca.n_p AS DOUBLE) * cb.n_p) * 1e4 + 0.5) / 1e4
             AS lift
    FROM pp JOIN pc ca ON ca.p = part_a JOIN pc cb ON cb.p = part_b
    CROSS JOIN nb
    """,
)
def x_basket_lift(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    return _basket_lift_frame(e, _LIFT_MIN_SUPPORT, _LIFT_MAX_BASKET)


_CUSUM_TARGET, _CUSUM_SLACK, _CUSUM_H = 6, 1, 20


@_register(
    "x_cusum_shift",
    "one-sided CUSUM mean-shift monitor (Page'54) over the daily order "
    "count series: the max(0, S+d) recursion rewritten as prefix-sum "
    "minus running-min (two plain windows over the ~2.4k-day DOMAIN "
    "frame, no recursion, no UDF); integer target/slack/threshold keep "
    "every quantity exact — the persistent-shift complement of the "
    "spike-sensitive EWMA entry (north-star)",
    f"""
    WITH daily AS (SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')
                     AS dt, count(*) AS v
                   FROM orders GROUP BY 1),
    p AS (SELECT dt, v,
                 sum(v - {_CUSUM_TARGET} - {_CUSUM_SLACK})
                   OVER (ORDER BY dt ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS pp
          FROM daily),
    m AS (SELECT dt, v, pp,
                 least(min(pp) OVER (ORDER BY dt ROWS BETWEEN UNBOUNDED
                                     PRECEDING AND CURRENT ROW), 0) AS mn
          FROM p)
    SELECT dt, CAST(v AS BIGINT) AS value,
           CAST(pp - mn AS BIGINT) AS cusum,
           CAST(pp - mn > {_CUSUM_H} AS INT) AS alarm
    FROM m
    """,
)
def x_cusum_shift(spark, sf_dir):
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("dt")
        )
        .agg(F.count(F.lit(1)).alias("v"))
    )
    out = _ord.cusum_shift(
        daily, "dt", "v", target=_CUSUM_TARGET, slack=_CUSUM_SLACK,
        threshold=_CUSUM_H,
    )
    return out.select(
        "dt",
        F.col("value").cast("long").alias("value"),
        F.col("cusum").cast("long").alias("cusum"),
        "alarm",
    )


# ---------------------------------------------------------------------------
# Round-9: data-quality audit family + experimentation analytics
# ---------------------------------------------------------------------------


@_register(
    "x_fk_orphans",
    "referential-integrity audit over the declared FK edges: per edge, "
    "child rows, NULL keys (reference nothing — not orphans, SQL FK "
    "semantics), orphan rows and orphan KEY cardinality via a LEFT ANTI "
    "hash join on the distinct parent keys; the post-ingest health "
    "check whose orphan-rate trend is the earliest upstream-drop signal "
    "(north-star: one anti join + two aggregates per edge, no windows)",
    """
    SELECT 'lineitem->orders' AS edge,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
           CAST((SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL)
                AS BIGINT) AS n_null_keys,
           CAST((SELECT count(*) FROM lineitem c
                 WHERE c.l_orderkey IS NOT NULL AND NOT EXISTS
                   (SELECT 1 FROM orders p
                    WHERE p.o_orderkey = c.l_orderkey)) AS BIGINT)
             AS n_orphan_rows,
           CAST((SELECT count(DISTINCT c.l_orderkey) FROM lineitem c
                 WHERE c.l_orderkey IS NOT NULL AND NOT EXISTS
                   (SELECT 1 FROM orders p
                    WHERE p.o_orderkey = c.l_orderkey)) AS BIGINT)
             AS n_orphan_keys
    UNION ALL
    SELECT 'lineitem->part',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem WHERE l_partkey IS NULL)
                AS BIGINT),
           CAST((SELECT count(*) FROM lineitem c
                 WHERE c.l_partkey IS NOT NULL AND NOT EXISTS
                   (SELECT 1 FROM part p
                    WHERE p.p_partkey = c.l_partkey)) AS BIGINT),
           CAST((SELECT count(DISTINCT c.l_partkey) FROM lineitem c
                 WHERE c.l_partkey IS NOT NULL AND NOT EXISTS
                   (SELECT 1 FROM part p
                    WHERE p.p_partkey = c.l_partkey)) AS BIGINT)
    UNION ALL
    SELECT 'orders->customer',
           CAST((SELECT count(*) FROM orders) AS BIGINT),
           CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL)
                AS BIGINT),
           CAST((SELECT count(*) FROM orders c
                 WHERE c.o_custkey IS NOT NULL AND NOT EXISTS
                   (SELECT 1 FROM customer p
                    WHERE p.c_custkey = c.o_custkey)) AS BIGINT),
           CAST((SELECT count(DISTINCT c.o_custkey) FROM orders c
                 WHERE c.o_custkey IS NOT NULL AND NOT EXISTS
                   (SELECT 1 FROM customer p
                    WHERE p.c_custkey = c.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'customer->nation',
           CAST((SELECT count(*) FROM customer) AS BIGINT),
           CAST((SELECT count(*) FROM customer WHERE c_nationkey IS NULL)
                AS BIGINT),
           CAST((SELECT count(*) FROM customer c
                 WHERE c.c_nationkey IS NOT NULL AND NOT EXISTS
                   (SELECT 1 FROM nation p
                    WHERE p.n_nationkey = c.c_nationkey)) AS BIGINT),
           CAST((SELECT count(DISTINCT c.c_nationkey) FROM customer c
                 WHERE c.c_nationkey IS NOT NULL AND NOT EXISTS
                   (SELECT 1 FROM nation p
                    WHERE p.n_nationkey = c.c_nationkey)) AS BIGINT)
    """,
)
def x_fk_orphans(spark, sf_dir):
    from ..operators.validate import referential_integrity_report

    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    pa = _t(spark, sf_dir, "part")
    na = _t(spark, sf_dir, "nation")
    return referential_integrity_report(
        [
            ("lineitem->orders", li, "l_orderkey", od, "o_orderkey"),
            ("lineitem->part", li, "l_partkey", pa, "p_partkey"),
            ("orders->customer", od, "o_custkey", cu, "c_custkey"),
            ("customer->nation", cu, "c_nationkey", na, "n_nationkey"),
        ]
    )


@_register(
    "x_functional_deps",
    "functional-dependency audit: does LHS determine RHS for each "
    "declared rule (order key -> status; customer -> nation; nation -> "
    "market segment, expected VIOLATED)? One hash aggregate per rule "
    "(groupBy LHS, count_distinct RHS) + a rule-sized second aggregate "
    "— a violated FD the schema assumes is silent corruption that "
    "downstream joins fan out on (north-star: no joins, no windows)",
    """
    SELECT 'o_orderkey->o_orderstatus' AS fd,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(count(CASE WHEN nd > 1 THEN 1 END) AS BIGINT)
             AS n_violating_keys,
           CAST(max(nd) AS BIGINT) AS max_distinct_rhs
    FROM (SELECT o_orderkey, count(DISTINCT o_orderstatus) AS nd
          FROM orders GROUP BY 1)
    UNION ALL
    SELECT 'o_custkey->o_orderstatus',
           CAST(count(*) AS BIGINT),
           CAST(count(CASE WHEN nd > 1 THEN 1 END) AS BIGINT),
           CAST(max(nd) AS BIGINT)
    FROM (SELECT o_custkey, count(DISTINCT o_orderstatus) AS nd
          FROM orders GROUP BY 1)
    UNION ALL
    SELECT 'c_nationkey->c_mktsegment',
           CAST(count(*) AS BIGINT),
           CAST(count(CASE WHEN nd > 1 THEN 1 END) AS BIGINT),
           CAST(max(nd) AS BIGINT)
    FROM (SELECT c_nationkey, count(DISTINCT c_mktsegment) AS nd
          FROM customer GROUP BY 1)
    """,
)
def x_functional_deps(spark, sf_dir):
    from ..operators.validate import functional_dependency_report

    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    return functional_dependency_report(
        [
            ("o_orderkey->o_orderstatus", od, ["o_orderkey"], "o_orderstatus"),
            ("o_custkey->o_orderstatus", od, ["o_custkey"], "o_orderstatus"),
            ("c_nationkey->c_mktsegment", cu, ["c_nationkey"], "c_mktsegment"),
        ]
    )


@_register(
    "x_pk_profile",
    "primary-key candidate profile of the orders table: per candidate "
    "column (n_rows, n_distinct, n_null, is_unique) from ONE aggregate "
    "sharing a single scan, transposed to rows by the plan-local "
    "struct-array explode — the first question asked of any new 100 TB "
    "ingest ('what can we key on?') (north-star)",
    """
    WITH a AS (SELECT count(*) AS n,
                      count(DISTINCT o_orderkey) AS d1,
                      count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS z1,
                      count(DISTINCT o_custkey) AS d2,
                      count(CASE WHEN o_custkey IS NULL THEN 1 END) AS z2,
                      count(DISTINCT o_orderstatus) AS d3,
                      count(CASE WHEN o_orderstatus IS NULL THEN 1 END) AS z3
               FROM orders)
    SELECT 'o_orderkey' AS column, CAST(n AS BIGINT) AS n_rows,
           CAST(d1 AS BIGINT) AS n_distinct, CAST(z1 AS BIGINT) AS n_null,
           CAST(d1 = n AND z1 = 0 AS INT) AS is_unique FROM a
    UNION ALL
    SELECT 'o_custkey', CAST(n AS BIGINT), CAST(d2 AS BIGINT),
           CAST(z2 AS BIGINT), CAST(d2 = n AND z2 = 0 AS INT) FROM a
    UNION ALL
    SELECT 'o_orderstatus', CAST(n AS BIGINT), CAST(d3 AS BIGINT),
           CAST(z3 AS BIGINT), CAST(d3 = n AND z3 = 0 AS INT) FROM a
    """,
)
def x_pk_profile(spark, sf_dir):
    from ..operators.validate import pk_candidate_profile

    return pk_candidate_profile(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus"],
    )


@_register(
    "x_ab_proportion_test",
    "two-proportion A/B test on HIGH-VALUE purchase conversion "
    "(variant = user_id % 2, the deterministic hash-split an "
    "experimentation pipeline uses; converter = any purchase with "
    "value > 200 — a partial-conversion metric, since every user in "
    "this corpus purchases SOMETHING): per-variant distinct users and "
    "converters (one hash aggregate), pooled-variance z-score for the "
    "conversion delta. Every input is an exact integer; the z "
    "expression is one fixed-shape chain of IEEE ops (sqrt is "
    "correctly rounded on every engine), floor-rounded at 1e-6; a "
    "degenerate pooled rate (0 or 1 -> zero variance) yields NULL z "
    "instead of an ANSI divide-by-zero (north-star)",
    """
    WITH u AS (SELECT user_id % 2 AS variant,
                      count(DISTINCT user_id) AS n,
                      count(DISTINCT CASE WHEN event_type = 'purchase'
                                          AND value > 200
                                          THEN user_id END) AS c
               FROM events GROUP BY 1),
    w AS (SELECT
            max(CASE WHEN variant = 0 THEN n END) AS n0,
            max(CASE WHEN variant = 0 THEN c END) AS c0,
            max(CASE WHEN variant = 1 THEN n END) AS n1,
            max(CASE WHEN variant = 1 THEN c END) AS c1
          FROM u)
    SELECT CAST(n0 AS BIGINT) AS n_control, CAST(c0 AS BIGINT) AS conv_control,
           CAST(n1 AS BIGINT) AS n_treatment,
           CAST(c1 AS BIGINT) AS conv_treatment,
           floor(CAST(c0 AS DOUBLE) / n0 * 1e6 + 0.5) / 1e6 AS rate_control,
           floor(CAST(c1 AS DOUBLE) / n1 * 1e6 + 0.5) / 1e6 AS rate_treatment,
           CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1 THEN
             floor((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                   / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                          * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                          * (1.0 / n0 + 1.0 / n1))
                   * 1e6 + 0.5) / 1e6
           END AS z_score
    FROM w
    """,
)
def x_ab_proportion_test(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count_distinct("user_id").alias("n"),
        F.count_distinct(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 200),
                F.col("user_id"),
            )
        ).alias("c"),
    )
    w = u.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("c"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("c"))).alias("c1"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731

    def _r6(col):
        return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    pp = (d("c0") + d("c1")) / (F.col("n0") + F.col("n1"))
    z = F.when(
        (F.col("c0") + F.col("c1") > 0)
        & (F.col("c0") + F.col("c1") < F.col("n0") + F.col("n1")),
        _r6(
            (d("c1") / F.col("n1") - d("c0") / F.col("n0"))
            / F.sqrt(
                pp
                * (F.lit(1.0) - pp)
                * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
            )
        ),
    )
    return w.select(
        F.col("n0").cast("long").alias("n_control"),
        F.col("c0").cast("long").alias("conv_control"),
        F.col("n1").cast("long").alias("n_treatment"),
        F.col("c1").cast("long").alias("conv_treatment"),
        _r6(d("c0") / F.col("n0")).alias("rate_control"),
        _r6(d("c1") / F.col("n1")).alias("rate_treatment"),
        z.alias("z_score"),
    )


@_register(
    "x_funnel_ordered",
    "strict-ORDER conversion funnel view -> click -> purchase: each "
    "step must happen strictly AFTER the user's earliest completion of "
    "the previous step (a_funnel_daily counts unordered co-occurrence; "
    "this one respects causality). Three keyed aggregates chained by "
    "equi-joins on user with the ts > prev-step predicate riding along "
    "— never a theta join; exact integer counts, floor-rounded rates "
    "(north-star)",
    """
    WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
          WHERE e.event_type = 'click' GROUP BY 1),
    p AS (SELECT DISTINCT e.user_id
          FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t2
          WHERE e.event_type = 'purchase'),
    k AS (SELECT (SELECT count(*) FROM v) AS s1,
                 (SELECT count(*) FROM c) AS s2,
                 (SELECT count(*) FROM p) AS s3)
    SELECT CAST(s1 AS BIGINT) AS n_view,
           CAST(s2 AS BIGINT) AS n_view_click,
           CAST(s3 AS BIGINT) AS n_full_funnel,
           floor(CAST(s2 AS DOUBLE) / s1 * 1e6 + 0.5) / 1e6
             AS click_through,
           floor(CAST(s3 AS DOUBLE) / s1 * 1e6 + 0.5) / 1e6
             AS full_conversion
    FROM k
    """,
)
def x_funnel_ordered(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .select("user_id")
        .distinct()
    )
    s1 = v.agg(F.count(F.lit(1)).alias("s1"))
    s2 = c.agg(F.count(F.lit(1)).alias("s2"))
    s3 = p.agg(F.count(F.lit(1)).alias("s3"))

    def _r6(col):
        return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return (
        s1.join(F.broadcast(s2), F.lit(True), "left")
        .join(F.broadcast(s3), F.lit(True), "left")
        .select(
            F.col("s1").cast("long").alias("n_view"),
            F.col("s2").cast("long").alias("n_view_click"),
            F.col("s3").cast("long").alias("n_full_funnel"),
            _r6(F.col("s2").cast("double") / F.col("s1")).alias(
                "click_through"
            ),
            _r6(F.col("s3").cast("double") / F.col("s1")).alias(
                "full_conversion"
            ),
        )
    )


@_register(
    "x_abc_pareto",
    "ABC / Pareto revenue classification of parts: per-part revenue in "
    "exact DECIMAL, cumulative top-down share via the DISTRIBUTED "
    "prefix sum (descending cumulative derived as total - asc_prefix + "
    "self, so the same range-exchange primitive serves both "
    "directions — never a keyless single-task window over the "
    "data-keyed part domain), class boundaries decided by "
    "INTEGER-EXACT decimal compares (cum*100 <= total*80), share "
    "floor-rounded only for display (north-star)",
    """
    WITH r AS (SELECT l_partkey AS p,
                      sum(CAST(l_extendedprice AS DECIMAL(18,6))
                          * CAST(1 - l_discount AS DECIMAL(18,6))) AS rev
               FROM lineitem GROUP BY 1),
    t AS (SELECT sum(rev) AS tot FROM r),
    c AS (SELECT p, rev,
                 sum(rev) OVER (ORDER BY rev, p) AS cum_asc FROM r)
    SELECT c.p AS p_partkey, CAST(c.rev AS DOUBLE) AS revenue,
           floor(CAST(t.tot - c.cum_asc + c.rev AS DOUBLE)
                 / CAST(t.tot AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cum_share,
           CASE WHEN (t.tot - c.cum_asc + c.rev) * 100 <= t.tot * 80
                THEN 'A'
                WHEN (t.tot - c.cum_asc + c.rev) * 100 <= t.tot * 95
                THEN 'B'
                ELSE 'C' END AS abc
    FROM c CROSS JOIN t
    """,
)
def x_abc_pareto(spark, sf_dir):
    from ..operators.distributed import prefix_sums

    li = _t(spark, sf_dir, "lineitem")
    r = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,6)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(18,6)")
        ).alias("rev")
    )
    cums = prefix_sums(r, ["rev", "p"], ["rev"])
    tot = r.agg(F.sum("rev").alias("tot"))
    j = cums.join(F.broadcast(tot), F.lit(True), "left")
    cum_desc = F.col("tot") - F.col("rev_cum") + F.col("rev")
    share = (
        F.floor(
            cum_desc.cast("double") / F.col("tot").cast("double") * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    abc = (
        F.when(cum_desc * 100 <= F.col("tot") * 80, F.lit("A"))
        .when(cum_desc * 100 <= F.col("tot") * 95, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return j.select(
        F.col("p").alias("p_partkey"),
        F.col("rev").cast("double").alias("revenue"),
        share.alias("cum_share"),
        abc.alias("abc"),
    )


_PATH_LEN, _PATH_TOPK = 5, 20


@_register(
    "x_path_topk",
    "top-k user journey paths: each user's first 5 events in "
    "(ts, event_id) order concatenated into a path string, counted, "
    "top 20 by (count, path). The rn <= 5 filter pushes a partial "
    "WindowGroupLimit (per-partition heads shuffle, never every "
    "event); the final top-20 is TakeOrdered; path assembly is "
    "sort_array over a per-user 5-element array — bounded, not "
    "data-sized (north-star)",
    f"""
    WITH r AS (SELECT user_id, event_type,
                      row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS rn
               FROM events),
    p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
          FROM r WHERE rn <= {_PATH_LEN} GROUP BY 1),
    c AS (SELECT path, count(*) AS n_users FROM p GROUP BY 1)
    SELECT path, CAST(n_users AS BIGINT) AS n_users
    FROM c ORDER BY n_users DESC, path LIMIT {_PATH_TOPK}
    """,
)
def x_path_topk(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        ev.select("user_id", "event_type", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _PATH_LEN)
    )
    paths = firsts.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(_PATH_TOPK)
    )


@_register(
    "x_changepoint_single",
    "single change-point localization on the daily order-count series: "
    "argmax over t of the EXACT INTEGER CUSUM-max statistic "
    "|N*P_t - t*P_N| (P = prefix sums, t = day rank) — the binary-"
    "segmentation split the monitoring CUSUM entry (x_cusum_shift) "
    "alarms on but does not locate; integer products keep argmax and "
    "value exact on any engine, the normalized score floor-rounds only "
    "for display, top-1 is TakeOrdered. Keyless windows run over the "
    "calendar DOMAIN (~2.4k rows/decade, the documented cusum budget) "
    "(north-star)",
    """
    WITH daily AS (SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')
                     AS dt, count(*) AS v
                   FROM orders GROUP BY 1),
    p AS (SELECT dt, v,
                 sum(v) OVER (ORDER BY dt ROWS BETWEEN UNBOUNDED
                              PRECEDING AND CURRENT ROW) AS pt,
                 row_number() OVER (ORDER BY dt) AS t
          FROM daily),
    g AS (SELECT count(*) AS nn, sum(v) AS tot FROM daily),
    d AS (SELECT p.dt, p.t, abs(g.nn * p.pt - p.t * g.tot) AS d_stat,
                 g.nn, g.tot
          FROM p CROSS JOIN g)
    SELECT dt AS split_dt, CAST(t AS BIGINT) AS day_rank,
           CAST(d_stat AS BIGINT) AS d_stat,
           floor(CAST(d_stat AS DOUBLE)
                 / (CAST(nn AS DOUBLE) * CAST(tot AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS score
    FROM d ORDER BY d_stat DESC, dt LIMIT 1
    """,
)
def x_changepoint_single(spark, sf_dir):
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("dt")
        )
        .agg(F.count(F.lit(1)).alias("v"))
    )
    w = Window.orderBy("dt").rowsBetween(Window.unboundedPreceding, 0)
    p = daily.select(
        "dt",
        "v",
        F.sum("v").over(w).alias("pt"),
        F.row_number().over(Window.orderBy("dt")).alias("t"),
    )
    g = daily.agg(
        F.count(F.lit(1)).alias("nn"), F.sum("v").alias("tot")
    )
    d = p.join(F.broadcast(g), F.lit(True), "left").select(
        "dt",
        "t",
        F.abs(F.col("nn") * F.col("pt") - F.col("t") * F.col("tot")).alias(
            "d_stat"
        ),
        "nn",
        "tot",
    )
    return (
        d.orderBy(F.col("d_stat").desc(), "dt")
        .limit(1)
        .select(
            F.col("dt").alias("split_dt"),
            F.col("t").cast("long").alias("day_rank"),
            F.col("d_stat").cast("long").alias("d_stat"),
            (
                F.floor(
                    F.col("d_stat").cast("double")
                    / (F.col("nn").cast("double") * F.col("tot").cast("double"))
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("score"),
        )
    )


@_register(
    "x_blocking_quality",
    "blocking-quality report for the record-linkage block key "
    "(nation, balance-band): candidate pairs sum(n_b*(n_b-1)/2), "
    "reduction ratio vs the N*(N-1)/2 cross product, block count, "
    "max block — the number that says whether blocking is doing its "
    "job BEFORE paying for the pair join; all integer except the "
    "floor-rounded ratio (north-star: one hash aggregate over block "
    "sizes, no pair materialization at all)",
    """
    WITH b AS (SELECT c_nationkey,
                      CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bb,
                      count(*) AS n_b
               FROM customer GROUP BY 1, 2),
    g AS (SELECT count(*) AS n_blocks, max(n_b) AS max_block,
                 sum(n_b * (n_b - 1) // 2) AS cand_pairs,
                 sum(n_b) AS n
          FROM b)
    SELECT CAST(n AS BIGINT) AS n_records,
           CAST(n_blocks AS BIGINT) AS n_blocks,
           CAST(max_block AS BIGINT) AS max_block,
           CAST(cand_pairs AS BIGINT) AS cand_pairs,
           floor((1.0 - CAST(cand_pairs AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (n - 1) / 2)) * 1e6 + 0.5) / 1e6
             AS reduction_ratio
    FROM g
    """,
)
def x_blocking_quality(spark, sf_dir):
    base = _linkage_base(spark, sf_dir)
    b = base.groupBy("c_nationkey", "bb").agg(
        F.count(F.lit(1)).alias("n_b")
    )
    g = b.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.max("n_b").alias("max_block"),
        # integer DIV: n_b*(n_b-1) is even, and BIGINT sums stay exact
        # where double-division sums would drift past 2^53 pairs
        F.sum(F.expr("n_b * (n_b - 1) DIV 2")).alias("cand_pairs"),
        F.sum("n_b").alias("n"),
    )
    return g.select(
        F.col("n").cast("long").alias("n_records"),
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.col("max_block").cast("long").alias("max_block"),
        F.col("cand_pairs").cast("long").alias("cand_pairs"),
        (
            F.floor(
                (
                    F.lit(1.0)
                    - F.col("cand_pairs").cast("double")
                    / (F.col("n").cast("double") * (F.col("n") - 1) / 2)
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("reduction_ratio"),
    )


_GQ_PROBS = [(1, 2), (9, 10)]  # exact fractions: p = num/den


@_register(
    "x_quantiles_by_group",
    "per-GROUP exact type-1 quantiles (median + p90 of order totals per "
    "priority): integer-rank selection inside each group via a "
    "PARTITIONED window (keyed — millions of groups parallelize, "
    "unlike the global exact_quantiles whose domain rides the "
    "distributed prefix sum), target rank ceil(p*n) computed with "
    "integer arithmetic from exact fractions so not even the rank can "
    "float-drift (north-star)",
    f"""
    WITH r AS (SELECT o_orderpriority AS pr, o_totalprice AS v,
                      row_number() OVER (PARTITION BY o_orderpriority
                                         ORDER BY o_totalprice, o_orderkey)
                        AS rn,
                      count(*) OVER (PARTITION BY o_orderpriority) AS n
               FROM orders)
    {" UNION ALL ".join(
        "SELECT pr, CAST(" + repr(num / den) + " AS DOUBLE) AS p, "
        "CAST(rn AS BIGINT) AS target_rank, v AS value "
        "FROM r WHERE rn = (n * " + str(num) + " + " + str(den - 1) + ") // "
        + str(den)
        for num, den in _GQ_PROBS
    )}
    """,
)
def x_quantiles_by_group(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wc = Window.partitionBy("o_orderpriority")
    r = od.select(
        F.col("o_orderpriority").alias("pr"),
        F.col("o_totalprice").alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    out = None
    for num, den in _GQ_PROBS:
        sel = r.filter(
            F.col("rn") == F.expr(f"(n * {num} + {den - 1}) DIV {den}")
        ).select(
            "pr",
            F.lit(num / den).alias("p"),
            F.col("rn").cast("long").alias("target_rank"),
            F.col("v").alias("value"),
        )
        out = sel if out is None else out.unionByName(sel)
    return out


_PSI_STREAM_BATCHES = 3


def _psi_stream_oracle_sql() -> str:
    """Per-micro-batch PSI oracle: for each shard b, the exact
    x_drift_report SQL with the current side restricted to the shard —
    mirroring streaming_drift_guard's fixed-reference convention (the
    reference side is the full non-src0 corpus for EVERY batch)."""
    bin_rows = (
        "SELECT 'lang' AS feature, lang AS bin, {cur} AS cur "
        "FROM documents WHERE {where} "
        "UNION ALL "
        "SELECT 'len_chars', "
        "CAST(CAST(floor(n_chars / 200.0) AS BIGINT) AS VARCHAR), {cur} "
        "FROM documents WHERE {where}"
    )
    ctes, selects = [], []
    for b in range(_PSI_STREAM_BATCHES):
        ref = bin_rows.format(cur="FALSE", where="source <> 'src0'")
        cur = bin_rows.format(
            cur="TRUE", where=f"source = 'src0' AND doc_id % 3 = {b}"
        )
        ctes.append(f"base{b} AS ({ref} UNION ALL {cur})")
        ctes.append(
            f"c{b} AS (SELECT feature, bin,"
            " sum(CASE WHEN cur THEN 0 ELSE 1 END) AS n_ref_bin,"
            " sum(CASE WHEN cur THEN 1 ELSE 0 END) AS n_cur_bin"
            f" FROM base{b} GROUP BY feature, bin)"
        )
        ctes.append(
            f"t{b} AS (SELECT feature, CAST(sum(n_ref_bin) AS BIGINT)"
            " AS n_ref, CAST(sum(n_cur_bin) AS BIGINT) AS n_cur"
            f" FROM c{b} GROUP BY feature)"
        )
        ctes.append(
            f"terms{b} AS (SELECT c.feature, n_ref, n_cur,"
            " CAST((CASE WHEN n_ref_bin = 0 THEN 1e-6"
            " ELSE n_ref_bin * 1.0 / n_ref END"
            " - CASE WHEN n_cur_bin = 0 THEN 1e-6"
            " ELSE n_cur_bin * 1.0 / n_cur END)"
            " * ln((CASE WHEN n_ref_bin = 0 THEN 1e-6"
            " ELSE n_ref_bin * 1.0 / n_ref END)"
            " / (CASE WHEN n_cur_bin = 0 THEN 1e-6"
            " ELSE n_cur_bin * 1.0 / n_cur END))"
            " AS DECIMAL(18,12)) AS t"
            f" FROM c{b} c JOIN t{b} t ON t.feature = c.feature)"
        )
        selects.append(
            f"SELECT {b} AS batch_id, feature,"
            " round(CAST(sum(t) AS DOUBLE), 4) AS psi, n_ref, n_cur,"
            " CAST(round(CAST(sum(t) AS DOUBLE), 4) > 0.25 AS INT)"
            f" AS breach FROM terms{b} GROUP BY feature, n_ref, n_cur"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + " UNION ALL ".join(selects)


@_register(
    "x_psi_stream",
    "streaming PSI drift guard, driver-exposed: three micro-batch "
    "shards of the src0 'new' slice each scored against the FIXED "
    "reference bin counts (computed once, carried as a bins-sized "
    "driver list — model-as-data, the reference table never re-scans "
    "per trigger) through the IDENTICAL foreachBatch body the sink "
    "runs (drift_batch_report); the decimal-accumulated PSI fold makes "
    "each batch's score exactly the one-shot SQL's (north-star)",
    _psi_stream_oracle_sql(),
)
def x_psi_stream(spark, sf_dir):
    from ..operators.validate import bin_entries
    from ..streaming.incremental import drift_batch_report

    docs = _t(spark, sf_dir, "documents")
    entries = bin_entries(
        {"len_chars": (F.col("n_chars"), 200.0)}, {"lang": F.col("lang")}
    )
    ref = docs.filter(F.col("source") != "src0")
    ref_counts = [
        (r["feature"], r["bin"], r["n"])
        for r in ref.select(F.explode(F.array(*entries)).alias("fb"))
        .groupBy(
            F.col("fb.feature").alias("feature"), F.col("fb.bin").alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    out = None
    for b in range(_PSI_STREAM_BATCHES):
        batch = docs.filter(
            (F.col("source") == "src0") & (F.col("doc_id") % 3 == b)
        )
        rep = drift_batch_report(spark, ref_counts, entries, batch, b)
        out = rep if out is None else out.unionByName(rep)
    return out


_MH_STREAM_BATCHES = 3
_MH_STREAM_PATHS: dict = {}


def _minhash_stream_store(
    spark, sf_dir: str, compact: bool = False, fanout: int | None = None,
) -> str:
    """3-batch sequential MinHash-LSH ingest store over documents,
    sharded by doc_id % 3 — the batch replay of streaming_minhash_dedup
    (the identical per-batch body: shingle -> sign -> band, read the
    accepted store AS SLICES, dedup_batch_against_store, write
    decisions + accepted signatures under batch={b}).

    ``compact=True`` runs compact_minhash_store after EVERY batch (the
    x_minhash_stream_compacted proof that folding the store into its
    bucketed at-rest layout leaves accept/flag decisions identical);
    ``fanout`` selects the LEVELED size-tiered mode for those folds
    (x_minhash_stream_leveled — equal-size generations force a
    same-tier merge mid-run)."""
    from ..operators.dedup import band_keys, minhash_signature, with_shingles
    from ..streaming.incremental import (
        compact_minhash_store,
        dedup_batch_against_store,
        read_signature_store_slices,
    )

    # applicationId in the key (like sources/batch.py's relation cache):
    # a new SparkSession — different confs, regenerated testdata — must
    # rebuild the store rather than serve stale decisions parquet.
    key = (spark.sparkContext.applicationId, sf_dir, _MH_STREAM_BATCHES,
           compact, fanout)
    if key not in _MH_STREAM_PATHS:
        import atexit
        import os
        import shutil
        import tempfile

        for stale in [k for k in _MH_STREAM_PATHS if k[0] != key[0]]:
            shutil.rmtree(os.path.dirname(_MH_STREAM_PATHS[stale]),
                          ignore_errors=True)
            del _MH_STREAM_PATHS[stale]
        root = tempfile.mkdtemp(prefix="spark_mh_stream_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        store = os.path.join(root, "store")
        decisions_dir = os.path.join(root, "decisions")
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        for b in range(_MH_STREAM_BATCHES):
            batch = docs.filter(F.col("doc_id") % _MH_STREAM_BATCHES == b)
            shingled = with_shingles(batch, "text", "doc_id", 3)
            new_sigs = shingled.select("id", "shingles")
            new_bands = band_keys(
                minhash_signature(shingled, _MINHASH_K),
                _MINHASH_K,
                _MINHASH_BANDS,
            )
            store_sigs, store_bands = read_signature_store_slices(
                spark, store, new_sigs, new_bands
            )
            with cache_scope():
                decisions = cached(dedup_batch_against_store(
                    new_sigs, new_bands, store_sigs, store_bands,
                    threshold=0.8, max_bucket=_MAX_BUCKET,
                ))
                write_batch(decisions, decisions_dir, b)
                accepted = decisions.filter(F.col("dup_of").isNull()).select(
                    F.col("doc_id").alias("id")
                )
                for sub, new in (("sigs", new_sigs), ("bands", new_bands)):
                    write_batch(
                        new.join(accepted, "id"), os.path.join(store, sub), b
                    )
            if compact:
                compact_minhash_store(spark, store, buckets=8,
                                      fanout=fanout)
        _MH_STREAM_PATHS[key] = decisions_dir
    return _MH_STREAM_PATHS[key]


def _minhash_stream_oracle_sql() -> str:
    """Unrolled 3-batch sequential-ingest oracle: batch b's decisions
    replay against the accepted set of batches < b, with the exact
    candidate generators (capped store-band equi-join + in-batch band
    self-join) and the exact round-4 Jaccard verify of
    dedup_batch_against_store."""
    jacc = (
        "round(len(list_intersect(sa.s, sb.s)) * 1.0 / "
        "(sa.ln + sb.ln - len(list_intersect(sa.s, sb.s))), 4)"
    )
    ctes = [
        f"toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)",
        f"sh AS (SELECT doc_id, {_shingles_sql(3)} AS s FROM toks)",
        "ex AS (SELECT doc_id, unnest(s) AS g FROM sh)",
        f"mh AS (SELECT doc_id,\n         {_MH_COLS}\n       FROM ex GROUP BY doc_id)",
        f"bands0 AS (\n  {_BAND_SQL})",
        "sz AS (SELECT doc_id, s, len(s) AS ln FROM sh)",
        "acc0 AS (SELECT doc_id FROM sh WHERE 1 = 0)",
    ]
    selects = []
    for b in range(_MH_STREAM_BATCHES):
        ctes += [
            f"nb{b} AS (SELECT * FROM bands0 WHERE doc_id % 3 = {b})",
            f"sb{b} AS (SELECT b0.* FROM bands0 b0 JOIN acc{b} USING (doc_id))",
            f"small{b} AS (SELECT band, key FROM sb{b} GROUP BY 1, 2"
            f" HAVING count(*) <= {_MAX_BUCKET})",
            f"sbc{b} AS (SELECT sb{b}.* FROM sb{b} JOIN small{b}"
            " USING (band, key))",
            f"ce{b} AS (SELECT DISTINCT n.doc_id AS doc_a, s.doc_id AS doc_b"
            f" FROM nb{b} n JOIN sbc{b} s"
            " ON n.band = s.band AND n.key = s.key)",
            f"ci{b} AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b"
            f" FROM nb{b} a JOIN nb{b} b ON a.band = b.band"
            " AND a.key = b.key AND a.doc_id > b.doc_id)",
            f"cand{b} AS (SELECT * FROM ce{b} UNION SELECT * FROM ci{b})",
            f"vv{b} AS (SELECT c.doc_a, c.doc_b, {jacc} AS jaccard"
            f" FROM cand{b} c JOIN sz sa ON sa.doc_id = c.doc_a"
            " JOIN sz sb ON sb.doc_id = c.doc_b"
            f" WHERE {jacc} >= 0.8)",
            f"d{b} AS (SELECT n.doc_id, m.dup_of, m.jaccard"
            f" FROM (SELECT doc_id FROM sh WHERE doc_id % 3 = {b}) n"
            " LEFT JOIN (SELECT doc_a AS doc_id, min(doc_b) AS dup_of,"
            f" arg_min(jaccard, doc_b) AS jaccard FROM vv{b} GROUP BY 1) m"
            " USING (doc_id))",
            f"acc{b + 1} AS (SELECT doc_id FROM acc{b} UNION ALL"
            f" SELECT doc_id FROM d{b} WHERE dup_of IS NULL)",
        ]
        selects.append(
            f"SELECT {b} AS batch_id, doc_id,"
            " CAST(dup_of AS BIGINT) AS dup_of, jaccard"
            f" FROM d{b}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + " UNION ALL ".join(selects)


@_register(
    "x_minhash_stream",
    "streaming sequential-ingest MinHash dedup, driver-exposed: three "
    "micro-batch shards flow through the IDENTICAL per-batch body the "
    "streaming_minhash_dedup sink runs (shingle/sign/band via the batch "
    "building blocks, capped store-band equi-join + in-batch band "
    "self-join candidates, exact round-4 Jaccard verify, accepted docs "
    "append to the store) — the ORDER-dependent accept/flag semantics "
    "('is this NEW doc a near-dup of anything accepted SO FAR') "
    "replayed exactly by a 3-batch-unrolled SQL twin (north-star)",
    _minhash_stream_oracle_sql(),
)
def x_minhash_stream(spark, sf_dir):
    decisions_dir = _minhash_stream_store(spark, sf_dir)
    d = read_batches(spark, decisions_dir, batch_ids(decisions_dir))
    return d.select(
        F.col("batch").cast("int").alias("batch_id"),
        "doc_id",
        F.col("dup_of").cast("long").alias("dup_of"),
        "jaccard",
    )


@_register(
    "x_minhash_stream_compacted",
    "at-rest store compaction equivalence for the MinHash twin "
    "(VERDICT r12 top-next names both streaming stores): the identical "
    "3-batch sequential ingest as x_minhash_stream, except "
    "compact_minhash_store folds sigs (bucketed by id) and bands "
    "(bucketed by the candidate join's (band, key)) into a table "
    "generation after EVERY batch — accept/flag decisions are "
    "IDENTICAL under the same 3-batch-unrolled oracle, with the "
    "hot-bucket cap's sizes summed across slices and the store side "
    "of the candidate join Exchange-free (plan contract "
    "tests/test_incremental_dedup.py)",
    _minhash_stream_oracle_sql(),
)
def x_minhash_stream_compacted(spark, sf_dir):
    decisions_dir = _minhash_stream_store(spark, sf_dir, compact=True)
    d = read_batches(spark, decisions_dir, batch_ids(decisions_dir))
    return d.select(
        F.col("batch").cast("int").alias("batch_id"),
        "doc_id",
        F.col("dup_of").cast("long").alias("dup_of"),
        "jaccard",
    )


@_register(
    "x_minhash_stream_leveled",
    "LEVELED (size-tiered) compaction equivalence for the MinHash "
    "twin: the identical 3-batch sequential ingest as "
    "x_minhash_stream, but compact_minhash_store(fanout=2) folds only "
    "the tail into a new bucketed generation after every batch — "
    "O(tail) per fold, with equal-size generations forcing a same-tier "
    "merge mid-run, so batch 2's candidate join reads a merged "
    "generation plus the newest one as separate Exchange-free slices — "
    "accept/flag decisions IDENTICAL under the same 3-batch-unrolled "
    "oracle",
    _minhash_stream_oracle_sql(),
)
def x_minhash_stream_leveled(spark, sf_dir):
    decisions_dir = _minhash_stream_store(
        spark, sf_dir, compact=True, fanout=2
    )
    d = read_batches(spark, decisions_dir, batch_ids(decisions_dir))
    return d.select(
        F.col("batch").cast("int").alias("batch_id"),
        "doc_id",
        F.col("dup_of").cast("long").alias("dup_of"),
        "jaccard",
    )


@_register(
    "x_welch_ttest",
    "Welch two-sample t-test on document length between the src0 slice "
    "and the rest of the corpus — the mean-shift complement of the "
    "binless KS and the binned PSI drift gates: moments come from "
    "INTEGER sums (count / sum / sum-of-squares of an int column are "
    "exact BIGINTs, so the partial-aggregation order can't move them), "
    "the t statistic is one fixed-shape IEEE chain over those integers "
    "(sqrt correctly rounded everywhere), floor-rounded at 1e-4 "
    "(north-star: one hash aggregate, no window, no join)",
    """
    WITH m AS (SELECT
        count(CASE WHEN source = 'src0' THEN 1 END) AS na,
        sum(CASE WHEN source = 'src0' THEN n_chars END) AS sa,
        sum(CASE WHEN source = 'src0'
                 THEN CAST(n_chars AS BIGINT) * n_chars END) AS qa,
        count(CASE WHEN source <> 'src0' THEN 1 END) AS nb,
        sum(CASE WHEN source <> 'src0' THEN n_chars END) AS sb,
        sum(CASE WHEN source <> 'src0'
                 THEN CAST(n_chars AS BIGINT) * n_chars END) AS qb
      FROM documents)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           floor(CAST(sa AS DOUBLE) / na * 1e6 + 0.5) / 1e6 AS mean_a,
           floor(CAST(sb AS DOUBLE) / nb * 1e6 + 0.5) / 1e6 AS mean_b,
           floor((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
                 / sqrt(((CAST(qa AS DOUBLE)
                          - CAST(sa AS DOUBLE) * sa / na) / (na - 1)) / na
                        + ((CAST(qb AS DOUBLE)
                            - CAST(sb AS DOUBLE) * sb / nb) / (nb - 1)) / nb)
                 * 1e4 + 0.5) / 1e4 AS t_stat
    FROM m
    """,
)
def x_welch_ttest(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    is_a = F.col("source") == "src0"
    m = docs.agg(
        F.count(F.when(is_a, 1)).alias("na"),
        F.sum(F.when(is_a, F.col("n_chars"))).alias("sa"),
        F.sum(
            F.when(is_a, F.col("n_chars").cast("long") * F.col("n_chars"))
        ).alias("qa"),
        F.count(F.when(~is_a, 1)).alias("nb"),
        F.sum(F.when(~is_a, F.col("n_chars"))).alias("sb"),
        F.sum(
            F.when(~is_a, F.col("n_chars").cast("long") * F.col("n_chars"))
        ).alias("qb"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    var_a = (d("qa") - d("sa") * F.col("sa") / F.col("na")) / (
        F.col("na") - 1
    )
    var_b = (d("qb") - d("sb") * F.col("sb") / F.col("nb")) / (
        F.col("nb") - 1
    )
    t = (d("sa") / F.col("na") - d("sb") / F.col("nb")) / F.sqrt(
        var_a / F.col("na") + var_b / F.col("nb")
    )

    def _r(col, s):
        return F.floor(col * F.lit(s) + F.lit(0.5)) / F.lit(s)

    return m.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        _r(d("sa") / F.col("na"), 1e6).alias("mean_a"),
        _r(d("sb") / F.col("nb"), 1e6).alias("mean_b"),
        _r(t, 1e4).alias("t_stat"),
    )


@_register(
    "x_seasonality_weekday",
    "weekday seasonality profile of order volume: per-weekday counts, "
    "share, and the EXACT integer deviation from uniform (7*n_d - n — "
    "the chi-square numerator's signed root, kept as a BIGINT so the "
    "seasonality verdict never rides a float); the calendar-profile "
    "complement of the gap-fill/EWMA/CUSUM time-series family "
    "(north-star: one hash aggregate)",
    """
    WITH d AS (SELECT dayofweek(CAST(o_orderdate AS DATE)) AS wd
               FROM orders),
    c AS (SELECT wd, count(*) AS n_d FROM d GROUP BY 1),
    t AS (SELECT sum(n_d) AS n FROM c)
    SELECT CAST(wd AS INT) AS weekday, CAST(n_d AS BIGINT) AS n_orders,
           floor(CAST(n_d AS DOUBLE) / t.n * 1e6 + 0.5) / 1e6 AS share,
           CAST(7 * n_d - t.n AS BIGINT) AS uniform_dev
    FROM c CROSS JOIN t
    """,
)
def x_seasonality_weekday(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    # Spark dayofweek is 1=Sunday..7; DuckDB's is 0=Sunday..6
    c = od.groupBy(
        (F.dayofweek(F.to_date("o_orderdate")) - 1).alias("wd")
    ).agg(F.count(F.lit(1)).alias("n_d"))
    t = c.agg(F.sum("n_d").alias("n"))
    return c.join(F.broadcast(t), F.lit(True), "left").select(
        F.col("wd").cast("int").alias("weekday"),
        F.col("n_d").cast("long").alias("n_orders"),
        (
            F.floor(
                F.col("n_d").cast("double") / F.col("n") * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("share"),
        (F.lit(7) * F.col("n_d") - F.col("n")).cast("long").alias(
            "uniform_dev"
        ),
    )


@_register(
    "x_cohort_ltv",
    "cohort lifetime-value matrix: customers cohorted by first-order "
    "month, per (cohort, months-since) active customers + DECIMAL "
    "revenue + the running cumulative LTV (a KEYED window over the "
    "months-since axis — calendar-bounded per cohort); the revenue "
    "companion of a_retention_cohort's activity matrix (north-star: "
    "two keyed aggregates + one equi-join + one keyed window)",
    """
    WITH o AS (SELECT o_custkey,
                      date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
                      CAST(o_totalprice AS DECIMAL(18,6)) AS rev
               FROM orders),
    first AS (SELECT o_custkey, min(m) AS cohort FROM o GROUP BY 1),
    j AS (SELECT o.o_custkey, f.cohort,
                 datediff('month', f.cohort, o.m) AS mi, o.rev
          FROM o JOIN first f USING (o_custkey)),
    g AS (SELECT cohort, mi, count(DISTINCT o_custkey) AS active_customers,
                 sum(rev) AS rev
          FROM j GROUP BY 1, 2)
    SELECT strftime(cohort, '%Y-%m') AS cohort_month,
           CAST(mi AS INT) AS months_since,
           CAST(active_customers AS BIGINT) AS active_customers,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(sum(rev) OVER (PARTITION BY cohort ORDER BY mi
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS DOUBLE)
             AS cum_revenue
    FROM g
    """,
)
def x_cohort_ltv(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("month", F.to_date("o_orderdate")).alias("m"),
        F.col("o_totalprice").cast("decimal(18,6)").alias("rev"),
    )
    first = o.groupBy("o_custkey").agg(F.min("m").alias("cohort"))
    j = o.join(first, "o_custkey").select(
        "o_custkey",
        "cohort",
        F.months_between("m", "cohort").cast("int").alias("mi"),
        "rev",
    )
    g = j.groupBy("cohort", "mi").agg(
        F.count_distinct("o_custkey").alias("active_customers"),
        F.sum("rev").alias("rev"),
    )
    w = Window.partitionBy("cohort").orderBy("mi").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return g.select(
        F.date_format("cohort", "yyyy-MM").alias("cohort_month"),
        F.col("mi").cast("int").alias("months_since"),
        F.col("active_customers").cast("long").alias("active_customers"),
        F.col("rev").cast("double").alias("revenue"),
        F.sum("rev").over(w).cast("double").alias("cum_revenue"),
    )


_NB_BUCKETS = 64


def _nb_sql_ctes() -> str:
    """Shared CTE body of the NB classifier twin (training counts ->
    model -> per-doc scores) — used by x_nb_quality and its evaluation
    companion so both replay the identical model."""
    return f"""
    d AS (SELECT doc_id, CAST(n_chars >= 300 AS INT) AS label,
                 {_TOKS_SQL} AS t
          FROM documents),
    ex AS (SELECT doc_id, label, unnest(t) AS tok FROM d),
    tb AS (SELECT doc_id, label,
                  ({_hex32_sql("substr(md5('nb:' || tok), 1, 8)")}
                   % {_NB_BUCKETS}) AS b
           FROM ex),
    cls AS (SELECT sum(label) AS ng, sum(1 - label) AS nb FROM d),
    cnt AS (SELECT b, sum(label) AS c1, sum(1 - label) AS c0
            FROM tb GROUP BY b),
    tot AS (SELECT sum(c1) AS t1, sum(c0) AS t0 FROM cnt),
    model AS (SELECT b,
                ln(greatest(floor((c1 + 1.0) * (t0 + {_NB_BUCKETS})
                            / ((c0 + 1.0) * (t1 + {_NB_BUCKETS}))
                            * 1e6 + 0.5) / 1e6, 1e-6)) AS w
              FROM cnt CROSS JOIN tot),
    prior AS (SELECT ln(greatest(floor(ng * 1.0 / nb * 1e6 + 0.5) / 1e6,
                                 1e-6)) AS p0
              FROM cls),
    ds AS (SELECT tb.doc_id, count(*) AS n_toks, sum(w) AS sw
           FROM tb JOIN model USING (b) GROUP BY 1),
    scored AS (SELECT d.doc_id AS id, d.label,
                 CAST(coalesce(ds.n_toks, 0) AS BIGINT) AS n_tokens,
                 floor((prior.p0 + coalesce(ds.sw, 0.0)) * 1e4 + 0.5) / 1e4
                   AS score,
                 CAST(floor((prior.p0 + coalesce(ds.sw, 0.0)) * 1e4 + 0.5)
                      / 1e4 > 0 AS INT) AS predicted
               FROM d LEFT JOIN ds USING (doc_id) CROSS JOIN prior)"""


@_register(
    "x_nb_quality",
    "Naive-Bayes quality classifier over hashed token buckets, trained "
    "on the weak label n_chars >= 300 — the SQL-replayable stand-in "
    "for the fastText/LR quality filters corpus pipelines run (NB's "
    "sufficient statistics are COUNTS, so the trained model replays "
    "exactly where an LR's iterative float path cannot): one exploded "
    "hash aggregate to the 64 x 2 count model, broadcast join back, "
    "per-doc rounded log-odds score with the 1e-6 ratio grid + clamp "
    "before every log and the rounded-score prediction verdict "
    "(north-star)",
    f"""
    WITH {_nb_sql_ctes()}
    SELECT id, label, n_tokens, score, predicted FROM scored
    """,
)
def x_nb_quality(spark, sf_dir):
    from ..operators.textstats import nb_token_classifier

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (F.col("n_chars") >= 300).cast("int").alias("label"),
    )
    return nb_token_classifier(
        docs, "text", "doc_id", "label", n_buckets=_NB_BUCKETS
    )


@_register(
    "x_nb_quality_eval",
    "classifier evaluation for x_nb_quality on its training corpus: "
    "confusion counts (tp/fp/fn/tn — exact integers) and floor-rounded "
    "accuracy/precision/recall/F1 from ONE aggregate over the scored "
    "frame; the quality-gate report a pipeline reads before trusting "
    "the filter (north-star)",
    """
    WITH {ctes}
    , c AS (SELECT
        sum(CASE WHEN label = 1 AND predicted = 1 THEN 1 ELSE 0 END) AS tp,
        sum(CASE WHEN label = 0 AND predicted = 1 THEN 1 ELSE 0 END) AS fp,
        sum(CASE WHEN label = 1 AND predicted = 0 THEN 1 ELSE 0 END) AS fn,
        sum(CASE WHEN label = 0 AND predicted = 0 THEN 1 ELSE 0 END) AS tn
      FROM scored)
    SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           floor((tp + tn) * 1.0 / (tp + fp + fn + tn) * 1e6 + 0.5) / 1e6
             AS accuracy,
           floor(tp * 1.0 / (tp + fp) * 1e6 + 0.5) / 1e6 AS precision,
           floor(tp * 1.0 / (tp + fn) * 1e6 + 0.5) / 1e6 AS recall,
           floor(2.0 * tp / (2.0 * tp + fp + fn) * 1e6 + 0.5) / 1e6 AS f1
    FROM c
    """.replace("{ctes}", _nb_sql_ctes()),
)
def x_nb_quality_eval(spark, sf_dir):
    from ..operators.textstats import nb_token_classifier

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (F.col("n_chars") >= 300).cast("int").alias("label"),
    )
    s = nb_token_classifier(
        docs, "text", "doc_id", "label", n_buckets=_NB_BUCKETS
    )
    c = s.agg(
        F.sum(
            F.when((F.col("label") == 1) & (F.col("predicted") == 1), 1)
            .otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when((F.col("label") == 0) & (F.col("predicted") == 1), 1)
            .otherwise(0)
        ).alias("fp"),
        F.sum(
            F.when((F.col("label") == 1) & (F.col("predicted") == 0), 1)
            .otherwise(0)
        ).alias("fn"),
        F.sum(
            F.when((F.col("label") == 0) & (F.col("predicted") == 0), 1)
            .otherwise(0)
        ).alias("tn"),
    )

    def _r6(col):
        return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    total = F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")
    return c.select(
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("tn").cast("long").alias("tn"),
        _r6((F.col("tp") + F.col("tn")) * F.lit(1.0) / total).alias(
            "accuracy"
        ),
        _r6(F.col("tp") * F.lit(1.0) / (F.col("tp") + F.col("fp"))).alias(
            "precision"
        ),
        _r6(F.col("tp") * F.lit(1.0) / (F.col("tp") + F.col("fn"))).alias(
            "recall"
        ),
        _r6(
            F.lit(2.0) * F.col("tp")
            / (F.lit(2.0) * F.col("tp") + F.col("fp") + F.col("fn"))
        ).alias("f1"),
    )


@_register(
    "x_nb_calibration",
    "calibration/reliability report for the NB quality score: integer "
    "log-odds bins (floor(score) — no sigmoid, no transcendental on "
    "the read path), per bin n docs, positives, empirical positive "
    "rate, mean rounded score; a monotone rate-vs-bin profile is what "
    "licenses thresholding the filter at a target purity (north-star: "
    "one aggregate over the scored frame)",
    """
    WITH {ctes}
    , binned AS (SELECT CAST(floor(score) AS BIGINT) AS score_bin,
                        label, score
                 FROM scored)
    SELECT score_bin, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(label) AS BIGINT) AS n_positive,
           floor(sum(label) * 1.0 / count(*) * 1e6 + 0.5) / 1e6
             AS positive_rate,
           floor(avg(score) * 1e4 + 0.5) / 1e4 AS mean_score
    FROM binned GROUP BY score_bin
    """.replace("{ctes}", _nb_sql_ctes()),
)
def x_nb_calibration(spark, sf_dir):
    from ..operators.textstats import nb_token_classifier

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (F.col("n_chars") >= 300).cast("int").alias("label"),
    )
    s = nb_token_classifier(
        docs, "text", "doc_id", "label", n_buckets=_NB_BUCKETS
    )
    return (
        s.groupBy(F.floor("score").cast("long").alias("score_bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("label").cast("long").alias("n_positive"),
            (
                F.floor(
                    F.sum("label") * F.lit(1.0) / F.count(F.lit(1))
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("positive_rate"),
            (
                F.floor(F.avg("score") * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)
            ).alias("mean_score"),
        )
    )


_NB_THRESHOLDS = [-2, -1, 0, 1, 2]


@_register(
    "x_nb_pr_curve",
    "precision/recall sweep for the NB quality filter at five fixed "
    "log-odds thresholds (the operating-point table a pipeline reads "
    "to pick its purity/yield trade): per threshold tp/fp/fn as exact "
    "integers from ONE aggregate over the scored frame (CASE per "
    "threshold shares the scan), floor-rounded precision/recall/yield "
    "(north-star)",
    """
    WITH {ctes}
    SELECT t.thr, CAST(t.tp AS BIGINT) AS tp, CAST(t.fp AS BIGINT) AS fp,
           CAST(t.fn AS BIGINT) AS fn,
           floor(t.tp * 1.0 / nullif(t.tp + t.fp, 0) * 1e6 + 0.5) / 1e6
             AS precision,
           floor(t.tp * 1.0 / nullif(t.tp + t.fn, 0) * 1e6 + 0.5) / 1e6
             AS recall,
           floor((t.tp + t.fp) * 1.0 / t.n * 1e6 + 0.5) / 1e6 AS yield
    FROM (
      {rows}
    ) t
    """.replace("{ctes}", _nb_sql_ctes()).replace(
        "{rows}",
        " UNION ALL ".join(
            f"SELECT {thr} AS thr,"
            f" sum(CASE WHEN label = 1 AND score > {thr} THEN 1 ELSE 0 END)"
            " AS tp,"
            f" sum(CASE WHEN label = 0 AND score > {thr} THEN 1 ELSE 0 END)"
            " AS fp,"
            f" sum(CASE WHEN label = 1 AND score <= {thr} THEN 1 ELSE 0 END)"
            " AS fn,"
            " count(*) AS n FROM scored"
            for thr in _NB_THRESHOLDS
        ),
    ),
)
def x_nb_pr_curve(spark, sf_dir):
    from ..operators.textstats import nb_token_classifier

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (F.col("n_chars") >= 300).cast("int").alias("label"),
    )
    s = nb_token_classifier(
        docs, "text", "doc_id", "label", n_buckets=_NB_BUCKETS
    )
    agg = s.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.when(
                    (F.col("label") == 1) & (F.col("score") > thr), 1
                ).otherwise(0)
            ).alias(f"tp{i}")
            for i, thr in enumerate(_NB_THRESHOLDS)
        ],
        *[
            F.sum(
                F.when(
                    (F.col("label") == 0) & (F.col("score") > thr), 1
                ).otherwise(0)
            ).alias(f"fp{i}")
            for i, thr in enumerate(_NB_THRESHOLDS)
        ],
        *[
            F.sum(
                F.when(
                    (F.col("label") == 1) & (F.col("score") <= thr), 1
                ).otherwise(0)
            ).alias(f"fn{i}")
            for i, thr in enumerate(_NB_THRESHOLDS)
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(thr).alias("thr"),
                F.col(f"tp{i}").alias("tp"),
                F.col(f"fp{i}").alias("fp"),
                F.col(f"fn{i}").alias("fn"),
                F.col("n").alias("n"),
            )
            for i, thr in enumerate(_NB_THRESHOLDS)
        ]
    )

    def _r6(col):
        return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    e = agg.select(F.explode(rows).alias("r")).select("r.*")
    return e.select(
        F.col("thr").cast("int").alias("thr"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.when(
            F.col("tp") + F.col("fp") > 0,
            _r6(F.col("tp") * F.lit(1.0) / (F.col("tp") + F.col("fp"))),
        ).alias("precision"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            _r6(F.col("tp") * F.lit(1.0) / (F.col("tp") + F.col("fn"))),
        ).alias("recall"),
        _r6((F.col("tp") + F.col("fp")) * F.lit(1.0) / F.col("n")).alias(
            "yield"
        ),
    )


@_register(
    "x_winsorized_mean",
    "winsorized robust mean of order totals: clamp at the EXACT "
    "integer-rank p01/p99 (the distributed prefix-sum quantile "
    "machinery — no single-task sort, no approx_percentile drift), "
    "then a DECIMAL mean of the clamped column — the outlier-proof KPI "
    "form of a money average (one value-domain aggregate + one ranged "
    "prefix + one broadcast + one scan) (north-star)",
    """
    WITH per_v AS (SELECT o_totalprice AS v, count(*) AS c
                   FROM orders GROUP BY 1),
    r AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM per_v),
    n AS (SELECT sum(c) AS n FROM per_v),
    q AS (SELECT
            min(CASE WHEN cum >= (n.n * 10000 + 999999) // 1000000
                     THEN v END) AS q01,
            min(CASE WHEN cum >= (n.n * 990000 + 999999) // 1000000
                     THEN v END) AS q99
          FROM r CROSS JOIN n)
    SELECT CAST(n.n AS BIGINT) AS n, q.q01, q.q99,
           floor(CAST(sum(CAST(least(greatest(o_totalprice, q.q01), q.q99)
                              AS DECIMAL(18,6))) AS DOUBLE)
                 / n.n * 1e6 + 0.5) / 1e6 AS winsorized_mean,
           floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                 / n.n * 1e6 + 0.5) / 1e6 AS raw_mean
    FROM orders CROSS JOIN q CROSS JOIN n
    GROUP BY n.n, q.q01, q.q99
    """,
)
def x_winsorized_mean(spark, sf_dir):
    from ..operators.distributed import prefix_sums

    od = _t(spark, sf_dir, "orders")
    per_v = od.groupBy(F.col("o_totalprice").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    cums = prefix_sums(per_v, ["v"], ["c"])
    n = per_v.agg(F.sum("c").alias("n"))
    jq = cums.join(F.broadcast(n), F.lit(True), "left")
    q = jq.agg(
        F.min(
            F.when(
                F.col("c_cum")
                >= F.expr("(n * 10000 + 999999) DIV 1000000"),
                F.col("v"),
            )
        ).alias("q01"),
        F.min(
            F.when(
                F.col("c_cum")
                >= F.expr("(n * 990000 + 999999) DIV 1000000"),
                F.col("v"),
            )
        ).alias("q99"),
    )
    clamped = F.least(
        F.greatest(F.col("o_totalprice"), F.col("q01")), F.col("q99")
    )

    def _r6(col):
        return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return (
        od.join(F.broadcast(q), F.lit(True), "left")
        .join(F.broadcast(n), F.lit(True), "left")
        .groupBy("n", "q01", "q99")
        .agg(
            F.sum(clamped.cast("decimal(18,6)")).alias("ws"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rs"),
        )
        .select(
            F.col("n").cast("long").alias("n"),
            "q01",
            "q99",
            _r6(F.col("ws").cast("double") / F.col("n")).alias(
                "winsorized_mean"
            ),
            _r6(F.col("rs").cast("double") / F.col("n")).alias("raw_mean"),
        )
    )


_ATTR_TOUCHES = ["view", "click", "signup", "error"]


@_register(
    "x_attribution_linear",
    "LINEAR multi-touch attribution: every purchase splits its revenue "
    "equally across the user's PRECEDING touches (by type), purchases "
    "with no preceding touch credit 'none' in full — the fractional "
    "complement of x_attribution_last_touch. Each per-purchase credit "
    "term is floor-rounded to the 1e-6 grid BEFORE the DECIMAL sum, so "
    "the corpus-sized accumulation is exact and order-free (grid "
    "multiples are exact decimals) instead of a partition-order float "
    "sum (north-star: one keyed window pass + one aggregate)",
    """
    WITH m AS (SELECT user_id, ts, event_id, event_type, value,
                 {counts}
               FROM events),
    p AS (SELECT *, ({ksum}) AS k FROM m WHERE event_type = 'purchase'),
    credits AS (
      SELECT 'none' AS attributed_to,
             CAST(floor(value * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6)) AS credit
      FROM p WHERE k = 0
      {unions}
    )
    SELECT attributed_to, CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(credit) AS DOUBLE) AS revenue
    FROM credits GROUP BY 1
    """.replace(
        "{counts}",
        ",\n                 ".join(
            f"count(CASE WHEN event_type = '{t}' THEN 1 END)"
            " OVER (PARTITION BY user_id ORDER BY ts, event_id"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
            f" AS c_{t}"
            for t in _ATTR_TOUCHES
        ),
    ).replace(
        "{ksum}", " + ".join(f"c_{t}" for t in _ATTR_TOUCHES)
    ).replace(
        "{unions}",
        "".join(
            f"""
      UNION ALL
      SELECT '{t}',
             CAST(floor(value * c_{t} / k * 1e6 + 0.5) / 1e6
                  AS DECIMAL(18,6))
      FROM p WHERE k > 0 AND c_{t} > 0"""
            for t in _ATTR_TOUCHES
        ),
    ),
)
def x_attribution_linear(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        *[
            F.count(F.when(F.col("event_type") == t, 1))
            .over(w)
            .alias(f"c_{t}")
            for t in _ATTR_TOUCHES
        ],
    )
    k = sum(F.col(f"c_{t}") for t in _ATTR_TOUCHES)
    p = m.filter(F.col("event_type") == "purchase").withColumn("k", k)

    def _grid(col):
        return (
            F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        ).cast("decimal(18,6)")

    none = p.filter(F.col("k") == 0).select(
        F.lit("none").alias("attributed_to"),
        _grid(F.col("value")).alias("credit"),
    )
    out = none
    for t in _ATTR_TOUCHES:
        out = out.unionByName(
            p.filter((F.col("k") > 0) & (F.col(f"c_{t}") > 0)).select(
                F.lit(t).alias("attributed_to"),
                _grid(
                    F.col("value") * F.col(f"c_{t}") / F.col("k")
                ).alias("credit"),
            )
        )
    return out.groupBy("attributed_to").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("credit").cast("double").alias("revenue"),
    )


_ACF_LAGS = [1, 2, 3, 4, 5, 6, 7]


@_register(
    "x_autocorrelation",
    "autocorrelation of the daily order-count series at lags 1..7 "
    "(weekly-seasonality detector, the correlation companion of "
    "x_seasonality_weekday): per lag, Pearson r over the (v_t, v_t+k) "
    "pairs with every moment an exact INTEGER sum (daily counts are "
    "ints — n, Σx, Σy, Σxy, Σx², Σy² cannot drift with partition "
    "order), one fixed IEEE chain + floor(1e-6) per lag; the lag "
    "windows run over the calendar DOMAIN (the documented cusum "
    "budget) (north-star)",
    """
    WITH daily AS (SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')
                     AS dt, count(*) AS v
                   FROM orders GROUP BY 1),
    l AS (SELECT dt, v, {lags} FROM daily)
    {selects}
    """.replace(
        "{lags}",
        ", ".join(
            f"lead(v, {k}) OVER (ORDER BY dt) AS y{k}" for k in _ACF_LAGS
        ),
    ).replace(
        "{selects}",
        " UNION ALL ".join(
            f"""SELECT {k} AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
       floor((count(*) * sum(v * y{k}) - sum(v) * sum(y{k}))
             / sqrt((count(*) * sum(v * v) - sum(v) * sum(v)) * 1.0
                    * (count(*) * sum(y{k} * y{k}) - sum(y{k}) * sum(y{k})))
             * 1e6 + 0.5) / 1e6 AS r
    FROM l WHERE y{k} IS NOT NULL"""
            for k in _ACF_LAGS
        ),
    ),
)
def x_autocorrelation(spark, sf_dir):
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("dt")
        )
        .agg(F.count(F.lit(1)).alias("v"))
    )
    w = Window.orderBy("dt")
    lagged = daily.select(
        "dt", "v", *[F.lead("v", k).over(w).alias(f"y{k}") for k in _ACF_LAGS]
    )
    out = None
    for k in _ACF_LAGS:
        g = lagged.filter(F.col(f"y{k}").isNotNull()).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sx"),
            F.sum(f"y{k}").alias("sy"),
            F.sum(F.col("v") * F.col(f"y{k}")).alias("sxy"),
            F.sum(F.col("v") * F.col("v")).alias("sxx"),
            F.sum(F.col(f"y{k}") * F.col(f"y{k}")).alias("syy"),
        )
        r = (
            F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
        ) / F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * F.lit(1.0)
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        )
        sel = g.select(
            F.lit(k).alias("lag"),
            F.col("n").cast("long").alias("n_pairs"),
            (F.floor(r * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("r"),
        )
        out = sel if out is None else out.unionByName(sel)
    return out


_MRL_DIMS = 32  # truncated prefix width (full vectors are 64-d)


@_register(
    "x_matryoshka_recall",
    "truncated-dimension retrieval recall (the Matryoshka-embedding "
    "serving trick: search on the first 32 of 64 dims at half the "
    "FLOPs/bytes, re-rank later if needed): recall@3 of prefix-dim "
    "exact KNN vs full-dim exact KNN for 20 queries — the measurement "
    "that licenses the dimension cut, alongside the LSH/IVF/PQ recall "
    "graders (north-star)",
    f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                         (embedding::DOUBLE[])[1:{_MRL_DIMS}] AS vp
                  FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv, vp AS qvp
          FROM base WHERE vec_id < 20),
    truth AS (SELECT query_id, neighbor_id FROM (
      SELECT query_id, b2.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY {_cos_sql('qv', 'b2.v')} DESC, b2.vec_id) AS rank
      FROM q JOIN base b2 ON b2.vec_id <> q.query_id) WHERE rank <= 3),
    approx AS (SELECT query_id, neighbor_id FROM (
      SELECT query_id, b2.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY {_cos_sql('qvp', 'b2.vp')} DESC, b2.vec_id) AS rank
      FROM q JOIN base b2 ON b2.vec_id <> q.query_id) WHERE rank <= 3),
    bt AS (SELECT query_id, count(*) AS n_truth FROM truth GROUP BY query_id),
    hits AS (SELECT query_id, count(*) AS n_hits
             FROM truth JOIN approx USING (query_id, neighbor_id)
             GROUP BY query_id)
    SELECT query_id, n_truth, coalesce(n_hits, 0) AS n_hits,
           round(coalesce(n_hits, 0) * 1.0 / n_truth, 4) AS recall
    FROM bt LEFT JOIN hits USING (query_id)
    """,
)
def x_matryoshka_recall(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    trunc = emb.select(
        "vec_id", F.slice("embedding", 1, _MRL_DIMS).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 20)
    queries_t = trunc.filter(F.col("vec_id") < 20)
    truth = _sim.knn_bruteforce(emb, queries, k=3)
    approx = _sim.knn_bruteforce(trunc, queries_t, k=3)
    return _sim.ann_recall(truth, approx)


@_register(
    "x_gini_concentration",
    "Gini coefficient of revenue concentration across customers: ranks "
    "come from the distributed prefix-sum running count (total order "
    "(revenue, custkey) — never a single-task global sort), Σ(rank·x) "
    "accumulates rank·DECIMAL exactly, and the closed form "
    "(2Σ(i·x) − (n+1)Σx) / (nΣx) is one fixed IEEE chain floor-rounded "
    "at 1e-6 — the one-number inequality summary behind the ABC/Pareto "
    "class table (north-star)",
    """
    WITH r AS (SELECT o_custkey AS c,
                      sum(CAST(o_totalprice AS DECIMAL(18,6))) AS x
               FROM orders GROUP BY 1),
    rk AS (SELECT c, x, row_number() OVER (ORDER BY x, c) AS i FROM r),
    g AS (SELECT count(*) AS n, sum(x) AS sx, sum(i * x) AS six FROM rk)
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(sx AS DOUBLE) AS total_revenue,
           floor((2.0 * CAST(six AS DOUBLE)
                  - (n + 1.0) * CAST(sx AS DOUBLE))
                 / (n * CAST(sx AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS gini
    FROM g
    """,
)
def x_gini_concentration(spark, sf_dir):
    from ..operators.distributed import prefix_sums

    od = _t(spark, sf_dir, "orders")
    r = od.groupBy(F.col("o_custkey").alias("c")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("x")
    )
    ranked = prefix_sums(r.withColumn("_one", F.lit(1)), ["x", "c"], ["_one"])
    g = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("_one_cum") * F.col("x")).alias("six"),
    )
    return g.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("sx").cast("double").alias("total_revenue"),
        (
            F.floor(
                (
                    F.lit(2.0) * F.col("six").cast("double")
                    - (F.col("n") + F.lit(1.0)) * F.col("sx").cast("double")
                )
                / (F.col("n") * F.col("sx").cast("double"))
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("gini"),
    )


@_register(
    "x_new_vs_returning",
    "daily growth accounting: active users split into NEW (first-ever "
    "day) vs RETURNING — the companion of a_dau_cumulative's running "
    "total and a_retention_cohort's matrix; two keyed aggregates + one "
    "equi-join on user, shares floor-rounded (north-star)",
    """
    WITH a AS (SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS dt
               FROM events),
    f AS (SELECT user_id, min(dt) AS first_dt FROM a GROUP BY 1),
    j AS (SELECT a.dt, a.user_id,
                 CAST(a.dt = f.first_dt AS INT) AS is_new
          FROM a JOIN f USING (user_id))
    SELECT dt, CAST(count(*) AS BIGINT) AS active_users,
           CAST(sum(is_new) AS BIGINT) AS new_users,
           CAST(count(*) - sum(is_new) AS BIGINT) AS returning_users,
           floor(sum(is_new) * 1.0 / count(*) * 1e6 + 0.5) / 1e6
             AS new_share
    FROM j GROUP BY dt
    """,
)
def x_new_vs_returning(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    a = ev.select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("dt")
    ).distinct()
    f = a.groupBy("user_id").agg(F.min("dt").alias("first_dt"))
    j = a.join(f, "user_id").select(
        "dt", (F.col("dt") == F.col("first_dt")).cast("int").alias("is_new")
    )
    return j.groupBy("dt").agg(
        F.count(F.lit(1)).cast("long").alias("active_users"),
        F.sum("is_new").cast("long").alias("new_users"),
        (F.count(F.lit(1)) - F.sum("is_new")).cast("long").alias(
            "returning_users"
        ),
        (
            F.floor(
                F.sum("is_new") * F.lit(1.0) / F.count(F.lit(1)) * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("new_share"),
    )


@_register(
    "x_stickiness",
    "DAU / WAU(7) / MAU(28) stickiness ratios per day: rolling DISTINCT "
    "users cannot partial-aggregate over a sliding window, so each "
    "(user, active-day) row EXPLODES into the 7/28 future days it "
    "covers and a plain count_distinct per covered day does the rest — "
    "bounded x7/x28 fanout of the deduplicated activity frame instead "
    "of a per-day self-join; ratios floor-rounded (north-star)",
    """
    WITH a AS (SELECT DISTINCT user_id, CAST(strftime(ts, '%Y-%m-%d')
                      AS DATE) AS dt
               FROM events),
    mx AS (SELECT max(dt) AS mxd FROM a),
    w AS (SELECT user_id, unnest(generate_series(dt, dt + INTERVAL 6 DAY,
                                 INTERVAL 1 DAY))::DATE AS d
          FROM a),
    m AS (SELECT user_id, unnest(generate_series(dt, dt + INTERVAL 27 DAY,
                                 INTERVAL 1 DAY))::DATE AS d
          FROM a),
    dau AS (SELECT dt AS d, count(DISTINCT user_id) AS dau FROM a GROUP BY 1),
    wau AS (SELECT d, count(DISTINCT user_id) AS wau FROM w, mx
            WHERE d <= mx.mxd GROUP BY d),
    mau AS (SELECT d, count(DISTINCT user_id) AS mau FROM m, mx
            WHERE d <= mx.mxd GROUP BY d)
    SELECT strftime(dau.d, '%Y-%m-%d') AS dt,
           CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
           CAST(mau AS BIGINT) AS mau,
           floor(dau * 1.0 / wau * 1e6 + 0.5) / 1e6 AS dau_wau,
           floor(wau * 1.0 / mau * 1e6 + 0.5) / 1e6 AS wau_mau
    FROM dau JOIN wau ON wau.d = dau.d JOIN mau ON mau.d = dau.d
    """,
)
def x_stickiness(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    a = ev.select(
        "user_id", F.to_date(F.date_format("ts", "yyyy-MM-dd")).alias("dt")
    ).distinct()
    mx = a.agg(F.max("dt").alias("mxd"))

    def cover(days):
        return (
            a.select(
                "user_id",
                F.explode(
                    F.sequence(
                        F.col("dt"), F.date_add(F.col("dt"), days - 1)
                    )
                ).alias("d"),
            )
            .join(F.broadcast(mx), F.lit(True), "left")
            .filter(F.col("d") <= F.col("mxd"))
            .groupBy("d")
            .agg(F.count_distinct("user_id").alias(f"au{days}"))
        )

    dau = a.groupBy(F.col("dt").alias("d")).agg(
        F.count_distinct("user_id").alias("dau")
    )
    wau, mau = cover(7), cover(28)

    def _r6(col):
        return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return (
        dau.join(wau, "d")
        .join(mau, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("dt"),
            F.col("dau").cast("long").alias("dau"),
            F.col("au7").cast("long").alias("wau"),
            F.col("au28").cast("long").alias("mau"),
            _r6(F.col("dau") * F.lit(1.0) / F.col("au7")).alias("dau_wau"),
            _r6(F.col("au7") * F.lit(1.0) / F.col("au28")).alias("wau_mau"),
        )
    )


# z constants for 95% confidence (two-sided) and 80% power — compiled
# literals, not libm inverse-normal calls
_PWR_Z_ALPHA, _PWR_Z_BETA = 1.959963984540054, 0.8416212335729143


@_register(
    "x_ab_power_analysis",
    "sample-size / power design companion of x_ab_proportion_test: "
    "from the observed per-variant conversion rates, the per-arm N "
    "needed to detect the OBSERVED delta at 95% confidence / 80% power "
    "(z constants are compiled literals — no inverse-normal libm), and "
    "the achieved z for the current N; every input an exact integer, "
    "one fixed IEEE chain, floor-rounded (north-star)",
    """
    WITH u AS (SELECT user_id % 2 AS variant,
                      count(DISTINCT user_id) AS n,
                      count(DISTINCT CASE WHEN event_type = 'purchase'
                                          AND value > 200
                                          THEN user_id END) AS c
               FROM events GROUP BY 1),
    w AS (SELECT
            max(CASE WHEN variant = 0 THEN n END) AS n0,
            max(CASE WHEN variant = 0 THEN c END) AS c0,
            max(CASE WHEN variant = 1 THEN n END) AS n1,
            max(CASE WHEN variant = 1 THEN c END) AS c1
          FROM u),
    r AS (SELECT n0, c0, n1, c1,
                 CAST(c0 AS DOUBLE) / n0 AS p0,
                 CAST(c1 AS DOUBLE) / n1 AS p1
          FROM w)
    SELECT CAST(n0 AS BIGINT) AS n_control, CAST(n1 AS BIGINT) AS n_treatment,
           floor(p0 * 1e6 + 0.5) / 1e6 AS rate_control,
           floor(p1 * 1e6 + 0.5) / 1e6 AS rate_treatment,
           floor(abs(p1 - p0) * 1e6 + 0.5) / 1e6 AS observed_delta,
           CASE WHEN p1 <> p0 THEN
             CAST(ceil((1.959963984540054 + 0.8416212335729143)
                       * (1.959963984540054 + 0.8416212335729143)
                       * (p0 * (1.0 - p0) + p1 * (1.0 - p1))
                       / ((p1 - p0) * (p1 - p0))) AS BIGINT)
           END AS n_per_arm_required,
           CAST(least(CAST(n0 AS DOUBLE), CAST(n1 AS DOUBLE))
                >= (1.959963984540054 + 0.8416212335729143)
                   * (1.959963984540054 + 0.8416212335729143)
                   * (p0 * (1.0 - p0) + p1 * (1.0 - p1))
                   / nullif((p1 - p0) * (p1 - p0), 0.0) AS INT)
             AS adequately_powered
    FROM r
    """,
)
def x_ab_power_analysis(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count_distinct("user_id").alias("n"),
        F.count_distinct(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 200),
                F.col("user_id"),
            )
        ).alias("c"),
    )
    w = u.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("c"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("c"))).alias("c1"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    p0 = d("c0") / F.col("n0")
    p1 = d("c1") / F.col("n1")
    zz = F.lit((_PWR_Z_ALPHA + _PWR_Z_BETA) ** 2)
    var = p0 * (F.lit(1.0) - p0) + p1 * (F.lit(1.0) - p1)
    need = zz * var / ((p1 - p0) * (p1 - p0))

    def _r6(col):
        return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return w.select(
        F.col("n0").cast("long").alias("n_control"),
        F.col("n1").cast("long").alias("n_treatment"),
        _r6(p0).alias("rate_control"),
        _r6(p1).alias("rate_treatment"),
        _r6(F.abs(p1 - p0)).alias("observed_delta"),
        F.when(p1 != p0, F.ceil(need).cast("long")).alias(
            "n_per_arm_required"
        ),
        (
            F.least(d("n0"), d("n1"))
            >= zz * var / F.nullif((p1 - p0) * (p1 - p0), F.lit(0.0))
        )
        .cast("int")
        .alias("adequately_powered"),
    )


_CHURN_DAYS = 90


@_register(
    "x_churn_risk",
    "churn-at-risk snapshot: customers whose LAST order is more than "
    "90 days before the corpus max date, bucketed by recency band "
    "(0-30 / 31-90 / 91-180 / 180+), with counts and decimal revenue "
    "at risk per band — the retention-ops companion of RFM's recency "
    "score (north-star: one keyed aggregate + broadcast max-date)",
    f"""
    WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
                      CAST(o_totalprice AS DECIMAL(18,6)) AS rev
               FROM orders),
    mx AS (SELECT max(od) AS mxd FROM o),
    c AS (SELECT o_custkey,
                 date_diff('day', max(od), (SELECT mxd FROM mx)) AS gap,
                 sum(rev) AS revenue
          FROM o GROUP BY 1),
    b AS (SELECT CASE WHEN gap <= 30 THEN '0-30'
                      WHEN gap <= {_CHURN_DAYS} THEN '31-90'
                      WHEN gap <= 180 THEN '91-180'
                      ELSE '180+' END AS recency_band,
                 CAST(gap > {_CHURN_DAYS} AS INT) AS at_risk,
                 revenue
          FROM c),
    t AS (SELECT count(*) AS n FROM b)
    SELECT recency_band, at_risk, CAST(count(*) AS BIGINT) AS n_customers,
           floor(count(*) * 1.0 / t.n * 1e6 + 0.5) / 1e6 AS share,
           CAST(sum(revenue) AS DOUBLE) AS lifetime_revenue
    FROM b CROSS JOIN t GROUP BY recency_band, at_risk, t.n
    """,
)
def x_churn_risk(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("od"),
        F.col("o_totalprice").cast("decimal(18,6)").alias("rev"),
    )
    mx = o.agg(F.max("od").alias("mxd"))
    c = (
        o.join(F.broadcast(mx), F.lit(True), "left")
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.first("mxd"), F.max("od")).alias("gap"),
            F.sum("rev").alias("revenue"),
        )
    )
    band = (
        F.when(F.col("gap") <= 30, F.lit("0-30"))
        .when(F.col("gap") <= _CHURN_DAYS, F.lit("31-90"))
        .when(F.col("gap") <= 180, F.lit("91-180"))
        .otherwise(F.lit("180+"))
    )
    b = c.select(
        band.alias("recency_band"),
        (F.col("gap") > _CHURN_DAYS).cast("int").alias("at_risk"),
        "revenue",
    )
    t = b.agg(F.count(F.lit(1)).alias("n"))
    return (
        b.join(F.broadcast(t), F.lit(True), "left")
        .groupBy("recency_band", "at_risk", "n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("revenue").cast("double").alias("lifetime_revenue"),
        )
        .select(
            "recency_band",
            "at_risk",
            "n_customers",
            (
                F.floor(
                    F.col("n_customers") * F.lit(1.0) / F.col("n")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("share"),
            "lifetime_revenue",
        )
    )


# ---------------------------------------------------------------------------
# Round 10: URL-keyed corpus governance + text repair + filtered ANN
# ---------------------------------------------------------------------------

from ..operators import urls as _ur  # noqa: E402

_URL_SQL = _ur.synth_url_sql("doc_id")
_CANON_SQL = _ur.canonical_url_sql("url")


@_register(
    "x_url_canonical_dedup",
    "exact URL dedup on the CANONICAL identity — lowercase, fragment-"
    "free, utm-tracking-free, scheme/www/trailing-slash-insensitive, "
    "non-tracking params preserved — the stage web corpora run BEFORE "
    "content dedup (same page refetched via tracking variants). URLs "
    "derived deterministically from doc_id on both engines; one hash "
    "shuffle on the canonical key (north-star)",
    f"""
    WITH u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
    c AS (SELECT doc_id, url, {_CANON_SQL} AS canonical_url FROM u),
    k AS (SELECT *, min(doc_id) OVER (PARTITION BY canonical_url)
                    AS keeper FROM c)
    SELECT doc_id, canonical_url,
           CASE WHEN doc_id = keeper THEN NULL ELSE keeper END AS dup_of,
           CAST(doc_id <> keeper AS INT) AS is_dup
    FROM k
    """,
)
def x_url_canonical_dedup(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    c = docs.select(
        "doc_id", _ur.synth_url(F.col("doc_id")).alias("url")
    ).select(
        "doc_id", _ur.canonical_url(F.col("url")).alias("canonical_url")
    )
    keeper = F.min("doc_id").over(Window.partitionBy("canonical_url"))
    return c.select(
        "doc_id",
        "canonical_url",
        keeper.alias("_keeper"),
    ).select(
        "doc_id",
        "canonical_url",
        F.when(F.col("doc_id") != F.col("_keeper"), F.col("_keeper")).alias(
            "dup_of"
        ),
        (F.col("doc_id") != F.col("_keeper")).cast("int").alias("is_dup"),
    )


_DOMAIN_CAP = 100


@_register(
    "x_domain_caps",
    "per-registered-domain document cap (RefinedWeb/C4-style corpus "
    "governance: no mega-site dominates the mix): canonical URL -> "
    "registered domain, per-domain UNBIASED survivor pick by salted "
    "hash order, cap at 100 — one hash shuffle on domain, bounded "
    "per-group window (north-star)",
    f"""
    WITH u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
    c AS (SELECT doc_id, {_CANON_SQL} AS cu FROM u),
    d AS (SELECT doc_id, {_ur.registered_domain_sql('cu')} AS domain FROM c),
    r AS (SELECT doc_id, domain,
                 row_number() OVER (
                   PARTITION BY domain
                   ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id
                 ) AS rk
          FROM d)
    SELECT doc_id, domain, CAST(rk <= {_DOMAIN_CAP} AS INT) AS kept FROM r
    """,
)
def x_domain_caps(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = docs.select(
        "doc_id",
        _ur.registered_domain(
            _ur.canonical_url(_ur.synth_url(F.col("doc_id")))
        ).alias("domain"),
    )
    w = Window.partitionBy("domain").orderBy(
        F.md5(F.concat(F.lit("cap:"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    return d.select(
        "doc_id",
        "domain",
        (F.row_number().over(w) <= _DOMAIN_CAP).cast("int").alias("kept"),
    )


@_register(
    "x_stutter_trim",
    "adjacent-duplicate-token collapse ('the the', generation stutter, "
    "OCR doubling) with removal accounting — the repair form of "
    "repetition_stats' measurement; array-native zip-with-shifted-self, "
    "no explode, no shuffle (north-star); the oracle replays the "
    "adjacency rule via explode + lag + ordered string_agg",
    """
    WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t,
                       generate_subscripts(string_split(text, ' '), 1) AS i
                FROM documents),
    k AS (SELECT doc_id, t, i,
                 lag(t) OVER (PARTITION BY doc_id ORDER BY i) AS p FROM ex)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN t = p THEN 1 ELSE 0 END) AS BIGINT)
             AS n_stutter,
           string_agg(t, ' ' ORDER BY i) FILTER (WHERE p IS NULL OR t <> p)
             AS text_trimmed
    FROM k GROUP BY doc_id
    """,
)
def x_stutter_trim(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return _ts.stutter_trim(docs, "text", "doc_id").withColumnRenamed(
        "id", "doc_id"
    )


@_register(
    "x_knn_filtered",
    "predicate-filtered exact top-k similarity search (the vector-DB "
    "'filtered search' contract): candidates PRE-filtered by metadata "
    "(label = 1 AND even id) before any distance work — filter rides "
    "the candidate scan, broadcast queries, per-query bounded window; "
    "pre-filter keeps k guaranteed where post-filtering an ANN "
    "shortlist can starve (north-star)",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
      SELECT query_id, e.vec_id AS neighbor_id, {_cos_sql('qv', 'e.v')} AS sim
      FROM q JOIN e ON e.label = 1 AND e.vec_id % 2 = 0
                   AND e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, rank, round(sim, 4) AS sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= 5
    """,
)
def x_knn_filtered(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cands = emb.filter((F.col("label") == 1) & (F.col("vec_id") % 2 == 0))
    return _sim.knn_bruteforce(cands, emb.filter(F.col("vec_id") < 5), k=5)


@_register(
    "x_knn_filtered_recall",
    "quantifies x_knn_filtered's pre-vs-post-filter claim: recall@5 of "
    "POST-filtering a sign-LSH bucketed shortlist (rank<=10, then apply "
    "the metadata predicate) against the PRE-filter exact truth — "
    "queries whose bucket holds few predicate-satisfying vectors "
    "starve, which is why filtered search must push the predicate "
    "into candidate generation at scale (north-star measurement)",
    f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
                  FROM embeddings),
    e AS (SELECT vec_id, v, label, {_BUCKET_SQL} AS bucket FROM base),
    flt AS (SELECT * FROM base WHERE label = 1 AND vec_id % 2 = 0),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e
          WHERE vec_id < 20),
    truth AS (SELECT query_id, neighbor_id FROM (
      SELECT query_id, flt.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY {_cos_sql('qv', 'flt.v')} DESC, flt.vec_id) AS rank
      FROM q JOIN flt ON flt.vec_id <> q.query_id) WHERE rank <= 5),
    short AS (SELECT query_id, neighbor_id, label FROM (
      SELECT query_id, e.vec_id AS neighbor_id, e.label,
             row_number() OVER (PARTITION BY query_id
               ORDER BY {_cos_sql('qv', 'e.v')} DESC, e.vec_id) AS rank
      FROM q JOIN e USING (bucket) WHERE e.vec_id <> q.query_id)
      WHERE rank <= 10),
    postf AS (SELECT DISTINCT query_id, neighbor_id FROM short
              WHERE label = 1 AND neighbor_id % 2 = 0),
    bt AS (SELECT query_id, count(*) AS n_truth FROM truth GROUP BY query_id),
    hits AS (SELECT query_id, count(*) AS n_hits
             FROM truth JOIN postf USING (query_id, neighbor_id)
             GROUP BY query_id)
    SELECT query_id, n_truth, coalesce(n_hits, 0) AS n_hits,
           round(coalesce(n_hits, 0) * 1.0 / n_truth, 4) AS recall
    FROM bt LEFT JOIN hits USING (query_id)
    """,
)
def x_knn_filtered_recall(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    pred = (F.col("label") == 1) & (F.col("vec_id") % 2 == 0)
    queries = emb.filter(F.col("vec_id") < 20)
    truth = _sim.knn_bruteforce(emb.filter(pred), queries, k=5)
    shortlist = _sim.knn_bucketed(emb, queries, k=10)
    postf = (
        shortlist.join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "label"),
            "neighbor_id",
        )
        .filter((F.col("label") == 1) & (F.col("neighbor_id") % 2 == 0))
        .select("query_id", "neighbor_id")
    )
    return _sim.ann_recall(truth, postf)


@_register(
    "x_ivm_group_agg",
    "incremental view maintenance of a per-nation (count, sum) "
    "materialization under a keyed changefeed WITH RETRACTIONS: deltas "
    "from snapshot_diff apply to the OLD snapshot's aggregate — a row "
    "whose group key MIGRATES retracts from its old nation and inserts "
    "into its new one (the case naive +/- misses). The ORACLE IS THE "
    "FULL RECOMPUTE over the new snapshot, so the checked contract is "
    "maintained == recomputed bit-for-bit (decimal-exact); at 100 TB "
    "the maintained path touches |changefeed| rows, not the corpus "
    "(north-star)",
    """
    WITH new AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100
                  ELSE c_acctbal END AS bal,
             CASE WHEN c_custkey % 11 = 0 THEN (c_nationkey + 1) % 25
                  ELSE c_nationkey END AS c_nationkey
      FROM customer WHERE c_custkey % 10 <> 6)
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(bal AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM new GROUP BY 1
    """,
)
def x_ivm_group_agg(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    old = cust.filter(F.col("c_custkey") % 10 != 3).select(
        "c_custkey",
        F.col("c_acctbal").alias("bal"),
        "c_nationkey",
    )
    new = cust.filter(F.col("c_custkey") % 10 != 6).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100)
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
        F.when(
            F.col("c_custkey") % 11 == 0, (F.col("c_nationkey") + 1) % 25
        )
        .otherwise(F.col("c_nationkey"))
        .alias("c_nationkey"),
    )
    return _cdc.maintain_sum_count(
        old, new, ["c_custkey"], "c_nationkey", "bal"
    )


_TS_FOLDS, _TS_EMBARGO = 5, 2


@_register(
    "x_time_split_embargo",
    "purged K-fold time-series split (backtesting without leakage): "
    "days rank into K contiguous folds by exact integer math; for each "
    "fold, days within the embargo of its boundaries are EXCLUDED from "
    "train (adjacent-day correlation is the leak temporal splits "
    "exist to stop). Per-fold accounting over an event x K fanout — "
    "bounded by K, the day map broadcasts (north-star)",
    f"""
    WITH d AS (SELECT DISTINCT CAST(strftime(ts, '%Y-%m-%d') AS DATE) AS dt
               FROM events),
    n AS (SELECT count(*) AS nd FROM d),
    dr AS (SELECT dt, row_number() OVER (ORDER BY dt) AS rk FROM d),
    fmap AS (SELECT dt, rk,
                    CAST(floor((rk - 1) * {_TS_FOLDS}.0 / nd) AS INT) + 1
                      AS fold
             FROM dr, n),
    fb AS (SELECT fold, min(rk) AS lo, max(rk) AS hi FROM fmap GROUP BY 1),
    ev AS (SELECT f.rk FROM events e
           JOIN fmap f ON CAST(strftime(e.ts, '%Y-%m-%d') AS DATE) = f.dt),
    cls AS (SELECT fb.fold,
                   CASE WHEN ev.rk BETWEEN fb.lo AND fb.hi THEN 'test'
                        WHEN ev.rk BETWEEN fb.lo - {_TS_EMBARGO}
                                       AND fb.hi + {_TS_EMBARGO}
                          THEN 'embargo'
                        ELSE 'train' END AS cls
            FROM ev CROSS JOIN fb)
    SELECT fold,
           CAST(sum(CASE WHEN cls = 'test' THEN 1 ELSE 0 END) AS BIGINT)
             AS test_rows,
           CAST(sum(CASE WHEN cls = 'embargo' THEN 1 ELSE 0 END) AS BIGINT)
             AS embargo_rows,
           CAST(sum(CASE WHEN cls = 'train' THEN 1 ELSE 0 END) AS BIGINT)
             AS train_rows
    FROM cls GROUP BY fold
    """,
)
def x_time_split_embargo(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        F.to_date(F.date_format("ts", "yyyy-MM-dd")).alias("dt")
    )
    d = ev.distinct()
    n = d.agg(F.count(F.lit(1)).alias("nd"))
    # domain-sized keyless window: the distinct-day frame is calendar-
    # bounded (~30 rows here, thousands at most), never data-sized
    dr = d.select(
        "dt", F.row_number().over(Window.orderBy("dt")).alias("rk")
    )
    fmap = dr.join(F.broadcast(n), F.lit(True), "left").select(
        "dt",
        "rk",
        (
            F.floor((F.col("rk") - 1) * _TS_FOLDS / F.col("nd")).cast("int")
            + 1
        ).alias("fold"),
    )
    fb = fmap.groupBy("fold").agg(
        F.min("rk").alias("lo"), F.max("rk").alias("hi")
    )
    evr = ev.join(F.broadcast(fmap), "dt").select("rk")
    cls = (
        F.when(
            F.col("rk").between(F.col("lo"), F.col("hi")), F.lit("test")
        )
        .when(
            F.col("rk").between(
                F.col("lo") - _TS_EMBARGO, F.col("hi") + _TS_EMBARGO
            ),
            F.lit("embargo"),
        )
        .otherwise(F.lit("train"))
    )
    return (
        evr.crossJoin(F.broadcast(fb))
        .select("fold", cls.alias("cls"))
        .groupBy("fold")
        .agg(
            F.sum((F.col("cls") == "test").cast("int")).cast("long").alias(
                "test_rows"
            ),
            F.sum((F.col("cls") == "embargo").cast("int"))
            .cast("long")
            .alias("embargo_rows"),
            F.sum((F.col("cls") == "train").cast("int")).cast("long").alias(
                "train_rows"
            ),
        )
    )


@_register(
    "x_labeler_agreement",
    "inter-labeler agreement (Cohen's kappa) between two deterministic "
    "weak labelers over documents — the sanity gate before training a "
    "quality classifier on weak labels (low kappa means the rules "
    "disagree and the 'ground truth' is noise): one shared-scan "
    "aggregate to the 2x2 confusion, kappa from exact counts "
    "(north-star)",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS t, text FROM documents),
    lab AS (SELECT doc_id,
                   CAST(len(t) >= 30 AS INT) AS a,
                   CAST(len(list_filter(t, x ->
                        list_contains({_STOPSET_SQL}, x))) * 1.0
                        / len(t) <= 0.2 AS INT) AS b
            FROM t),
    c AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(a * b) AS BIGINT) AS n11,
                 CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
                 CAST(sum((1 - a) * b) AS BIGINT) AS n01,
                 CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
          FROM lab)
    SELECT n, n11, n10, n01, n00,
           floor((n11 + n00) * 1.0 / n * 1e6 + 0.5) / 1e6 AS po,
           floor(((n11 + n10) * (n11 + n01)
                  + (n01 + n00) * (n10 + n00)) * 1.0 / (n * n)
                 * 1e6 + 0.5) / 1e6 AS pe,
           floor(((n11 + n00) * 1.0 / n
                  - ((n11 + n10) * (n11 + n01)
                     + (n01 + n00) * (n10 + n00)) * 1.0 / (n * n))
                 / (1.0 - ((n11 + n10) * (n11 + n01)
                           + (n01 + n00) * (n10 + n00)) * 1.0 / (n * n))
                 * 1e6 + 0.5) / 1e6 AS kappa
    FROM c
    """,
)
def x_labeler_agreement(spark, sf_dir):
    from ..operators.dedup import tokens_expr

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", tokens_expr("text").alias("t"))
    stopset = F.array(*[F.lit(w) for w in _ts.STOPWORDS])
    lab = toks.select(
        (F.size("t") >= 30).cast("int").alias("a"),
        (
            F.size(F.filter("t", lambda x: F.array_contains(stopset, x)))
            * F.lit(1.0)
            / F.size("t")
            <= 0.2
        )
        .cast("int")
        .alias("b"),
    )
    c = lab.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("long").alias("n00"),
    )

    def _r6(col):
        return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    po = (F.col("n11") + F.col("n00")) * F.lit(1.0) / F.col("n")
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    ) * F.lit(1.0) / (F.col("n") * F.col("n"))
    return c.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        _r6(po).alias("po"),
        _r6(pe).alias("pe"),
        _r6((po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


@_register(
    "x_weighted_quantiles",
    "token-WEIGHTED exact quantiles of document length: the smallest "
    "n_chars whose docs cumulatively hold ceil(p * total_tokens) of "
    "the corpus' tokens — the corpus-planning number ('docs <= X chars "
    "hold p of all tokens') a row-count quantile gets wrong on "
    "length-skewed corpora. Same distributed integer-rank machinery as "
    "x_exact_quantiles with per-value weight sums (north-star)",
    f"""
    WITH w AS (SELECT n_chars AS v, CAST(len({_TOKS_SQL}) AS BIGINT) AS c
               FROM documents),
    a AS (SELECT v, CAST(sum(c) AS BIGINT) AS c FROM w GROUP BY 1),
    t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM a),
    r AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM a),
    ps(p_num) AS (VALUES (500000), (900000), (990000))
    SELECT CAST(p_num AS DOUBLE) / 1000000 AS p,
           CAST((t.n * p_num + 999999) // 1000000 AS BIGINT)
             AS target_rank,
           min(r.v) AS value
    FROM ps CROSS JOIN t JOIN r
      ON r.cum >= (t.n * p_num + 999999) // 1000000
    GROUP BY p_num, t.n
    """,
)
def x_weighted_quantiles(spark, sf_dir):
    from ..operators.dedup import tokens_expr
    from ..operators.distributed import exact_quantiles

    docs = _t(spark, sf_dir, "documents").select(
        "n_chars", F.size(tokens_expr("text")).alias("w")
    )
    return exact_quantiles(docs, "n_chars", [0.5, 0.9, 0.99], weight_col="w")


@_register(
    "x_pseudonymize",
    "deterministic keyed pseudonymization WITH its correctness proof: "
    "customer/order keys map through one salted hash, and the entry "
    "emits the referential-integrity audit — pseudonymous join "
    "cardinality equals the original's and pseudonyms are "
    "collision-free — so the anonymized export provably supports the "
    "same analytics (the privacy op is only as good as this audit); "
    "pure projections + the same keyed joins the real pipeline runs "
    "(north-star)",
    """
    WITH c AS (SELECT c_custkey,
                      md5('pid:' || CAST(c_custkey AS VARCHAR)) AS pid
               FROM customer),
    o AS (SELECT o_custkey,
                 md5('pid:' || CAST(o_custkey AS VARCHAR)) AS pid
          FROM orders),
    orig AS (SELECT CAST(count(*) AS BIGINT) AS n
             FROM orders JOIN customer ON o_custkey = c_custkey),
    pse AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o JOIN c USING (pid)),
    ks AS (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_keys,
                  CAST(count(DISTINCT pid) AS BIGINT) AS n_pids
           FROM c)
    SELECT ks.n_keys, ks.n_pids,
           CAST(ks.n_keys = ks.n_pids AS INT) AS collision_free,
           orig.n AS joined_original, pse.n AS joined_pseudonymous,
           CAST(orig.n = pse.n AS INT) AS join_preserved
    FROM ks, orig, pse
    """,
)
def x_pseudonymize(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    pid = lambda col: F.md5(F.concat(F.lit("pid:"), F.col(col).cast("string")))  # noqa: E731
    c = cust.select("c_custkey", pid("c_custkey").alias("pid"))
    o = orders.select("o_custkey", pid("o_custkey").alias("pid"))
    orig = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    pse = o.join(c, "pid").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ks = c.agg(
        F.count_distinct("c_custkey").cast("long").alias("n_keys"),
        F.count_distinct("pid").cast("long").alias("n_pids"),
    )
    return (
        ks.crossJoin(F.broadcast(orig.withColumnRenamed("n", "_orig")))
        .crossJoin(F.broadcast(pse.withColumnRenamed("n", "_pse")))
        .select(
            "n_keys",
            "n_pids",
            (F.col("n_keys") == F.col("n_pids")).cast("int").alias(
                "collision_free"
            ),
            F.col("_orig").alias("joined_original"),
            F.col("_pse").alias("joined_pseudonymous"),
            (F.col("_orig") == F.col("_pse")).cast("int").alias(
                "join_preserved"
            ),
        )
    )


@_register(
    "j_order_wide_full",
    "J4 FULL_OUTER mode, batch twin of order_wide_pipeline(join_type="
    "'full_outer'): detail rows missing info AND info rows missing "
    "details both survive null-padded, order_id coalescing from "
    "whichever side exists — the reconciliation view (which orders "
    "have no line items landed, which line items have no order). "
    "Deterministic carves: infos of o_orderkey % 7 = 0 missing, "
    "details of l_orderkey % 5 = 0 missing.",
    """
    WITH li AS (SELECT * FROM lineitem WHERE l_orderkey % 5 <> 0),
    o AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0)
    SELECT coalesce(l_orderkey, o_orderkey) AS order_id,
           l_linenumber AS detail_id,
           o_custkey AS user_id, o_orderstatus AS order_status,
           round(o_totalprice, 2) AS total_amount,
           l_partkey AS sku_id, round(l_quantity, 2) AS sku_num,
           round(l_extendedprice, 2) AS split_total_amount,
           strftime(o_orderdate, '%Y-%m-%d') AS create_date
    FROM li FULL OUTER JOIN o ON l_orderkey = o_orderkey
    """,
)
def j_order_wide_full(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 != 0)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 5 != 0)
    j = li.join(o, li.l_orderkey == o.o_orderkey, "full_outer")
    return j.select(
        F.coalesce(F.col("l_orderkey"), F.col("o_orderkey")).alias(
            "order_id"
        ),
        F.col("l_linenumber").alias("detail_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderstatus").alias("order_status"),
        F.round("o_totalprice", 2).alias("total_amount"),
        F.col("l_partkey").alias("sku_id"),
        F.round("l_quantity", 2).alias("sku_num"),
        F.round("l_extendedprice", 2).alias("split_total_amount"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("create_date"),
    )


# exponential time-decay weights, quantized to the 1e-6 grid and
# embedded as EXACT decimal literals on both engines: pow() is a libm
# call whose last bits differ across engines, a 30-branch CASE of
# pre-computed literals is bit-identical by construction (the corpus
# spans 30 days; older events decay to weight 0).
_DECAY_HALF = 0.9
_DECAY_W = [
    int(_DECAY_HALF**k * 1_000_000) / 1_000_000 for k in range(30)
]
_DECAY_CASE_SQL = (
    "CASE age "
    + " ".join(
        f"WHEN {k} THEN CAST({w:.6f} AS DECIMAL(12,6))"
        for k, w in enumerate(_DECAY_W)
    )
    + " ELSE CAST(0 AS DECIMAL(12,6)) END"
)


@_register(
    "x_decayed_engagement",
    "recency-weighted user engagement: each event counts 0.9^age_days "
    "(age vs the corpus max date), weights pre-computed to exact "
    "1e-6-grid decimal literals — no libm pow in the plan, decimal "
    "sums exact and order-free on any engine. The feature-engineering "
    "form of recency scoring (RFM's R as a continuous decay); one "
    "broadcast max-date + one keyed aggregate (north-star)",
    f"""
    WITH mx AS (SELECT max(CAST(strftime(ts, '%Y-%m-%d') AS DATE)) AS mxd
                FROM events),
    a AS (SELECT user_id,
                 date_diff('day', CAST(strftime(ts, '%Y-%m-%d') AS DATE),
                           (SELECT mxd FROM mx)) AS age
          FROM events),
    w AS (SELECT user_id, {_DECAY_CASE_SQL} AS w FROM a)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(w) AS DOUBLE) AS decayed_score
    FROM w GROUP BY user_id
    """,
)
def x_decayed_engagement(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_format("ts", "yyyy-MM-dd")).alias("d")
    )
    mx = ev.agg(F.max("d").alias("mxd"))
    age = F.datediff(F.col("mxd"), F.col("d"))
    # the CASE as a single chained when (age 0..29, else 0)
    chain = F.lit(0).cast("decimal(12,6)")
    for k in reversed(range(30)):
        chain = F.when(
            age == k, F.lit(_DECAY_W[k]).cast("decimal(12,6)")
        ).otherwise(chain)
    return (
        ev.join(F.broadcast(mx), F.lit(True), "left")
        .select("user_id", chain.alias("w"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("w").cast("double").alias("decayed_score"),
        )
    )


@_register(
    "x_significant_terms",
    "ES significant-terms aggregation (the serving stack's "
    "foreground-vs-background term lift, JLH score): terms "
    "overrepresented in the lang='de' document subset vs the whole "
    "corpus — (fg% - bg%) * (fg% / bg%) over exact integer counts, "
    "floor-rounded; two token aggregates + one equi-join on term, "
    "top-20 bounded (north-star)",
    f"""
    WITH toks AS (SELECT doc_id, lang, unnest({_TOKS_SQL}) AS term
                  FROM documents),
    fg AS (SELECT term, count(*) AS f FROM toks WHERE lang = 'de'
           GROUP BY term),
    bg AS (SELECT term, count(*) AS b FROM toks GROUP BY term),
    tot AS (SELECT CAST(sum(f) AS BIGINT) AS ft,
                   (SELECT CAST(sum(b) AS BIGINT) FROM bg) AS bt
            FROM fg),
    s AS (SELECT fg.term, CAST(f AS BIGINT) AS fg_count,
                 CAST(b AS BIGINT) AS bg_count,
                 floor((f * 1.0 / ft - b * 1.0 / bt)
                       * ((f * 1.0 / ft) / (b * 1.0 / bt)) * 1e6 + 0.5)
                   / 1e6 AS jlh
          FROM fg JOIN bg USING (term) CROSS JOIN tot)
    SELECT term, fg_count, bg_count, jlh FROM s
    ORDER BY jlh DESC, term LIMIT 20
    """,
)
def x_significant_terms(spark, sf_dir):
    from ..operators.dedup import tokens_expr

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(tokens_expr("text")).alias("term")
    )
    fg = docs.filter(F.col("lang") == "de").groupBy("term").agg(
        F.count(F.lit(1)).alias("f")
    )
    bg = docs.groupBy("term").agg(F.count(F.lit(1)).alias("b"))
    ft = fg.agg(F.sum("f").alias("ft"))
    bt = bg.agg(F.sum("b").alias("bt"))
    tot = ft.crossJoin(F.broadcast(bt))
    fgp = F.col("f") * F.lit(1.0) / F.col("ft")
    bgp = F.col("b") * F.lit(1.0) / F.col("bt")
    jlh = F.floor((fgp - bgp) * (fgp / bgp) * F.lit(1e6) + F.lit(0.5)) / F.lit(
        1e6
    )
    return (
        fg.join(bg, "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "term",
            F.col("f").cast("long").alias("fg_count"),
            F.col("b").cast("long").alias("bg_count"),
            jlh.alias("jlh"),
        )
        .orderBy(F.col("jlh").desc(), "term")
        .limit(20)
    )


@_register(
    "x_session_bounce",
    "session-quality metrics over 30-min-gap sessions (the GA-style "
    "companion of o_session_window): sessions, bounce rate (single-"
    "event sessions), avg events and avg duration seconds per session "
    "— one session aggregate then one domain-free rollup; duration in "
    "exact integer MICROseconds (sub-second truncation diverges across "
    "engines) (north-star)",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    numbered AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged),
    s AS (SELECT user_id, session_no, count(*) AS n_events,
                 epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
          FROM numbered GROUP BY 1, 2)
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           floor(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*) * 1e6 + 0.5) / 1e6 AS bounce_rate,
           floor(sum(n_events) * 1.0 / count(*) * 1e6 + 0.5) / 1e6
             AS avg_events,
           floor(sum(dur_us) * 1.0 / count(*) + 0.5) / 1e6
             AS avg_duration_s
    FROM s
    """,
)
def x_session_bounce(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            .cast("long")
            .alias("dur_us"),
        )
    )

    def _r6(col):
        return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    n = F.count(F.lit(1))
    bounces = F.sum((F.col("n_events") == 1).cast("int"))
    return s.agg(
        n.cast("long").alias("n_sessions"),
        bounces.cast("long").alias("n_bounces"),
        _r6(bounces * F.lit(1.0) / n).alias("bounce_rate"),
        _r6(F.sum("n_events") * F.lit(1.0) / n).alias("avg_events"),
        (
            F.floor(F.sum("dur_us") * F.lit(1.0) / n + F.lit(0.5))
            / F.lit(1e6)
        ).alias("avg_duration_s"),
    )


_FUNNEL_WINDOW_H = 24


@_register(
    "x_funnel_windowed",
    "conversion funnel with a MAX CONVERSION WINDOW: each step must "
    "follow the previous step's earliest completion within 24 h — "
    "x_funnel_ordered counts a purchase weeks after the click as "
    "converted, this one expires the attribution (the standard "
    "marketing-funnel definition); same keyed-aggregate + equi-join "
    "shape with the window predicate riding along (north-star)",
    f"""
    WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN v ON v.user_id = e.user_id
            AND e.ts > v.t1
            AND e.ts <= v.t1 + INTERVAL {_FUNNEL_WINDOW_H} HOUR
          WHERE e.event_type = 'click' GROUP BY 1),
    p AS (SELECT DISTINCT e.user_id
          FROM events e JOIN c ON c.user_id = e.user_id
            AND e.ts > c.t2
            AND e.ts <= c.t2 + INTERVAL {_FUNNEL_WINDOW_H} HOUR
          WHERE e.event_type = 'purchase'),
    k AS (SELECT (SELECT count(*) FROM v) AS s1,
                 (SELECT count(*) FROM c) AS s2,
                 (SELECT count(*) FROM p) AS s3)
    SELECT CAST(s1 AS BIGINT) AS n_view,
           CAST(s2 AS BIGINT) AS n_view_click_24h,
           CAST(s3 AS BIGINT) AS n_full_funnel_24h,
           floor(CAST(s2 AS DOUBLE) / s1 * 1e6 + 0.5) / 1e6
             AS click_through,
           floor(CAST(s3 AS DOUBLE) / s1 * 1e6 + 0.5) / 1e6
             AS full_conversion
    FROM k
    """,
)
def x_funnel_windowed(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    win = F.expr(f"INTERVAL {_FUNNEL_WINDOW_H} HOURS")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + win))
        .select("user_id")
        .distinct()
    )
    s1 = v.agg(F.count(F.lit(1)).alias("s1"))
    s2 = c.agg(F.count(F.lit(1)).alias("s2"))
    s3 = p.agg(F.count(F.lit(1)).alias("s3"))
    k = s1.crossJoin(F.broadcast(s2)).crossJoin(F.broadcast(s3))

    def _r6(col):
        return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return k.select(
        F.col("s1").cast("long").alias("n_view"),
        F.col("s2").cast("long").alias("n_view_click_24h"),
        F.col("s3").cast("long").alias("n_full_funnel_24h"),
        _r6(F.col("s2").cast("double") / F.col("s1")).alias("click_through"),
        _r6(F.col("s3").cast("double") / F.col("s1")).alias(
            "full_conversion"
        ),
    )


_SNIP_BEFORE, _SNIP_LEN = 40, 100
_SNIP_POS_SQL = " , ".join(
    f"nullif(strpos(lower(text), '{t}'), 0)" for t in ITEM_QUERY.split()
)
_SNIP_FRAG_SQL = (
    f"substring(text, CAST(greatest(1, least({_SNIP_POS_SQL})"
    f" - {_SNIP_BEFORE}) AS INT), {_SNIP_LEN})"
)
_SNIP_HL_SQL = match_and_highlight_sql(_SNIP_FRAG_SQL, ITEM_QUERY)[1]


@_register(
    "q_detail_snippet",
    "ES-highlighter FRAGMENT semantics for the detail route: instead of "
    "tagging the whole field, return a bounded snippet around the "
    "earliest query-token hit with the tags inside it, plus truncation "
    "flags — what a search result list renders "
    "(PublisherMapperImpl.java:199-218 requests fragment highlights; "
    "the rebuild's detail page returned whole-field tags until now). "
    "Pure string expressions over the matched rows (north-star)",
    f"""
    WITH m AS (SELECT doc_id, text FROM documents WHERE {_DOC_MATCH_SQL}),
    p AS (SELECT doc_id, text,
                 least({_SNIP_POS_SQL}) AS pos FROM m)
    SELECT doc_id, CAST(pos AS BIGINT) AS first_hit_pos,
           {_SNIP_HL_SQL} AS snippet,
           CAST(pos - {_SNIP_BEFORE} > 1 AS INT) AS truncated_head,
           CAST(greatest(1, pos - {_SNIP_BEFORE}) + {_SNIP_LEN}
                <= length(text) AS INT) AS truncated_tail
    FROM p
    """,
)
def q_detail_snippet(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = ITEM_QUERY.split()
    pos = F.least(
        *[
            F.nullif(F.instr(F.lower("text"), t), F.lit(0))
            for t in toks
        ]
    )
    m = docs.filter(text_match(F.col("text"), ITEM_QUERY)).select(
        "doc_id", "text", pos.alias("pos")
    )
    start = F.greatest(F.lit(1), F.col("pos") - _SNIP_BEFORE).cast("int")
    frag = F.substring(F.col("text"), start, _SNIP_LEN)
    return m.select(
        "doc_id",
        F.col("pos").cast("long").alias("first_hit_pos"),
        highlight(frag, ITEM_QUERY).alias("snippet"),
        (F.col("pos") - _SNIP_BEFORE > 1).cast("int").alias(
            "truncated_head"
        ),
        (
            F.greatest(F.lit(1), F.col("pos") - _SNIP_BEFORE) + _SNIP_LEN
            <= F.length("text")
        )
        .cast("int")
        .alias("truncated_tail"),
    )


@_register(
    "x_seasonal_anomaly",
    "weekday-ADJUSTED daily-volume anomalies: a Saturday is judged "
    "against Saturdays (x_seasonality_weekday shows the profile; a "
    "plain daily z-score would flag every weekend) — per-weekday "
    "moments from EXACT integer sums (sum, sum-of-squares as BIGINT; "
    "the only floats are one fixed-order division chain and an IEEE "
    "correctly-rounded sqrt), |z| > 2 flags; one daily aggregate + one "
    "7-row broadcast join-back (north-star)",
    """
    WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS dt,
                          dayofweek(CAST(o_orderdate AS DATE)) AS wd,
                          CAST(count(*) AS BIGINT) AS n
                   FROM orders GROUP BY 1, 2),
    wk AS (SELECT wd, CAST(count(*) AS BIGINT) AS cnt,
                  CAST(sum(n) AS BIGINT) AS s1,
                  CAST(sum(n * n) AS BIGINT) AS s2
           FROM daily GROUP BY 1),
    z AS (SELECT dt, daily.wd, n,
                 CAST(s1 AS DOUBLE) / cnt AS mean,
                 (n - CAST(s1 AS DOUBLE) / cnt)
                   / sqrt((CAST(s2 AS DOUBLE) * cnt - CAST(s1 AS DOUBLE) * s1)
                          / (CAST(cnt AS DOUBLE) * cnt)) AS zs
          FROM daily JOIN wk ON daily.wd = wk.wd WHERE cnt > 1
            AND s2 * cnt > s1 * s1)
    SELECT strftime(dt, '%Y-%m-%d') AS dt, CAST(wd AS INT) AS weekday,
           n AS n_orders,
           floor(mean * 1e4 + 0.5) / 1e4 AS weekday_mean,
           floor(zs * 1e4 + 0.5) / 1e4 AS z
    FROM z WHERE abs(zs) > 2
    """,
)
def x_seasonal_anomaly(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    daily = od.groupBy(
        F.to_date("o_orderdate").alias("dt"),
        (F.dayofweek(F.to_date("o_orderdate")) - 1).alias("wd"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    wk = daily.groupBy("wd").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("n").cast("long").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("cnt")
    var = (
        F.col("s2").cast("double") * F.col("cnt")
        - F.col("s1").cast("double") * F.col("s1")
    ) / (F.col("cnt").cast("double") * F.col("cnt"))
    zs = (F.col("n") - mean) / F.sqrt(var)

    def _r4(col):
        return F.floor(col * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)

    return (
        daily.join(F.broadcast(wk), "wd")
        .filter(
            (F.col("cnt") > 1)
            & (F.col("s2") * F.col("cnt") > F.col("s1") * F.col("s1"))
        )
        .filter(F.abs(zs) > 2)
        .select(
            F.date_format("dt", "yyyy-MM-dd").alias("dt"),
            F.col("wd").cast("int").alias("weekday"),
            F.col("n").alias("n_orders"),
            _r4(mean).alias("weekday_mean"),
            _r4(zs).alias("z"),
        )
    )


# ---------------------------------------------------------------------------
# Round-10 (cont.): feature-engineering family (operators/mlprep.py),
# graph completion (label propagation, multi-source BFS), readability,
# point-in-time feature-store join, sample-based approximate aggregation.
# ---------------------------------------------------------------------------
from ..operators import mlprep as _ml


@_register(
    "x_target_encode_oof",
    "K-fold OUT-OF-FOLD mean-target encoding with additive smoothing "
    "(the leakage-safe categorical encoder every tabular trainer "
    "needs): one (key,fold) groupBy is the only data-sized shuffle; "
    "per-key totals via a key-partitioned window on the tiny aggregate, "
    "fold priors via a folds-sized broadcast join-back; DECIMAL sums "
    "pin cross-engine parity (north-star)",
    """
    WITH f AS (SELECT c_nationkey AS key,
                      CAST(o_orderkey % 5 AS INT) AS fold,
                      CAST(o_totalprice AS DECIMAL(18,6)) AS t
               FROM orders JOIN customer ON o_custkey = c_custkey),
    a AS (SELECT key, fold, SUM(t) AS s, COUNT(*) AS c FROM f GROUP BY 1, 2),
    k AS (SELECT key, SUM(s) AS ks, SUM(c) AS kc FROM a GROUP BY 1),
    pf AS (SELECT fold, SUM(s) AS fs, SUM(c) AS fc FROM a GROUP BY 1),
    g AS (SELECT SUM(fs) AS gs, SUM(fc) AS gc FROM pf),
    pr AS (SELECT fold,
                  CAST(gs - fs AS DOUBLE)
                    / NULLIF(CAST(gc - fc AS DOUBLE), 0.0) AS prior
           FROM pf, g)
    SELECT a.key AS key, a.fold AS fold,
           CAST(kc - c AS BIGINT) AS n_oof,
           round((CAST(ks - s AS DOUBLE) + 20.0 * prior)
                 / (CAST(kc - c AS DOUBLE) + 20.0), 6) AS enc
    FROM a JOIN k USING (key) JOIN pr USING (fold)
    """,
)
def x_target_encode_oof(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    fact = od.join(
        F.broadcast(cust), od.o_custkey == cust.c_custkey
    ).select(
        F.col("c_nationkey").alias("key"),
        (F.col("o_orderkey") % 5).cast("int").alias("fold"),
        F.col("o_totalprice").alias("t"),
    )
    return _ml.target_encode_oof(fact, "key", "fold", "t", smoothing=20.0)


@_register(
    "x_woe_iv",
    "Weight-of-Evidence / Information-Value feature screen per part "
    "brand against the returned-line outcome (the credit-scoring bin "
    "diagnostic): ONE groupBy(feature) + a 1-row scalar totals "
    "broadcast; Laplace 0.5 keeps empty cells finite; woe is rounded "
    "BEFORE iv so libm ln drift can't leak into a second output "
    "(north-star)",
    """
    WITH f AS (SELECT p_brand AS bin,
                      CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS b
               FROM lineitem JOIN part ON l_partkey = p_partkey),
    a AS (SELECT bin, COUNT(*) AS n, SUM(b) AS nb FROM f GROUP BY 1),
    t AS (SELECT SUM(n) AS tn, SUM(nb) AS tb FROM a),
    w AS (SELECT bin, n, nb, tn, tb,
                 round(ln(NULLIF(
                          ((CAST(n - nb AS DOUBLE) + 0.5) * CAST(tb AS DOUBLE))
                          / NULLIF((CAST(nb AS DOUBLE) + 0.5)
                                   * CAST(tn - tb AS DOUBLE), 0.0), 0.0)), 6)
                   AS woe
          FROM a, t)
    SELECT bin, CAST(n AS BIGINT) AS n, CAST(nb AS BIGINT) AS n_bad, woe,
           round((CAST(n - nb AS DOUBLE) / NULLIF(CAST(tn - tb AS DOUBLE), 0.0)
                  - CAST(nb AS DOUBLE) / NULLIF(CAST(tb AS DOUBLE), 0.0))
                 * woe, 6) AS iv
    FROM w
    """,
)
def x_woe_iv(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    fact = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
    return _ml.woe_iv(fact, "p_brand", F.col("l_returnflag") == "R")


@_register(
    "x_trend_ols",
    "per-key OLS trend from sufficient statistics: daily revenue per "
    "nation -> (slope, intercept, r2) for every nation in ONE "
    "map-side-combinable aggregate (regression as a sum — no MLlib, no "
    "per-key collect); integer x-sums and DECIMAL y-sums keep the "
    "closed forms bit-identical cross-engine (north-star)",
    """
    WITH d AS (SELECT c_nationkey AS key,
                      datediff('day', DATE '1992-01-01',
                               CAST(o_orderdate AS DATE)) AS x,
                      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                           AS DECIMAL(18,6)) AS y
               FROM orders JOIN customer ON o_custkey = c_custkey
               GROUP BY 1, 2),
    st AS (SELECT key, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                  SUM(x * y) AS sxy, SUM(x * x) AS sxx,
                  -- (19,6) casts force hugeint multiply in DuckDB (the
                  -- int64 (18,6) square overflows); Spark's (18,6)^2 ->
                  -- (37,12) is already exact, values identical
                  SUM(CAST(y AS DECIMAL(19,6))
                      * CAST(y AS DECIMAL(19,6))) AS syy
           FROM d GROUP BY 1),
    c AS (SELECT key, n,
                 CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
                 CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
                 CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
          FROM st),
    r AS (SELECT key, n,
                 (nd * sxyd - sxd * syd)
                   / NULLIF(nd * sxxd - sxd * sxd, 0.0) AS slope,
                 (nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
                   / NULLIF((nd * sxxd - sxd * sxd)
                            * (nd * syyd - syd * syd), 0.0) AS r2,
                 syd, sxd, nd
          FROM c)
    SELECT key, CAST(n AS BIGINT) AS n, round(slope, 6) AS slope,
           round((syd - slope * sxd) / nd, 6) AS intercept,
           round(r2, 6) AS r2
    FROM r
    """,
)
def x_trend_ols(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    daily = (
        od.join(F.broadcast(cust), od.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("key"),
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")
            ).alias("x"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("decimal(18,6)")
            .alias("y")
        )
    )
    return _ml.ols_trend(daily, "key", "x", "y")


@_register(
    "x_aqp_estimate",
    "approximate SUM by deterministic md5 hash-sampling (p=1/64) with a "
    "Horvitz-Thompson estimate, normal CI, and the exact total as its "
    "own audit on the same row — the AQP pattern that reads 1/64th of "
    "the data when the dashboard tolerates the error band; DECIMAL "
    "sums + IEEE-deterministic mult/div/sqrt need no rounding slack "
    "(north-star)",
    """
    WITH s AS (SELECT CAST(l_extendedprice AS DECIMAL(18,6)) AS v,
                      substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
                                 || CAST(l_linenumber AS VARCHAR)),
                             1, 2) < '04' AS smp
               FROM lineitem),
    a AS (SELECT COUNT(*) AS n_total,
                 SUM(CASE WHEN smp THEN 1 ELSE 0 END) AS n_sample,
                 SUM(v) AS exact_s,
                 SUM(CASE WHEN smp THEN v END) AS sv,
                 -- (19,6) casts force hugeint multiply in DuckDB (the
                 -- int64 (18,6) square overflows); Spark's exact
                 -- (37,12) square has identical values
                 SUM(CASE WHEN smp THEN CAST(v AS DECIMAL(19,6))
                          * CAST(v AS DECIMAL(19,6)) END) AS sv2
          FROM s),
    c AS (SELECT n_total, n_sample,
                 CAST(exact_s AS DOUBLE) AS ex,
                 CAST(sv AS DOUBLE) / 0.015625 AS est,
                 sqrt(CAST(sv2 AS DOUBLE) * (1.0 - 0.015625)
                      / (0.015625 * 0.015625)) AS se
          FROM a)
    SELECT CAST(n_total AS BIGINT) AS n_total,
           CAST(n_sample AS BIGINT) AS n_sample,
           round(ex, 2) AS exact_total,
           round(est, 2) AS est_total,
           round((est - ex) / NULLIF(ex, 0.0) * 100.0, 4) AS rel_err_pct,
           round(est - 1.96 * se, 2) AS ci_lo,
           round(est + 1.96 * se, 2) AS ci_hi,
           (est - 1.96 * se <= ex AND ex <= est + 1.96 * se) AS covered
    FROM c
    """,
)
def x_aqp_estimate(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return _ml.aqp_sum_estimate(
        li,
        F.concat_ws(":", F.col("l_orderkey"), F.col("l_linenumber")),
        "l_extendedprice",
    )


def _lpa_sql(iters: int) -> str:
    """Unrolled deterministic label propagation (self-vote + (count
    DESC, label ASC) mode tiebreak) over the symmetrized part-supplier
    co-supply graph — mirrors operators/graph.py label_propagation
    round for round; no floats anywhere so parity is exact."""
    parts = [
        "e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem)",
        "edges AS (SELECT 'p:' || CAST(p AS VARCHAR) AS src,"
        " 's:' || CAST(s AS VARCHAR) AS dst FROM e0"
        " UNION ALL SELECT 's:' || CAST(s AS VARCHAR),"
        " 'p:' || CAST(p AS VARCHAR) FROM e0)",
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        "l0 AS (SELECT node, node AS lbl FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"v{i} AS (SELECT e.dst AS node, l.lbl"
            f" FROM l{i - 1} l JOIN edges e ON e.src = l.node"
            f" UNION ALL SELECT node, lbl FROM l{i - 1})"
        )
        parts.append(
            f"c{i} AS (SELECT node, lbl, COUNT(*) AS c FROM v{i}"
            f" GROUP BY 1, 2)"
        )
        parts.append(
            f"l{i} AS (SELECT node, lbl FROM"
            f" (SELECT node, lbl, row_number() OVER"
            f" (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn"
            f" FROM c{i}) WHERE rn = 1)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, lbl AS community FROM l{iters}"
    )


@_register(
    "x_label_propagation",
    "deterministic label propagation (community detection) on the "
    "symmetrized co-supply graph: per round ONE node-sized join against "
    "the edge list + ONE (node,label) groupBy + ONE node-partitioned "
    "mode window; the self-vote breaks bipartite oscillation and the "
    "(count DESC, label ASC) tiebreak makes every round a pure function "
    "— integer-only, exact cross-engine parity (north-star; oracle = "
    "unrolled rounds)",
    _lpa_sql(iters=3),
)
def x_label_propagation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    p = F.concat(F.lit("p:"), F.col("p").cast("string"))
    s = F.concat(F.lit("s:"), F.col("s").cast("string"))
    edges = e0.select(p.alias("src"), s.alias("dst")).unionAll(
        e0.select(s.alias("src"), p.alias("dst"))
    )
    # Returned persisted (caller/bench clears cache) — see x_pagerank.
    return _gr.label_propagation(edges, iters=3)


def _bfs_sql(max_hops: int) -> str:
    """Unrolled multi-source BFS oracle in the UNPRUNED algebraic form
    (level_i = neighbors of level_{i-1}; hops = MIN level per node) —
    result-equivalent to the engine's anti-join-pruned frontier BFS,
    deliberately naive: the oracle is the baseline, not the plan."""
    parts = [
        "e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem)",
        "edges AS (SELECT 'p:' || CAST(p AS VARCHAR) AS src,"
        " 's:' || CAST(s AS VARCHAR) AS dst FROM e0"
        " UNION ALL SELECT 's:' || CAST(s AS VARCHAR),"
        " 'p:' || CAST(p AS VARCHAR) FROM e0)",
        "r0 AS (SELECT DISTINCT 's:' || CAST(s_suppkey AS VARCHAR) AS node"
        " FROM supplier WHERE s_nationkey = 0)",
    ]
    levels = ["SELECT node, 0 AS hop FROM r0"]
    for i in range(1, max_hops + 1):
        parts.append(
            f"r{i} AS (SELECT DISTINCT e.dst AS node"
            f" FROM r{i - 1} r JOIN edges e ON e.src = r.node)"
        )
        levels.append(f"SELECT node, {i} AS hop FROM r{i}")
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT node, CAST(MIN(hop) AS INT) AS hops FROM ("
        + " UNION ALL ".join(levels)
        + ") GROUP BY node"
    )


@_register(
    "x_bfs_hops",
    "multi-source unweighted BFS (shortest hop count from any nation-0 "
    "supplier, bounded at 4): frontier expansion with anti-join pruning "
    "so every node is expanded ONCE regardless of path multiplicity — "
    "per level one frontier-edge equi-join + one visited anti-join, "
    "state localCheckpoint'ed (north-star; oracle = unpruned min-level "
    "form, result-equivalent)",
    _bfs_sql(max_hops=4),
)
def x_bfs_hops(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    e0 = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    p = F.concat(F.lit("p:"), F.col("p").cast("string"))
    s = F.concat(F.lit("s:"), F.col("s").cast("string"))
    edges = e0.select(p.alias("src"), s.alias("dst")).unionAll(
        e0.select(s.alias("src"), p.alias("dst"))
    )
    sources = sup.filter(F.col("s_nationkey") == 0).select(
        F.concat(F.lit("s:"), F.col("s_suppkey").cast("string")).alias("node")
    ).distinct()
    # Returned persisted (caller/bench clears cache) — see x_pagerank.
    return _gr.bfs_hops(edges, sources, max_hops=4)


@_register(
    "x_readability",
    "Flesch reading-ease scoring per document as three regexp_count "
    "passes (words / sentence runs / vowel groups — the corpus-wide "
    "vowel-run syllable estimator, so NO per-word loop or UDF), banded "
    "on the already-rounded score so bucket edges can't disagree "
    "cross-engine (north-star)",
    """
    WITH s AS (SELECT doc_id AS id,
                      len(regexp_extract_all(text, '[A-Za-z]+')) AS w,
                      greatest(len(regexp_extract_all(text, '[.!?]+')),
                               1) AS snt,
                      len(regexp_extract_all(lower(text),
                                             '[aeiouy]+')) AS syl
               FROM documents),
    f AS (SELECT id, w, snt, syl,
                 CASE WHEN w > 0 THEN
                   round(206.835
                         - 1.015 * (CAST(w AS DOUBLE) / CAST(snt AS DOUBLE))
                         - 84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)),
                         4)
                 END AS flesch
          FROM s)
    SELECT id, CAST(w AS BIGINT) AS n_words,
           CAST(snt AS BIGINT) AS n_sentences,
           CAST(syl AS BIGINT) AS n_vowel_groups, flesch,
           CASE WHEN flesch IS NULL THEN NULL
                WHEN flesch >= 70 THEN 'easy'
                WHEN flesch >= 50 THEN 'standard'
                WHEN flesch >= 30 THEN 'difficult'
                ELSE 'very_difficult' END AS band
    FROM f
    """,
)
def x_readability(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return _ts.readability(docs, "text", "doc_id")


_PIT_MONTH = ("1995-03-01", "1995-04-01")


@_register(
    "x_feature_pit",
    "point-in-time-correct feature-store join: every order in a "
    "serving window gets its customer's PRIOR order count/revenue and "
    "PRIOR shipped-line return rate — two STRICT as-of joins against "
    "cumulative daily snapshot tables (tag+union+one window per key, "
    "never a range-join pair blow-up), the leakage-safe construction "
    "offline training and online serving must share (north-star; "
    "oracle = correlated point-in-time subqueries, the quadratic "
    "baseline)",
    f"""
    WITH l AS (SELECT o_orderkey AS ok, o_custkey AS ck,
                      CAST(o_orderdate AS DATE) AS d
               FROM orders
               WHERE CAST(o_orderdate AS DATE) >= DATE '{_PIT_MONTH[0]}'
                 AND CAST(o_orderdate AS DATE) < DATE '{_PIT_MONTH[1]}')
    SELECT ok AS o_orderkey, ck AS o_custkey,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o2
             WHERE o2.o_custkey = l.ck
               AND CAST(o2.o_orderdate AS DATE) < l.d) AS prior_orders,
           round(CAST((SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(18,6)))
                       FROM orders o2
                       WHERE o2.o_custkey = l.ck
                         AND CAST(o2.o_orderdate AS DATE) < l.d) AS DOUBLE),
                 2) AS prior_rev,
           (SELECT CAST(COUNT(*) AS BIGINT)
              FROM lineitem li JOIN orders o3 ON li.l_orderkey = o3.o_orderkey
             WHERE o3.o_custkey = l.ck
               AND CAST(li.l_shipdate AS DATE) < l.d) AS prior_lines,
           (SELECT CASE WHEN COUNT(*) > 0 THEN
                     floor(CAST(SUM(CASE WHEN li.l_returnflag = 'R'
                                         THEN 1 ELSE 0 END) AS DOUBLE)
                           / CAST(COUNT(*) AS DOUBLE) * 1e6 + 0.5) / 1e6
                   END
              FROM lineitem li JOIN orders o3 ON li.l_orderkey = o3.o_orderkey
             WHERE o3.o_custkey = l.ck
               AND CAST(li.l_shipdate AS DATE) < l.d) AS prior_return_rate
    FROM l
    """,
)
def x_feature_pit(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

    # Feature table 1: cumulative order count / revenue per customer as
    # of the END of each active day (snapshot grain = (custkey, day)).
    daily_o = od.groupBy(
        F.col("o_custkey").alias("ck"),
        F.to_date("o_orderdate").alias("snap_d"),
    ).agg(
        F.count(F.lit(1)).alias("dc"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("ds"),
    )
    w = Window.partitionBy("ck").orderBy("snap_d")
    snap_o = daily_o.select(
        "ck",
        "snap_d",
        F.sum("dc").over(w).alias("cum_cnt"),
        F.sum("ds").over(w).alias("cum_rev"),
    )

    # Feature table 2: cumulative shipped lines / returned lines per
    # customer by ship day.
    lo = li.join(
        od.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey")
    )
    daily_l = lo.groupBy(
        F.col("o_custkey").alias("ck"),
        F.to_date("l_shipdate").alias("snap_d"),
    ).agg(
        F.count(F.lit(1)).alias("dl"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("dr"),
    )
    snap_l = daily_l.select(
        "ck",
        "snap_d",
        F.sum("dl").over(w).alias("cum_lines"),
        F.sum("dr").over(w).alias("cum_ret"),
    )

    left = od.filter(
        (F.to_date("o_orderdate") >= F.lit(_PIT_MONTH[0]).cast("date"))
        & (F.to_date("o_orderdate") < F.lit(_PIT_MONTH[1]).cast("date"))
    ).select(
        "o_orderkey",
        F.col("o_custkey").alias("ck"),
        F.to_date("o_orderdate").alias("d"),
    )

    f1 = _jn.asof_join(
        left, snap_o, on=["ck"], left_ts="d", right_ts="snap_d",
        value_cols=["cum_cnt", "cum_rev"], strict=True,
    )
    f2 = _jn.asof_join(
        f1, snap_l, on=["ck"], left_ts="d", right_ts="snap_d",
        value_cols=["cum_lines", "cum_ret"], strict=True,
    )
    rate = F.floor(
        F.col("cum_ret").cast("double") / F.col("cum_lines").cast("double")
        * F.lit(1e6) + F.lit(0.5)
    ) / F.lit(1e6)
    return f2.select(
        "o_orderkey",
        F.col("ck").alias("o_custkey"),
        F.coalesce(F.col("cum_cnt"), F.lit(0)).cast("long").alias(
            "prior_orders"
        ),
        F.round(F.col("cum_rev").cast("double"), 2).alias("prior_rev"),
        F.coalesce(F.col("cum_lines"), F.lit(0)).cast("long").alias(
            "prior_lines"
        ),
        F.when(F.col("cum_lines") > 0, rate).alias("prior_return_rate"),
    )


# ---------------------------------------------------------------------------
# Round-10 (cont. 2): survival analysis, information-theoretic feature
# screen, split-conformal intervals, seasonal-naive forecast backtest.
# ---------------------------------------------------------------------------


@_register(
    "x_kaplan_meier",
    "Kaplan-Meier survival curve over customer reorder gaps (last gap "
    "right-censored at the dataset horizon): the retention question "
    "answered WITHOUT dropping not-yet-reordered customers; both "
    "running quantities (at-risk countdown, log-survival) ride the "
    "two-pass range-partitioned prefix-sum primitive — no single-task "
    "global window; the cumulative product is an exact INTEGER prefix "
    "sum of 1e9-scaled lns, one exp per row at the end (north-star)",
    """
    WITH o AS (SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS d,
                      o_orderkey AS okey
               FROM orders),
    mx AS (SELECT MAX(d) AS maxd FROM o),
    dur AS (SELECT CASE WHEN nd IS NULL THEN datediff('day', d, maxd)
                        ELSE datediff('day', d, nd) END AS t,
                   CASE WHEN nd IS NULL THEN 0 ELSE 1 END AS ev
            FROM (SELECT d, lead(d) OVER
                    (PARTITION BY ck ORDER BY d, okey) AS nd FROM o), mx),
    g AS (SELECT t, COUNT(*) AS c, SUM(ev) AS dd FROM dur GROUP BY 1),
    cum AS (SELECT t, c, dd,
                   SUM(c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cc
            FROM g),
    nt AS (SELECT SUM(c) AS n_tot FROM g),
    r AS (SELECT t, c, dd, n_tot - (cc - c) AS n_risk FROM cum, nt),
    st AS (SELECT t, dd, n_risk,
                  CAST(CASE WHEN dd = 0 THEN 0
                            WHEN dd < n_risk THEN
                              floor(ln(1.0 - CAST(dd AS DOUBLE)
                                             / CAST(n_risk AS DOUBLE))
                                    * 1e9 + 0.5)
                            ELSE 0 END AS BIGINT) AS lnsc,
                  CASE WHEN dd >= n_risk THEN 1 ELSE 0 END AS zf
           FROM r),
    acc AS (SELECT t, dd, n_risk,
                   SUM(lnsc) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS lc,
                   SUM(zf) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS zc
            FROM st)
    SELECT CAST(t AS INT) AS t, CAST(n_risk AS BIGINT) AS n_risk,
           CAST(dd AS BIGINT) AS d_events,
           round(CASE WHEN zc > 0 THEN 0.0
                      ELSE exp(CAST(lc AS DOUBLE) / 1e9) END, 6) AS survival
    FROM acc WHERE dd > 0
    """,
)
def x_kaplan_meier(spark, sf_dir):
    from ..operators.survival import kaplan_meier

    od = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    w = Window.partitionBy("o_custkey").orderBy(d, F.col("o_orderkey"))
    mx = od.groupBy().agg(F.max(d).alias("maxd"))
    durs = (
        od.select(d.alias("d"), F.lead(d).over(w).alias("nd"))
        .crossJoin(F.broadcast(mx))
        .select(
            F.when(
                F.col("nd").isNull(), F.datediff("maxd", "d")
            ).otherwise(F.datediff("nd", "d")).alias("dur"),
            F.when(F.col("nd").isNull(), 0).otherwise(1).alias("event"),
        )
    )
    return kaplan_meier(durs, "dur", "event")


def _mi_sql(feature: str) -> str:
    """One feature's MI/entropy block — the identical scaled-BIGINT ln
    recipe as operators/mlprep.mutual_information (see its docstring on
    why a raw sum of lns is doubly nondeterministic)."""
    return f"""
    SELECT '{feature}' AS feature, CAST(n AS BIGINT) AS n,
           round(CAST(mi_s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9), 6) AS mi,
           round(-CAST(hx_s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9), 6) AS h_x,
           round(-CAST(hy_s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9), 6) AS h_y,
           round((CAST(mi_s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9))
                 / NULLIF(sqrt((-CAST(hx_s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9))
                               * (-CAST(hy_s AS DOUBLE)
                                  / (CAST(n AS DOUBLE) * 1e9))), 0.0),
                 6) AS nmi
    FROM (
      SELECT MAX(n) AS n,
             SUM(CAST(cxy AS DECIMAL(19,0))
                 * CAST(floor(ln(CAST(cxy AS DOUBLE) * CAST(n AS DOUBLE)
                                 / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))
                              * 1e9 + 0.5) AS BIGINT)) AS mi_s,
             SUM(CAST(cxy AS DECIMAL(19,0))
                 * CAST(floor(ln(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE))
                              * 1e9 + 0.5) AS BIGINT)) AS hx_s,
             SUM(CAST(cxy AS DECIMAL(19,0))
                 * CAST(floor(ln(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))
                              * 1e9 + 0.5) AS BIGINT)) AS hy_s
      FROM (
        SELECT cxy,
               SUM(cxy) OVER (PARTITION BY x) AS cx,
               SUM(cxy) OVER (PARTITION BY y) AS cy,
               SUM(cxy) OVER () AS n
        FROM (SELECT {feature} AS x, l_returnflag AS y, COUNT(*) AS cxy
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY 1, 2)
      )
    )"""


@_register(
    "x_mutual_info",
    "mutual information + entropies + normalized MI between part "
    "features and the returned-line outcome — the model-free feature "
    "screen that catches what WOE linearizes away; ONE groupBy(x,y) "
    "per feature is the only data-sized shuffle, marginals are windows "
    "over the joint; weighted lns ride scaled-BIGINT/DECIMAL sums "
    "(exact, order-free) (north-star)",
    _mi_sql("p_brand") + "\nUNION ALL\n" + _mi_sql("p_type"),
)
def x_mutual_info(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    fact = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
    out = None
    for feat in ("p_brand", "p_type"):
        mi = _ml.mutual_information(fact, feat, "l_returnflag").select(
            F.lit(feat).alias("feature"), "n", "mi", "h_x", "h_y", "nmi"
        )
        out = mi if out is None else out.unionAll(mi)
    return out


@_register(
    "x_conformal_interval",
    "per-nation split-conformal prediction interval WITH its realized "
    "coverage on a held-out fold: fold 0 fits the per-key mean, fold 1 "
    "calibrates q_hat = the ceil(0.9*(n+1))-th smallest |residual| (a "
    "key-partitioned row_number — parallel, no global sort), fold 2 "
    "audits coverage; keys too small for the order statistic report "
    "NULL (the honest infinite interval), never a clamp (north-star)",
    """
    WITH f AS (SELECT c_nationkey AS key, CAST(o_orderkey % 3 AS INT) AS fold,
                      CAST(o_totalprice AS DECIMAL(18,6)) AS y
               FROM orders JOIN customer ON o_custkey = c_custkey),
    mu AS (SELECT key, CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu
           FROM f WHERE fold = 0 GROUP BY 1),
    r AS (SELECT f.key, fold, abs(CAST(y AS DOUBLE) - mu) AS r
          FROM f JOIN mu ON f.key = mu.key WHERE fold IN (1, 2)),
    nc AS (SELECT key, COUNT(*) AS n_cal FROM r WHERE fold = 1 GROUP BY 1),
    q AS (SELECT rr.key, rr.r AS q_hat
          FROM (SELECT key, r, row_number() OVER
                  (PARTITION BY key ORDER BY r) AS rn
                FROM r WHERE fold = 1) rr
          JOIN nc ON rr.key = nc.key
          WHERE rn = CAST(ceil(0.9 * CAST(n_cal + 1 AS DOUBLE)) AS BIGINT)),
    qn AS (SELECT nc.key, n_cal, q_hat FROM nc LEFT JOIN q ON nc.key = q.key),
    t AS (SELECT r.key, n_cal, q_hat, COUNT(*) AS n_test,
                 SUM(CASE WHEN r.r <= q_hat THEN 1 ELSE 0 END) AS n_cov
          FROM r JOIN qn ON r.key = qn.key WHERE fold = 2
          GROUP BY 1, 2, 3)
    SELECT key, CAST(n_cal AS BIGINT) AS n_cal,
           CAST(n_test AS BIGINT) AS n_test,
           round(q_hat, 6) AS q_hat,
           CASE WHEN q_hat IS NOT NULL THEN
             floor(CAST(n_cov AS DOUBLE) / CAST(n_test AS DOUBLE)
                   * 1e6 + 0.5) / 1e6
           END AS coverage
    FROM t
    """,
)
def x_conformal_interval(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    fact = od.join(F.broadcast(cust), od.o_custkey == cust.c_custkey).select(
        F.col("c_nationkey").alias("key"),
        (F.col("o_orderkey") % 3).cast("int").alias("fold"),
        F.col("o_totalprice").alias("y"),
    )
    return _ml.conformal_split(fact, "key", "fold", "y", alpha=0.1)


@_register(
    "x_seasonal_naive_backtest",
    "seasonal-naive forecast backtest per nation (yhat(d) = revenue at "
    "d-7, matched by keyed equi-join on (nation, date-7) so calendar "
    "gaps never misalign a row-lag): MAPE/sMAPE from exact scaled-"
    "BIGINT per-row ratios (order-free sums), bias from DECIMAL "
    "revenue sums — the honest accuracy floor any forecasting model "
    "must beat (north-star)",
    """
    WITH d AS (SELECT c_nationkey AS key, CAST(o_orderdate AS DATE) AS dt,
                      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                           AS DECIMAL(18,6)) AS y
               FROM orders JOIN customer ON o_custkey = c_custkey
               GROUP BY 1, 2),
    j AS (SELECT cur.key, cur.y AS y, prv.y AS yhat
          FROM d cur JOIN d prv
            ON cur.key = prv.key AND cur.dt = prv.dt + INTERVAL 7 DAY),
    e AS (SELECT key, y, yhat, abs(y - yhat) AS ae,
                 CAST(floor(CAST(abs(y - yhat) AS DOUBLE) / CAST(y AS DOUBLE)
                            * 1e9 + 0.5) AS BIGINT) AS ape_sc,
                 CAST(floor(2.0 * CAST(abs(y - yhat) AS DOUBLE)
                            / (CAST(y AS DOUBLE) + CAST(yhat AS DOUBLE))
                            * 1e9 + 0.5) AS BIGINT) AS sape_sc
          FROM j),
    a AS (SELECT key, COUNT(*) AS n, SUM(ape_sc) AS sa, SUM(sape_sc) AS ss,
                 SUM(y - yhat) AS db, SUM(y) AS sy
          FROM e GROUP BY 1)
    SELECT key, CAST(n AS BIGINT) AS n_points,
           floor(CAST(sa AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9)
                 * 1e6 + 0.5) / 1e6 AS mape,
           floor(CAST(ss AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9)
                 * 1e6 + 0.5) / 1e6 AS smape,
           round(CAST(db AS DOUBLE) / CAST(sy AS DOUBLE), 6) AS bias
    FROM a
    """,
)
def x_seasonal_naive_backtest(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    d = (
        od.join(F.broadcast(cust), od.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("key"),
            F.to_date("o_orderdate").alias("dt"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("decimal(18,6)")
            .alias("y")
        )
    )
    cur = d.alias("cur")
    prv = d.select(
        F.col("key").alias("pkey"),
        F.date_add("dt", 7).alias("pdt"),
        F.col("y").alias("yhat"),
    )
    j = cur.join(
        prv, (F.col("cur.key") == F.col("pkey")) & (F.col("cur.dt") == F.col("pdt"))
    ).select(F.col("cur.key").alias("key"), F.col("cur.y").alias("y"), "yhat")
    yd = F.col("y").cast("double")
    yh = F.col("yhat").cast("double")
    ae = F.abs(F.col("y") - F.col("yhat"))
    ape_sc = F.floor(
        ae.cast("double") / yd * F.lit(1e9) + F.lit(0.5)
    ).cast("long")
    sape_sc = F.floor(
        F.lit(2.0) * ae.cast("double") / (yd + yh) * F.lit(1e9) + F.lit(0.5)
    ).cast("long")
    a = j.select(
        "key", "y", "yhat", ape_sc.alias("ape_sc"), sape_sc.alias("sape_sc")
    ).groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ape_sc").alias("sa"),
        F.sum("sape_sc").alias("ss"),
        F.sum(F.col("y") - F.col("yhat")).alias("db"),
        F.sum("y").alias("sy"),
    )
    nd = F.col("n").cast("double")
    return a.select(
        "key",
        F.col("n").cast("long").alias("n_points"),
        (F.floor(F.col("sa").cast("double") / (nd * F.lit(1e9))
                 * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("mape"),
        (F.floor(F.col("ss").cast("double") / (nd * F.lit(1e9))
                 * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("smape"),
        F.round(
            F.col("db").cast("double") / F.col("sy").cast("double"), 6
        ).alias("bias"),
    )


_MERGE_PATHS: dict = {}


def _merge_store(spark, sf_dir: str) -> str:
    """Build-once (per applicationId + sf_dir, like sources/batch.py's
    relation cache) MERGE INTO demo table: customers with
    c_custkey%10==3 withheld form the target; the source updates every
    c_custkey%7==0 (bal+100), flags %3==0 of those for delete — so the
    merge exercises matched-update, matched-delete, unmatched-insert
    and delete-of-nonexistent in one commit."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _MERGE_PATHS:
        import atexit
        import os
        import shutil
        import tempfile

        from ..streaming.sinks import merge_into

        root = tempfile.mkdtemp(prefix="spark_merge_into_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        out = os.path.join(root, "table")
        cust = _t(spark, sf_dir, "customer")
        write_batch(
            cust.filter(F.col("c_custkey") % 10 != 3).select(
                "c_custkey",
                F.col("c_acctbal").cast("decimal(18,6)").alias("bal"),
            ),
            out,
            0,
        )
        src = cust.filter(F.col("c_custkey") % 7 == 0).select(
            "c_custkey",
            (F.col("c_acctbal").cast("decimal(18,6)") + 100).alias("bal"),
            (F.col("c_custkey") % 3 == 0).alias("is_del"),
        )
        merge_into(spark, out, src, ["c_custkey"], delete_col="is_del")
        _MERGE_PATHS[key] = out
    return _MERGE_PATHS[key]


@_register(
    "p_merge_into",
    "declarative MERGE INTO the manifest-committed table (the Delta/"
    "Iceberg MERGE subset a CDC-fed dim needs): matched rows update or "
    "delete by source flag, unmatched source rows insert, deletes of "
    "absent keys no-op — ONE full-outer key join (copy-on-write), ONE "
    "atomic manifest rename as the commit point; the entry reads the "
    "post-merge committed table back (north-star; K5 upgrade)",
    """
    WITH tgt AS (SELECT c_custkey AS k,
                        CAST(c_acctbal AS DECIMAL(18,6)) AS bal
                 FROM customer WHERE c_custkey % 10 <> 3),
    src AS (SELECT c_custkey AS k,
                   CAST(c_acctbal AS DECIMAL(18,6)) + 100 AS bal,
                   c_custkey % 3 = 0 AS is_del
            FROM customer WHERE c_custkey % 7 = 0),
    m AS (SELECT t.k,
                 CASE WHEN s.k IS NOT NULL THEN s.bal ELSE t.bal END AS bal,
                 COALESCE(s.is_del, FALSE) AS del
          FROM tgt t LEFT JOIN src s ON t.k = s.k
          UNION ALL
          SELECT s.k, s.bal, s.is_del
          FROM src s LEFT JOIN tgt t ON s.k = t.k WHERE t.k IS NULL)
    SELECT k AS c_custkey, round(CAST(bal AS DOUBLE), 2) AS bal
    FROM m WHERE NOT del
    """,
)
def p_merge_into(spark, sf_dir):
    from ..streaming.sinks import read_sink

    out = _merge_store(spark, sf_dir)
    return read_sink(spark, out).select(
        "c_custkey", F.round(F.col("bal").cast("double"), 2).alias("bal")
    )


# ---------------------------------------------------------------------------
# Round-10 (cont. 3): causal-inference family — stratified subclass ATE
# and difference-in-differences, both closed-form (no fitted model).
# ---------------------------------------------------------------------------

_TREATED_SQL = "o_orderpriority IN ('1-URGENT', '2-HIGH')"


@_register(
    "x_stratified_ate",
    "stratified average-treatment-effect (exact subclass adjustment): "
    "urgent-priority orders as 'treatment', order value as outcome, "
    "customer nation as the confounding stratum — ONE conditional "
    "groupBy(stratum) pass, per-stratum mean gaps pinned to scaled "
    "BIGINTs and folded in an exact DECIMAL sum; one-armed strata are "
    "DROPPED AND COUNTED, never imputed; the naive diff and implied "
    "bias ride the same row (north-star)",
    f"""
    WITH f AS (SELECT c_nationkey AS s,
                      CASE WHEN {_TREATED_SQL} THEN 1 ELSE 0 END AS t,
                      CAST(o_totalprice AS DECIMAL(18,6)) AS y
               FROM orders JOIN customer ON o_custkey = c_custkey),
    g AS (SELECT s, COUNT(*) AS n_s, SUM(t) AS nt,
                 SUM(CASE WHEN t = 1 THEN y END) AS st,
                 SUM(CASE WHEN t = 0 THEN y END) AS sc
          FROM f GROUP BY 1),
    d AS (SELECT *,
                 nt > 0 AND nt < n_s AS two_arm,
                 CAST(floor((CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
                             - CAST(sc AS DOUBLE)
                               / CAST(n_s - nt AS DOUBLE))
                            * 1e6 + 0.5) AS BIGINT) AS diff_sc
          FROM g),
    a AS (SELECT SUM(n_s) AS n,
                 SUM(CASE WHEN two_arm THEN 1 ELSE 0 END) AS used,
                 SUM(CASE WHEN NOT two_arm THEN 1 ELSE 0 END) AS dropped,
                 SUM(CASE WHEN two_arm THEN
                       CAST(n_s AS DECIMAL(19,0)) * diff_sc END) AS ate_s,
                 SUM(CASE WHEN two_arm THEN n_s END) AS n_used,
                 SUM(st) AS st_all, SUM(nt) AS nt_all, SUM(sc) AS sc_all
          FROM d),
    c AS (SELECT n, used, dropped,
                 CAST(ate_s AS DOUBLE)
                   / (CAST(n_used AS DOUBLE) * 1e6) AS ate,
                 CAST(st_all AS DOUBLE) / NULLIF(CAST(nt_all AS DOUBLE), 0.0)
                   - CAST(sc_all AS DOUBLE)
                     / NULLIF(CAST(n - nt_all AS DOUBLE), 0.0) AS naive
          FROM a)
    SELECT CAST(n AS BIGINT) AS n, CAST(used AS BIGINT) AS n_strata_used,
           CAST(dropped AS BIGINT) AS n_strata_dropped,
           round(ate, 6) AS ate, round(naive, 6) AS naive_diff,
           round(naive - ate, 6) AS bias
    FROM c
    """,
)
def x_stratified_ate(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    fact = od.join(F.broadcast(cust), od.o_custkey == cust.c_custkey)
    return _ml.stratified_ate(
        fact,
        "c_nationkey",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
        "o_totalprice",
    )


_DID_POST = "1998-07-01"


@_register(
    "x_did",
    "difference-in-differences: BUILDING-segment customers as the "
    "treated group, orders from 1998-07-01 as the post period — the "
    "2x2 cell means from ONE conditional-aggregate pass over exact "
    "DECIMAL sums, DiD = (t_post - t_pre) - (c_post - c_pre); the "
    "parallel-trends counterfactual made explicit as a single row "
    "(north-star)",
    f"""
    WITH f AS (SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0
                      END AS grp,
                      CASE WHEN CAST(o_orderdate AS DATE)
                                >= DATE '{_DID_POST}' THEN 1 ELSE 0
                      END AS post,
                      CAST(o_totalprice AS DECIMAL(18,6)) AS y
               FROM orders JOIN customer ON o_custkey = c_custkey),
    a AS (SELECT
            SUM(CASE WHEN grp = 1 AND post = 1 THEN y END) AS s_tp,
            SUM(CASE WHEN grp = 1 AND post = 1 THEN 1 ELSE 0 END) AS n_tp,
            SUM(CASE WHEN grp = 1 AND post = 0 THEN y END) AS s_t0,
            SUM(CASE WHEN grp = 1 AND post = 0 THEN 1 ELSE 0 END) AS n_t0,
            SUM(CASE WHEN grp = 0 AND post = 1 THEN y END) AS s_cp,
            SUM(CASE WHEN grp = 0 AND post = 1 THEN 1 ELSE 0 END) AS n_cp,
            SUM(CASE WHEN grp = 0 AND post = 0 THEN y END) AS s_c0,
            SUM(CASE WHEN grp = 0 AND post = 0 THEN 1 ELSE 0 END) AS n_c0
          FROM f),
    m AS (SELECT CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE) AS m_tp,
                 CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE) AS m_t0,
                 CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE) AS m_cp,
                 CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE) AS m_c0,
                 n_tp, n_t0, n_cp, n_c0
          FROM a)
    SELECT CAST(n_tp AS BIGINT) AS n_treated_post,
           CAST(n_t0 AS BIGINT) AS n_treated_pre,
           CAST(n_cp AS BIGINT) AS n_control_post,
           CAST(n_c0 AS BIGINT) AS n_control_pre,
           round(m_tp, 4) AS mean_treated_post,
           round(m_t0, 4) AS mean_treated_pre,
           round(m_cp, 4) AS mean_control_post,
           round(m_c0, 4) AS mean_control_pre,
           round((m_tp - m_t0) - (m_cp - m_c0), 6) AS did
    FROM m
    """,
)
def x_did(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    f = od.join(F.broadcast(cust), od.o_custkey == cust.c_custkey).select(
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias(
            "grp"
        ),
        F.when(
            F.to_date("o_orderdate") >= F.lit(_DID_POST).cast("date"), 1
        ).otherwise(0).alias("post"),
        F.col("o_totalprice").cast("decimal(18,6)").alias("y"),
    )

    def _cell(gv, pv):
        c = (F.col("grp") == gv) & (F.col("post") == pv)
        return (
            F.sum(F.when(c, F.col("y"))),
            F.sum(F.when(c, 1).otherwise(0)),
        )

    s_tp, n_tp = _cell(1, 1)
    s_t0, n_t0 = _cell(1, 0)
    s_cp, n_cp = _cell(0, 1)
    s_c0, n_c0 = _cell(0, 0)
    a = f.groupBy().agg(
        s_tp.alias("s_tp"), n_tp.alias("n_tp"),
        s_t0.alias("s_t0"), n_t0.alias("n_t0"),
        s_cp.alias("s_cp"), n_cp.alias("n_cp"),
        s_c0.alias("s_c0"), n_c0.alias("n_c0"),
    )
    m_tp = F.col("s_tp").cast("double") / F.col("n_tp").cast("double")
    m_t0 = F.col("s_t0").cast("double") / F.col("n_t0").cast("double")
    m_cp = F.col("s_cp").cast("double") / F.col("n_cp").cast("double")
    m_c0 = F.col("s_c0").cast("double") / F.col("n_c0").cast("double")
    return a.select(
        F.col("n_tp").cast("long").alias("n_treated_post"),
        F.col("n_t0").cast("long").alias("n_treated_pre"),
        F.col("n_cp").cast("long").alias("n_control_post"),
        F.col("n_c0").cast("long").alias("n_control_pre"),
        F.round(m_tp, 4).alias("mean_treated_post"),
        F.round(m_t0, 4).alias("mean_treated_pre"),
        F.round(m_cp, 4).alias("mean_control_post"),
        F.round(m_c0, 4).alias("mean_control_pre"),
        F.round((m_tp - m_t0) - (m_cp - m_c0), 6).alias("did"),
    )


# ---------------------------------------------------------------------------
# Round-10 (cont. 4): graph distribution diagnostics — heavy-tail fit and
# degree assortativity, both closed-form single aggregates.
# ---------------------------------------------------------------------------

_PL_DMIN = 2


@_register(
    "x_degree_powerlaw",
    "Hill/Clauset MLE power-law exponent of the co-supply degree "
    "distribution (alpha = 1 + n / sum ln(d/dmin), tail d >= dmin): "
    "the is-this-graph-heavy-tailed diagnostic that decides whether "
    "hub-skew mitigations (salting, wedge orientation) are needed — "
    "one degree groupBy + one scalar aggregate; lns pinned to scaled "
    "BIGINTs so the tail fold is exact and order-free (north-star)",
    f"""
    WITH e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s
                FROM lineitem),
    edges AS (SELECT 'p:' || CAST(p AS VARCHAR) AS src,
                     's:' || CAST(s AS VARCHAR) AS dst FROM e0
              UNION ALL SELECT 's:' || CAST(s AS VARCHAR),
                               'p:' || CAST(p AS VARCHAR) FROM e0),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY 1),
    tail AS (SELECT d,
                    CAST(floor(ln(CAST(d AS DOUBLE) / {_PL_DMIN}.0)
                               * 1e9 + 0.5) AS BIGINT) AS lnsc
             FROM deg WHERE d >= {_PL_DMIN}),
    a AS (SELECT COUNT(*) AS n, SUM(lnsc) AS s, MAX(d) AS dmax FROM tail)
    SELECT CAST(n AS BIGINT) AS n_tail, {_PL_DMIN} AS dmin,
           CAST(dmax AS BIGINT) AS d_max,
           round(1.0 + CAST(n AS DOUBLE)
                 / NULLIF(CAST(s AS DOUBLE) / 1e9, 0.0), 6) AS alpha
    FROM a
    """,
)
def x_degree_powerlaw(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    p = F.concat(F.lit("p:"), F.col("p").cast("string"))
    s = F.concat(F.lit("s:"), F.col("s").cast("string"))
    edges = e0.select(p.alias("src"), s.alias("dst")).unionAll(
        e0.select(s.alias("src"), p.alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    tail = deg.filter(F.col("d") >= _PL_DMIN).select(
        "d",
        F.floor(
            F.log(F.col("d").cast("double") / F.lit(float(_PL_DMIN)))
            * F.lit(1e9) + F.lit(0.5)
        ).cast("long").alias("lnsc"),
    )
    a = tail.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lnsc").alias("s"),
        F.max("d").alias("dmax"),
    )
    return a.select(
        F.col("n").cast("long").alias("n_tail"),
        F.lit(_PL_DMIN).alias("dmin"),
        F.col("dmax").cast("long").alias("d_max"),
        F.round(
            F.lit(1.0)
            + F.col("n").cast("double")
            / F.nullif(F.col("s").cast("double") / F.lit(1e9), F.lit(0.0)),
            6,
        ).alias("alpha"),
    )


@_register(
    "x_assortativity",
    "degree assortativity (Newman r): Pearson correlation of endpoint "
    "degrees over every directed edge of the symmetrized co-supply "
    "graph — do hubs attach to hubs? Two keyed degree joins + ONE "
    "sufficient-statistic aggregate (exact BIGINT sums, closed form in "
    "deterministic doubles, the ols_trend recipe) (north-star)",
    """
    WITH e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s
                FROM lineitem),
    edges AS (SELECT 'p:' || CAST(p AS VARCHAR) AS src,
                     's:' || CAST(s AS VARCHAR) AS dst FROM e0
              UNION ALL SELECT 's:' || CAST(s AS VARCHAR),
                               'p:' || CAST(p AS VARCHAR) FROM e0),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY 1),
    pairs AS (SELECT du.d AS x, dv.d AS y
              FROM edges e
              JOIN deg du ON du.node = e.src
              JOIN deg dv ON dv.node = e.dst),
    st AS (SELECT COUNT(*) AS m, SUM(x) AS sx, SUM(y) AS sy,
                  SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
           FROM pairs),
    c AS (SELECT m,
                 CAST(m AS DOUBLE) AS md, CAST(sx AS DOUBLE) AS sxd,
                 CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
                 CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
          FROM st)
    SELECT CAST(m AS BIGINT) AS m_edges,
           round((md * sxyd - sxd * syd)
                 / NULLIF(sqrt((md * sxxd - sxd * sxd)
                               * (md * syyd - syd * syd)), 0.0),
                 6) AS r
    FROM c
    """,
)
def x_assortativity(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    p = F.concat(F.lit("p:"), F.col("p").cast("string"))
    s = F.concat(F.lit("s:"), F.col("s").cast("string"))
    edges = e0.select(p.alias("src"), s.alias("dst")).unionAll(
        e0.select(s.alias("src"), p.alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    du = deg.select(F.col("node").alias("src"), F.col("d").alias("x"))
    dv = deg.select(F.col("node").alias("dst"), F.col("d").alias("y"))
    pairs = edges.join(du, "src").join(dv, "dst").select("x", "y")
    st = pairs.groupBy().agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    md = F.col("m").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    syyd = F.col("syy").cast("double")
    return st.select(
        F.col("m").cast("long").alias("m_edges"),
        F.round(
            (md * sxyd - sxd * syd)
            / F.nullif(
                F.sqrt((md * sxxd - sxd * sxd) * (md * syyd - syd * syd)),
                F.lit(0.0),
            ),
            6,
        ).alias("r"),
    )


# ---------------------------------------------------------------------------
# Round-10 (cont. 5): chi-square independence (the NHST complement of
# x_mutual_info) and hierarchical group-mean imputation.
# ---------------------------------------------------------------------------


@_register(
    "x_chi2_independence",
    "chi-square test of independence on the brand x returned-line "
    "contingency table, with Cramer's V effect size: one joint "
    "groupBy + marginal windows (the x_mutual_info topology); each "
    "cell's (o-e)^2/e term is a deterministic double pinned to a "
    "scaled BIGINT before the fold, so the cell sum is exact and "
    "order-free (north-star)",
    """
    WITH f AS (SELECT p_brand AS x, l_returnflag AS y
               FROM lineitem JOIN part ON l_partkey = p_partkey),
    j AS (SELECT x, y, COUNT(*) AS cxy FROM f GROUP BY 1, 2),
    m AS (SELECT x, y, cxy,
                 SUM(cxy) OVER (PARTITION BY x) AS cx,
                 SUM(cxy) OVER (PARTITION BY y) AS cy,
                 SUM(cxy) OVER () AS n
          FROM j),
    t AS (SELECT n, cxy,
                 CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)
                   / CAST(n AS DOUBLE) AS e,
                 x, y
          FROM m),
    sc AS (SELECT n, x, y,
                  CAST(floor((CAST(cxy AS DOUBLE) - e)
                             * (CAST(cxy AS DOUBLE) - e) / e
                             * 1e9 + 0.5) AS BIGINT) AS term_sc
           FROM t),
    a AS (SELECT MAX(n) AS n, SUM(term_sc) AS s,
                 COUNT(DISTINCT x) AS r, COUNT(DISTINCT y) AS c
          FROM sc)
    SELECT CAST(n AS BIGINT) AS n,
           CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
           round(CAST(s AS DOUBLE) / 1e9, 6) AS chi2,
           round(sqrt(CAST(s AS DOUBLE) / 1e9
                      / (CAST(n AS DOUBLE)
                         * least(r - 1, c - 1))), 6) AS cramers_v
    FROM a
    """,
)
def x_chi2_independence(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(
            F.col("p_brand").alias("x"), F.col("l_returnflag").alias("y")
        )
        .agg(F.count(F.lit(1)).alias("cxy"))
    )
    m = (
        j.withColumn("cx", F.sum("cxy").over(Window.partitionBy("x")))
        .withColumn("cy", F.sum("cxy").over(Window.partitionBy("y")))
        .crossJoin(F.broadcast(j.groupBy().agg(F.sum("cxy").alias("n"))))
    )
    e = (
        F.col("cx").cast("double") * F.col("cy").cast("double")
        / F.col("n").cast("double")
    )
    o = F.col("cxy").cast("double")
    term_sc = F.floor((o - e) * (o - e) / e * F.lit(1e9) + F.lit(0.5)).cast(
        "long"
    )
    a = m.select("n", "x", "y", term_sc.alias("term_sc")).groupBy().agg(
        F.max("n").alias("n"),
        F.sum("term_sc").alias("s"),
        F.countDistinct("x").alias("r"),
        F.countDistinct("y").alias("c"),
    )
    chi2 = F.col("s").cast("double") / F.lit(1e9)
    return a.select(
        F.col("n").cast("long").alias("n"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.sqrt(
                chi2
                / (F.col("n").cast("double")
                   * F.least(F.col("r") - 1, F.col("c") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


@_register(
    "x_impute_hierarchical",
    "hierarchical group-mean imputation with fallback (cell mean -> "
    "feature mean -> global mean): rows masked deterministically "
    "(event_id%7==0) get their value imputed from OBSERVED rows only; "
    "the summary counts which fallback level filled each row — three "
    "tiny broadcast mean tables against one scan, per-row imputed "
    "values pinned to scaled BIGINTs for an order-free average "
    "(north-star)",
    """
    WITH base AS (SELECT event_type AS et,
                         CAST(strftime(ts, '%H') AS INT) AS hr,
                         value AS v,
                         event_id % 7 = 0 AS miss
                  FROM events),
    l1 AS (SELECT et, hr,
                  CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
                    / COUNT(*) AS m1
           FROM base WHERE NOT miss GROUP BY 1, 2),
    l2 AS (SELECT et,
                  CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
                    / COUNT(*) AS m2
           FROM base WHERE NOT miss GROUP BY 1),
    l3 AS (SELECT CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
                    / COUNT(*) AS m3
           FROM base WHERE NOT miss),
    mrows AS (SELECT b.et,
                     CASE WHEN m1 IS NOT NULL THEN 1
                          WHEN m2 IS NOT NULL THEN 2
                          ELSE 3 END AS lvl,
                     CAST(floor(COALESCE(m1, m2, m3) * 1e6 + 0.5)
                          AS BIGINT) AS imp_sc
              FROM base b
              LEFT JOIN l1 ON l1.et = b.et AND l1.hr = b.hr
              LEFT JOIN l2 ON l2.et = b.et
              CROSS JOIN l3
              WHERE b.miss)
    SELECT et AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_missing,
           CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cell_fill,
           CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_feature_fill,
           CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_global_fill,
           round(CAST(SUM(imp_sc) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 1e6), 6) AS avg_imputed
    FROM mrows GROUP BY 1
    """,
)
def x_impute_hierarchical(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_type").alias("et"),
        F.date_format("ts", "HH").cast("int").alias("hr"),
        F.col("value").alias("v"),
        (F.col("event_id") % 7 == 0).alias("miss"),
    )
    obs = base.filter(~F.col("miss"))
    dec = F.col("v").cast("decimal(18,6)")
    l1 = obs.groupBy("et", "hr").agg(
        (F.sum(dec).cast("double") / F.count(F.lit(1))).alias("m1")
    )
    l2 = obs.groupBy("et").agg(
        (F.sum(dec).cast("double") / F.count(F.lit(1))).alias("m2")
    )
    l3 = obs.groupBy().agg(
        (F.sum(dec).cast("double") / F.count(F.lit(1))).alias("m3")
    )
    miss = (
        base.filter(F.col("miss"))
        .join(F.broadcast(l1), ["et", "hr"], "left")
        .join(F.broadcast(l2), ["et"], "left")
        .crossJoin(F.broadcast(l3))
    )
    lvl = (
        F.when(F.col("m1").isNotNull(), 1)
        .when(F.col("m2").isNotNull(), 2)
        .otherwise(3)
    )
    imp_sc = F.floor(
        F.coalesce("m1", "m2", "m3") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    return (
        miss.select("et", lvl.alias("lvl"), imp_sc.alias("imp_sc"))
        .groupBy(F.col("et").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_missing"),
            F.sum(F.when(F.col("lvl") == 1, 1).otherwise(0))
            .cast("long").alias("n_cell_fill"),
            F.sum(F.when(F.col("lvl") == 2, 1).otherwise(0))
            .cast("long").alias("n_feature_fill"),
            F.sum(F.when(F.col("lvl") == 3, 1).otherwise(0))
            .cast("long").alias("n_global_fill"),
            F.round(
                F.sum("imp_sc").cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(1e6)),
                6,
            ).alias("avg_imputed"),
        )
    )


@_register(
    "x_cate_by_stratum",
    "conditional (per-stratum) average treatment effects — the "
    "heterogeneous-effects table behind x_stratified_ate's scalar: "
    "one conditional groupBy(stratum) pass; one-armed strata surface "
    "with NULL effect and their arm counts, never silently dropped "
    "(north-star)",
    f"""
    WITH f AS (SELECT c_nationkey AS stratum,
                      CASE WHEN {_TREATED_SQL} THEN 1 ELSE 0 END AS t,
                      CAST(o_totalprice AS DECIMAL(18,6)) AS y
               FROM orders JOIN customer ON o_custkey = c_custkey),
    g AS (SELECT stratum, COUNT(*) AS n_s, SUM(t) AS nt,
                 SUM(CASE WHEN t = 1 THEN y END) AS st,
                 SUM(CASE WHEN t = 0 THEN y END) AS sc
          FROM f GROUP BY 1)
    SELECT stratum, CAST(nt AS BIGINT) AS n_treated,
           CAST(n_s - nt AS BIGINT) AS n_control,
           CASE WHEN nt > 0 AND nt < n_s THEN
             round(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
                   - CAST(sc AS DOUBLE) / CAST(n_s - nt AS DOUBLE), 6)
           END AS effect
    FROM g
    """,
)
def x_cate_by_stratum(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    t = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    y = F.col("o_totalprice").cast("decimal(18,6)")
    g = (
        od.join(F.broadcast(cust), od.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("stratum"))
        .agg(
            F.count(F.lit(1)).alias("n_s"),
            F.sum(t).alias("nt"),
            F.sum(F.when(t == 1, y)).alias("st"),
            F.sum(F.when(t == 0, y)).alias("sc"),
        )
    )
    two_arm = (F.col("nt") > 0) & (F.col("nt") < F.col("n_s"))
    eff = F.round(
        F.col("st").cast("double") / F.col("nt").cast("double")
        - F.col("sc").cast("double")
        / (F.col("n_s") - F.col("nt")).cast("double"),
        6,
    )
    return g.select(
        "stratum",
        F.col("nt").cast("long").alias("n_treated"),
        (F.col("n_s") - F.col("nt")).cast("long").alias("n_control"),
        F.when(two_arm, eff).alias("effect"),
    )


@_register(
    "x_kaplan_meier_by_segment",
    "segment-keyed Kaplan-Meier: one survival curve per market "
    "segment over reorder gaps — the keyed variant needs NO prefix-sum "
    "machinery because every running quantity is a SEGMENT-partitioned "
    "window (parallel by key, the house-legal window shape); same "
    "scaled-BIGINT ln accumulation as the global curve (north-star)",
    """
    WITH o AS (SELECT c_mktsegment AS seg, o_custkey AS ck,
                      CAST(o_orderdate AS DATE) AS d, o_orderkey AS okey
               FROM orders JOIN customer ON o_custkey = c_custkey),
    mx AS (SELECT MAX(d) AS maxd FROM o),
    dur AS (SELECT seg,
                   CASE WHEN nd IS NULL THEN datediff('day', d, maxd)
                        ELSE datediff('day', d, nd) END AS t,
                   CASE WHEN nd IS NULL THEN 0 ELSE 1 END AS ev
            FROM (SELECT seg, d, lead(d) OVER
                    (PARTITION BY ck ORDER BY d, okey) AS nd FROM o), mx),
    g AS (SELECT seg, t, COUNT(*) AS c, SUM(ev) AS dd
          FROM dur GROUP BY 1, 2),
    cum AS (SELECT seg, t, c, dd,
                   SUM(c) OVER (PARTITION BY seg ORDER BY t
                                ROWS UNBOUNDED PRECEDING) AS cc,
                   SUM(c) OVER (PARTITION BY seg) AS n_tot
            FROM g),
    r AS (SELECT seg, t, dd, n_tot - (cc - c) AS n_risk FROM cum),
    st AS (SELECT seg, t, dd, n_risk,
                  CAST(CASE WHEN dd = 0 THEN 0
                            WHEN dd < n_risk THEN
                              floor(ln(1.0 - CAST(dd AS DOUBLE)
                                             / CAST(n_risk AS DOUBLE))
                                    * 1e9 + 0.5)
                            ELSE 0 END AS BIGINT) AS lnsc,
                  CASE WHEN dd >= n_risk THEN 1 ELSE 0 END AS zf
           FROM r),
    acc AS (SELECT seg, t, dd, n_risk,
                   SUM(lnsc) OVER (PARTITION BY seg ORDER BY t
                                   ROWS UNBOUNDED PRECEDING) AS lc,
                   SUM(zf) OVER (PARTITION BY seg ORDER BY t
                                 ROWS UNBOUNDED PRECEDING) AS zc
            FROM st)
    SELECT seg AS segment, CAST(t AS INT) AS t,
           CAST(n_risk AS BIGINT) AS n_risk, CAST(dd AS BIGINT) AS d_events,
           round(CASE WHEN zc > 0 THEN 0.0
                      ELSE exp(CAST(lc AS DOUBLE) / 1e9) END, 6) AS survival
    FROM acc WHERE dd > 0
    """,
)
def x_kaplan_meier_by_segment(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = od.join(F.broadcast(cust), od.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_custkey").alias("ck"),
        F.to_date("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("okey"),
    )
    wl = Window.partitionBy("ck").orderBy("d", "okey")
    mx = o.groupBy().agg(F.max("d").alias("maxd"))
    dur = (
        o.select("seg", "d", F.lead("d").over(wl).alias("nd"))
        .crossJoin(F.broadcast(mx))
        .select(
            "seg",
            F.when(F.col("nd").isNull(), F.datediff("maxd", "d"))
            .otherwise(F.datediff("nd", "d")).alias("t"),
            F.when(F.col("nd").isNull(), 0).otherwise(1).alias("ev"),
        )
    )
    g = dur.groupBy("seg", "t").agg(
        F.count(F.lit(1)).alias("c"), F.sum("ev").alias("dd")
    )
    wseg = Window.partitionBy("seg").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = g.withColumn("cc", F.sum("c").over(wseg)).withColumn(
        "n_tot", F.sum("c").over(Window.partitionBy("seg"))
    )
    n_risk = F.col("n_tot") - (F.col("cc") - F.col("c"))
    frac = F.col("dd").cast("double") / n_risk.cast("double")
    lnsc = (
        F.when(F.col("dd") == 0, F.lit(0))
        .when(
            F.col("dd") < n_risk,
            F.floor(F.log(F.lit(1.0) - frac) * F.lit(1e9) + F.lit(0.5)),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    zf = F.when(F.col("dd") >= n_risk, 1).otherwise(0).cast("long")
    st = cum.select(
        "seg", "t", "dd", n_risk.alias("n_risk"),
        lnsc.alias("lnsc"), zf.alias("zf"),
    )
    acc = st.withColumn("lc", F.sum("lnsc").over(wseg)).withColumn(
        "zc", F.sum("zf").over(wseg)
    )
    surv = F.when(F.col("zc") > 0, F.lit(0.0)).otherwise(
        F.exp(F.col("lc").cast("double") / F.lit(1e9))
    )
    return acc.filter(F.col("dd") > 0).select(
        F.col("seg").alias("segment"),
        F.col("t").cast("int").alias("t"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("dd").cast("long").alias("d_events"),
        F.round(surv, 6).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Suffix-grade pairwise substring dedup, keyset pagination, distributed
# BPE training.
# ---------------------------------------------------------------------------


def _suffix_spans_sql(k: int, min_len: int, max_df: int | None,
                      grams_cte: str = "grams") -> str:
    """The diagonal-run span SQL shared by the pairs entry and the
    recall grader: matches -> per-(pair, diag) islands -> maximal runs
    >= min_len. Emits CTE bodies to splice after a ``grams`` CTE."""
    src = grams_cte if max_df is None else f"anch_{grams_cte}"
    cap = (
        ""
        if max_df is None
        else (
            f"keep_{grams_cte} AS (SELECT g FROM {grams_cte} GROUP BY g "
            f"HAVING count(*) <= {max_df}),\n"
            f"anch_{grams_cte} AS (SELECT doc_id, g, pos FROM {grams_cte} "
            f"JOIN keep_{grams_cte} USING (g)),\n"
        )
    )
    return (
        cap
        + f"""m_{src} AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
          FROM {src} a JOIN {src} b ON a.g = b.g AND a.doc_id < b.doc_id),
    i_{src} AS (SELECT doc_a, doc_b, diag, pa, pb,
                 CASE WHEN lag(pa) OVER w IS NULL OR pa > lag(pa) OVER w + {k}
                      THEN 1 ELSE 0 END AS nr
          FROM m_{src} WINDOW w AS (PARTITION BY doc_a, doc_b, diag ORDER BY pa)),
    r_{src} AS (SELECT *, sum(nr) OVER (PARTITION BY doc_a, doc_b, diag
                                        ORDER BY pa ROWS UNBOUNDED PRECEDING)
                       AS run_id
          FROM i_{src}),
    sp_{src} AS (SELECT doc_a, doc_b, min(pa) AS a_start,
                        max(pa) + {k - 1} AS a_end,
                        min(pb) AS b_start, max(pb) + {k - 1} AS b_end,
                        max(pa) - min(pa) + {k} AS span_len
          FROM r_{src} GROUP BY doc_a, doc_b, diag, run_id
          HAVING max(pa) - min(pa) + {k} >= {min_len})"""
    )


_SUFFIX_GRAMS_SQL = f"""toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    gl AS (SELECT doc_id,
                  [md5(array_to_string(t[i:i+7], ' ')) FOR i IN range(1, len(t) - 6)] AS gs
           FROM toks WHERE len(t) >= 8),
    grams AS (SELECT doc_id, unnest(gs) AS g,
                     unnest(range(1, len(gs) + 1)) AS pos
              FROM gl)"""


@_register(
    "x_suffix_span_pairs",
    "PAIRWISE maximal common token substrings (Lee et al. 2021 "
    "suffix-array-grade substring dedup, distributed): sorted-k-mer "
    "anchors, df-capped, one gram-keyed shuffle self-join, diagonal "
    "gaps-and-islands run merge — exact variable-length shared spans "
    ">= min_len with no window alignment; closes the x_dup_spans "
    "windowed-signal gap (north-star). Bench headline since r12 "
    "(VERDICT r11 #5): the repo's most expensive graded operator.",
    f"""
    WITH {_SUFFIX_GRAMS_SQL},
    {_suffix_spans_sql(k=8, min_len=16, max_df=64)}
    SELECT doc_a, doc_b, a_start, a_end, b_start, b_end,
           CAST(span_len AS BIGINT) AS span_len
    FROM sp_anch_grams
    """,
    bench=True,
)
def x_suffix_span_pairs(spark, sf_dir):
    out = _dd.suffix_span_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        k=8, min_len=16, max_df=64,
    )
    return out.withColumn("span_len", F.col("span_len").cast("long"))


@_register(
    "x_suffix_recall",
    "what the anchor df-cap costs suffix_span_pairs, as numbers: "
    "ground truth = the UNCAPPED exact run, measured = cap 8; recall on "
    "distinct doc pairs AND duplicated token mass (a cap that keeps "
    "pairs but truncates spans still under-scrubs) — the "
    "x_minhash_recall grader discipline on the suffix path (north-star)",
    f"""
    WITH {_SUFFIX_GRAMS_SQL},
    {_suffix_spans_sql(k=8, min_len=16, max_df=None)},
    {_suffix_spans_sql(k=8, min_len=16, max_df=8)},
    tp AS (SELECT DISTINCT doc_a, doc_b FROM sp_grams),
    fp AS (SELECT DISTINCT doc_a, doc_b FROM sp_anch_grams),
    hit AS (SELECT * FROM tp WHERE EXISTS
            (SELECT 1 FROM fp WHERE fp.doc_a = tp.doc_a AND fp.doc_b = tp.doc_b))
    SELECT (SELECT count(*) FROM tp) AS n_truth_pairs,
           (SELECT count(*) FROM hit) AS n_found_pairs,
           floor((SELECT count(*) FROM hit) * 1.0
                 / NULLIF((SELECT count(*) FROM tp), 0) * 1e4 + 0.5) / 1e4
             AS pair_recall,
           (SELECT CAST(coalesce(sum(span_len), 0) AS BIGINT) FROM sp_grams)
             AS truth_token_mass,
           (SELECT CAST(coalesce(sum(span_len), 0) AS BIGINT) FROM sp_anch_grams)
             AS found_token_mass,
           floor((SELECT coalesce(sum(span_len), 0) FROM sp_anch_grams) * 1.0
                 / NULLIF((SELECT coalesce(sum(span_len), 0) FROM sp_grams), 0)
                 * 1e4 + 0.5) / 1e4
             AS mass_recall
    """,
)
def x_suffix_recall(spark, sf_dir):
    return _dd.suffix_span_recall(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        k=8, min_len=16, max_df=8,
    )


@_register(
    "q_detail_keyset",
    "keyset (ES search_after) pagination: page 2 reproduced from page "
    "1's last row as a FILTER cursor instead of an offset re-sort — "
    "oracle is the OFFSET form, so the hash match IS the page-k "
    "equivalence proof (serving.detail_by_item_keyset; "
    "PublisherServiceImpl.java:41-47 deep-page fix)",
    f"""
    SELECT doc_id, n_chars, {_DOC_HL_SQL} AS sku_name
    FROM documents WHERE {_DOC_MATCH_SQL}
    ORDER BY n_chars DESC, doc_id LIMIT 20 OFFSET 20
    """,
)
def q_detail_keyset(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    matched = docs.filter(text_match(F.col("text"), ITEM_QUERY))
    cursor = (
        matched.orderBy(F.col("n_chars").desc(), "doc_id")
        .offset(19)
        .limit(1)
        .select(F.col("n_chars").alias("__c"), F.col("doc_id").alias("__d"))
    )
    return (
        matched.join(F.broadcast(cursor))
        .filter(
            (F.col("n_chars") < F.col("__c"))
            | ((F.col("n_chars") == F.col("__c")) & (F.col("doc_id") > F.col("__d")))
        )
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .limit(20)
        .select(
            "doc_id", "n_chars",
            highlight(F.col("text"), ITEM_QUERY).alias("sku_name"),
        )
    )


def _bpe_train_oracle_sql(k: int) -> str:
    """Static k-round BPE training as chained DuckDB CTEs: round r =
    pair-count aggregate over state r-1 -> 1-row argmax (count DESC,
    pair ASC) -> greedy-left fold with the winner CAPTURED by the
    reduce lambda from the cross-joined 1-row CTE. No loops, no
    procedural SQL — the same declarative shape the Spark trainer runs
    round-by-round."""
    parts = [
        f"WITH s0 AS (SELECT {_TOKS_SQL} AS s FROM documents "
        f"WHERE len({_TOKS_SQL}) > 1)"
    ]
    for r in range(1, k + 1):
        prev = f"s{r - 1}"
        parts.append(
            f"p{r} AS (SELECT u.pr[1] AS l, u.pr[2] AS r, count(*) AS c "
            f"FROM {prev}, unnest([[s[i], s[i+1]] FOR i IN range(1, len(s))]) "
            f"AS u(pr) GROUP BY 1, 2)"
        )
        parts.append(
            f"m{r} AS (SELECT l, r, c FROM p{r} ORDER BY c DESC, l, r LIMIT 1)"
        )
        if r < k:
            parts.append(
                f"s{r} AS (SELECT reduce(list_transform(s, x -> [x]), "
                f"(acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.l "
                f"AND x[1] = m.r "
                f"THEN list_append(acc[1:len(acc)-1], m.l || '+' || m.r) "
                f"ELSE list_append(acc, x[1]) END) AS s FROM {prev}, m{r} m)"
            )
    union = "\nUNION ALL ".join(
        f"SELECT {r} AS merge_rank, l AS merge_left, r AS merge_right, "
        f"CAST(c AS BIGINT) AS pair_count FROM m{r}"
        for r in range(1, k + 1)
    )
    return ",\n    ".join(parts) + "\n    " + union


# Distributed-BPE memo: training is 8 sequential Spark rounds; repeated
# catalog runs in one process (check_oracle, bench warmups) reuse the
# learned table instead of re-training. Keyed by applicationId so a new
# session (new data, restarted JVM) retrains; on insert, keys from any
# OTHER application are evicted so a long-lived process that restarts
# Spark sessions never accumulates dead collected merge tables.
_BPE_TRAIN_MEMO: dict = {}


@_register(
    "x_bpe_train",
    "BPE TRAINING as a Spark job (closes the model-frozen tokenizer "
    "gap: x_bpe_segment applies 8 frozen merges; here the merges are "
    "LEARNED distributed): each round one map-side-combinable "
    "adjacent-pair count aggregate + 1-row argmax + narrow greedy-left "
    "fold — rounds are aggregates, never all-pairs; oracle replays the "
    "identical 8 rounds as chained DuckDB CTEs with the argmax captured "
    "by the fold lambda (north-star)",
    _bpe_train_oracle_sql(8),
)
def x_bpe_train(spark, sf_dir):
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir)
    if key not in _BPE_TRAIN_MEMO:
        for stale in [k for k in _BPE_TRAIN_MEMO if k[0] != app_id]:
            del _BPE_TRAIN_MEMO[stale]
        toks = _t(spark, sf_dir, "documents").select(
            "doc_id",
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
            ).alias("t"),
        )
        out = _bpe.train_merges_distributed(toks, "t", n_merges=8)
        _BPE_TRAIN_MEMO[key] = out.collect()
    return spark.createDataFrame(
        _BPE_TRAIN_MEMO[key],
        "merge_rank int, merge_left string, merge_right string, pair_count bigint",
    )


# ---------------------------------------------------------------------------
# The suffix family's apply steps (cross-doc and within-doc scrubs), its
# streaming sequential-ingest twin, and the scrub-on-ingest composition
# of the two.
# ---------------------------------------------------------------------------


_SCRUB_REBUILD_SQL = """
    SELECT c.doc_id,
           coalesce(array_to_string(
             [c.t[i] FOR i IN range(1, len(c.t) + 1)
                     IF NOT list_contains(c.cov, i)], ' '), '') AS clean_text,
           CAST(len(c.t) AS BIGINT) AS n_tokens,
           CAST(len(c.cov) AS BIGINT) AS n_removed
    FROM (SELECT doc_id, t,
                 coalesce(cv.cov, CAST([] AS BIGINT[])) AS cov
          FROM toks LEFT JOIN cov cv USING (doc_id)) AS c
"""


@_register(
    "x_suffix_scrub",
    "one-copy-survives span REMOVAL at suffix precision — the apply "
    "step of x_suffix_span_pairs (Lee et al. 2021 policy on "
    "variable-length spans): per pair span the lower doc id keeps its "
    "copy, the b-side positions union through one sequence-explode, and "
    "an indexed array filter rebuilds the text — only position lists "
    "ever shuffle, never the text (north-star)",
    f"""
    WITH {_SUFFIX_GRAMS_SQL},
    {_suffix_spans_sql(k=8, min_len=16, max_df=64)},
    cov AS (SELECT doc_id, list(p ORDER BY p) AS cov FROM (
              SELECT DISTINCT doc_b AS doc_id,
                     unnest(range(b_start, b_end + 1)) AS p
              FROM sp_anch_grams) GROUP BY doc_id)
    {_SCRUB_REBUILD_SQL}
    """,
)
def x_suffix_scrub(spark, sf_dir):
    out = _dd.suffix_scrub(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        k=8, min_len=16, max_df=64,
    )
    return out.select(
        "doc_id", "clean_text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
    )


def _suffix_self_spans_sql(k: int, min_len: int, max_df: int) -> str:
    """Within-doc variant of _suffix_spans_sql: same-doc anchor pairs at
    pos_a < pos_b, diagonal = repeat distance, same k-gap island merge.
    Emits CTE bodies ending in ``sp_self`` to splice after ``grams``."""
    return f"""keep_self AS (SELECT g FROM grams GROUP BY g
                      HAVING count(*) <= {max_df}),
    anch_self AS (SELECT doc_id, g, pos FROM grams
                  JOIN keep_self USING (g)),
    m_self AS (SELECT a.doc_id, a.pos AS pa, b.pos AS pb,
                      b.pos - a.pos AS dist
               FROM anch_self a JOIN anch_self b
               ON a.g = b.g AND a.doc_id = b.doc_id AND a.pos < b.pos),
    i_self AS (SELECT doc_id, dist, pa, pb,
                      CASE WHEN lag(pa) OVER w IS NULL
                                OR pa > lag(pa) OVER w + {k}
                           THEN 1 ELSE 0 END AS nr
               FROM m_self
               WINDOW w AS (PARTITION BY doc_id, dist ORDER BY pa)),
    r_self AS (SELECT *, sum(nr) OVER (PARTITION BY doc_id, dist
                                       ORDER BY pa ROWS UNBOUNDED PRECEDING)
                      AS run_id
               FROM i_self),
    sp_self AS (SELECT doc_id, dist, min(pa) AS a_start,
                       max(pa) + {k - 1} AS a_end,
                       min(pb) AS b_start, max(pb) + {k - 1} AS b_end,
                       max(pa) - min(pa) + {k} AS span_len
                FROM r_self GROUP BY doc_id, dist, run_id
                HAVING max(pa) - min(pa) + {k} >= {min_len})"""


@_register(
    "x_suffix_self_scrub",
    "first-occurrence-survives WITHIN-document repeat removal — the "
    "apply step of suffix_self_spans (templated pages repeating their "
    "own paragraphs, generation loops): every repeat occurrence's "
    "b-side positions drop, tandem repeats collapse to their first "
    "min_len-guarded prefix via the covered-position UNION over all "
    "repeat distances (north-star)",
    f"""
    WITH {_SUFFIX_GRAMS_SQL},
    {_suffix_self_spans_sql(k=8, min_len=16, max_df=64)},
    cov AS (SELECT doc_id, list(p ORDER BY p) AS cov FROM (
              SELECT DISTINCT doc_id,
                     unnest(range(b_start, b_end + 1)) AS p
              FROM sp_self) GROUP BY doc_id)
    {_SCRUB_REBUILD_SQL}
    """,
)
def x_suffix_self_scrub(spark, sf_dir):
    out = _dd.suffix_self_scrub(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        k=8, min_len=16, max_df=64,
    )
    return out.select(
        "doc_id", "clean_text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
    )


_SUFFIX_STREAM_BATCHES = 3
_SUFFIX_STREAM_PATHS: dict = {}


def _suffix_stream_store(
    spark, sf_dir: str, compact: bool = False, fanout: int | None = None,
) -> str:
    """3-batch sequential suffix-span ingest over documents, sharded by
    doc_id % 3 — the batch replay of streaming_suffix_scrub: each shard
    runs the stream's own per-batch body (suffix_ingest_batch) as batch
    b. Returns the run root containing decisions/ and clean/.
    applicationId-keyed memo, foreign applications evicted on miss with
    their run roots rmtree'd (the eviction would otherwise leak temp
    dirs until atexit in a session-restarting process).

    ``compact=True`` runs compact_suffix_store after EVERY batch, so
    batch 1 joins the first bucketed generation and batch 2 the
    incrementally re-compacted second — the x_suffix_stream_compacted
    proof that compaction leaves decisions identical. ``fanout``
    additionally selects the LEVELED size-tiered mode (batch 1 joins
    one small generation; the equal-size tiers force a merge, so batch
    2 joins a merged generation) — the x_suffix_stream_leveled proof
    that the O(tail) mode is decision-identical too."""
    from ..streaming.incremental import (
        compact_suffix_store,
        suffix_ingest_batch,
    )

    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, _SUFFIX_STREAM_BATCHES, compact, fanout)
    if key not in _SUFFIX_STREAM_PATHS:
        import atexit
        import os
        import shutil
        import tempfile

        for stale in [k for k in _SUFFIX_STREAM_PATHS if k[0] != app_id]:
            shutil.rmtree(_SUFFIX_STREAM_PATHS[stale], ignore_errors=True)
            del _SUFFIX_STREAM_PATHS[stale]
        root = tempfile.mkdtemp(prefix="spark_suffix_stream_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        store = os.path.join(root, "store")
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        for b in range(_SUFFIX_STREAM_BATCHES):
            suffix_ingest_batch(
                docs.filter(F.col("doc_id") % _SUFFIX_STREAM_BATCHES == b),
                b, store, os.path.join(root, "decisions"),
                os.path.join(root, "clean"),
            )
            if compact:
                compact_suffix_store(spark, store, buckets=8, fanout=fanout)
        _SUFFIX_STREAM_PATHS[key] = root
    return _SUFFIX_STREAM_PATHS[key]


def _suffix_stream_oracle_sql() -> str:
    """Unrolled 3-batch sequential-ingest oracle: batch b's spans are
    computed between batch-b docs and the corpus-so-far (batches < b,
    plus smaller-id batch siblings), with the df-cap evaluated on the
    PREFIX corpus (docs in batches <= b) — exactly
    suffix_batch_against_store's semantics, including the
    prefix-vs-full-corpus cap asymmetry the module docstring calls out."""
    k, min_len, max_df = 8, 16, 64
    ctes = [_SUFFIX_GRAMS_SQL]
    selects = []
    for b in range(_SUFFIX_STREAM_BATCHES):
        ctes += [
            f"""keep{b} AS (SELECT g FROM grams WHERE doc_id % 3 <= {b}
                    GROUP BY g HAVING count(*) <= {max_df})""",
            f"""na{b} AS (SELECT doc_id, pos, g FROM grams
                  JOIN keep{b} USING (g) WHERE doc_id % 3 = {b})""",
            f"""sa{b} AS (SELECT doc_id, pos, g FROM grams
                  JOIN keep{b} USING (g) WHERE doc_id % 3 < {b})""",
            f"""m{b} AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
                 FROM sa{b} a JOIN na{b} b ON a.g = b.g
                 UNION ALL
                 SELECT a.doc_id, b.doc_id, a.pos, b.pos, a.pos - b.pos
                 FROM na{b} a JOIN na{b} b
                 ON a.g = b.g AND a.doc_id < b.doc_id)""",
            f"""i{b} AS (SELECT doc_a, doc_b, diag, pa, pb,
                        CASE WHEN lag(pa) OVER w IS NULL
                                  OR pa > lag(pa) OVER w + {k}
                             THEN 1 ELSE 0 END AS nr
                 FROM m{b} WINDOW w AS
                   (PARTITION BY doc_a, doc_b, diag ORDER BY pa))""",
            f"""r{b} AS (SELECT *, sum(nr) OVER
                   (PARTITION BY doc_a, doc_b, diag ORDER BY pa
                    ROWS UNBOUNDED PRECEDING) AS run_id
                 FROM i{b})""",
            f"""sp{b} AS (SELECT doc_a, doc_b, min(pa) AS a_start,
                         max(pa) + {k - 1} AS a_end,
                         min(pb) AS b_start, max(pb) + {k - 1} AS b_end,
                         max(pa) - min(pa) + {k} AS span_len
                  FROM r{b} GROUP BY doc_a, doc_b, diag, run_id
                  HAVING max(pa) - min(pa) + {k} >= {min_len})""",
        ]
        selects.append(
            f"SELECT CAST({b} AS INT) AS batch_id, doc_a, doc_b, a_start,"
            f" a_end, b_start, b_end, CAST(span_len AS BIGINT) AS span_len"
            f" FROM sp{b}"
        )
    return "WITH " + ",\n    ".join(ctes) + "\n" + " UNION ALL ".join(selects)


@_register(
    "x_suffix_stream",
    "streaming sequential-ingest suffix-span dedup, driver-exposed "
    "(VERDICT r11 #3 — closes the batch-only asymmetry of the suffix "
    "family): three micro-batch shards flow through the IDENTICAL "
    "per-batch body the streaming_suffix_dedup sink runs (anchor-gram "
    "the batch, prefix-corpus df-cap from the gramdf sketch store, "
    "gram-keyed store+sibling join, diagonal run merge, anchors append "
    "to the store) — 'which exact substrings does this NEW doc share "
    "with anything ingested SO FAR', replayed exactly by a "
    "3-batch-unrolled SQL twin (north-star)",
    _suffix_stream_oracle_sql(),
)
def x_suffix_stream(spark, sf_dir):
    import os

    decisions_dir = os.path.join(_suffix_stream_store(spark, sf_dir),
                                 "decisions")
    d = read_batches(spark, decisions_dir, batch_ids(decisions_dir))
    return d.select(
        F.col("batch").cast("int").alias("batch_id"),
        "doc_a", "doc_b", "a_start", "a_end", "b_start", "b_end",
        F.col("span_len").cast("long").alias("span_len"),
    )


@_register(
    "x_suffix_stream_leveled",
    "LEVELED (size-tiered, LSM-style) store compaction equivalence, "
    "driver-exposed: the identical 3-batch sequential suffix ingest as "
    "x_suffix_stream, but compact_suffix_store(fanout=2) folds only "
    "the TAIL into a new bucketed generation after every batch — "
    "O(tail) per fold instead of O(store), the sub-hour-cadence mode — "
    "with equal-size generations forcing a same-tier merge mid-run, so "
    "batch 2 joins a merged generation; decisions are IDENTICAL: the "
    "same 3-batch-unrolled oracle adjudicates flat, full-fold and "
    "leveled ingests alike",
    _suffix_stream_oracle_sql(),
)
def x_suffix_stream_leveled(spark, sf_dir):
    import os

    decisions_dir = os.path.join(
        _suffix_stream_store(spark, sf_dir, compact=True, fanout=2),
        "decisions",
    )
    d = read_batches(spark, decisions_dir, batch_ids(decisions_dir))
    return d.select(
        F.col("batch").cast("int").alias("batch_id"),
        "doc_a", "doc_b", "a_start", "a_end", "b_start", "b_end",
        F.col("span_len").cast("long").alias("span_len"),
    )


def _suffix_stream_scrub_oracle_sql() -> str:
    """Per-batch coverage rebuild on top of the 3-batch span oracle:
    batch b's cov list comes from sp{b}'s b-side intervals (newcomer
    loses); every batch doc passes through, scrubbed or verbatim."""
    base = _suffix_stream_oracle_sql()
    ctes, _tail = base.rsplit("\n", 1)  # strip the span UNION ALL tail
    parts = [ctes]
    selects = []
    for b in range(_SUFFIX_STREAM_BATCHES):
        parts.append(
            f""",
    cov{b} AS (SELECT doc_id, list(p ORDER BY p) AS cov FROM (
          SELECT DISTINCT doc_b AS doc_id,
                 unnest(range(b_start, b_end + 1)) AS p
          FROM sp{b}) GROUP BY doc_id),
    cl{b} AS (SELECT c.doc_id,
           coalesce(array_to_string(
             [c.t[i] FOR i IN range(1, len(c.t) + 1)
                     IF NOT list_contains(c.cov, i)], ' '), '')
             AS clean_text,
           CAST(len(c.t) AS BIGINT) AS n_tokens,
           CAST(len(c.cov) AS BIGINT) AS n_removed
    FROM (SELECT t.doc_id, t.t,
                 coalesce(cv.cov, CAST([] AS BIGINT[])) AS cov
          FROM (SELECT * FROM toks WHERE doc_id % 3 = {b}) t
          LEFT JOIN cov{b} cv USING (doc_id)) AS c)"""
        )
        selects.append(
            f"SELECT CAST({b} AS INT) AS batch_id, doc_id, clean_text,"
            f" n_tokens, n_removed FROM cl{b}"
        )
    return "".join(parts) + "\n" + " UNION ALL ".join(selects)


@_register(
    "x_suffix_stream_scrub",
    "scrub-on-ingest, driver-exposed: the streaming_suffix_scrub "
    "composition — every arriving doc is written back with the token "
    "spans it shares with the corpus-so-far REMOVED (newcomer-loses "
    "ownership in arrival order; incumbents untouched; the store keeps "
    "ORIGINAL anchors so later copies still match full-length) — the "
    "Lee et al. scrub policy in the growing-corpus operating mode, "
    "replayed exactly by the 3-batch span oracle plus per-batch "
    "coverage rebuilds (north-star)",
    _suffix_stream_scrub_oracle_sql(),
)
def x_suffix_stream_scrub(spark, sf_dir):
    import os

    clean_dir = os.path.join(_suffix_stream_store(spark, sf_dir), "clean")
    d = read_batches(spark, clean_dir, batch_ids(clean_dir))
    return d.select(
        F.col("batch").cast("int").alias("batch_id"),
        "doc_id", "clean_text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
    )


@_register(
    "x_suffix_stream_compacted",
    "at-rest store compaction equivalence, driver-exposed (VERDICT r12 "
    "#2): the identical 3-batch sequential suffix ingest as "
    "x_suffix_stream, except compact_suffix_store folds the anchor + "
    "gramdf store into a bucketed-by-g table generation after EVERY "
    "batch — batch 1 joins the first bucketed generation, batch 2 the "
    "incrementally re-compacted second — and the decisions are "
    "IDENTICAL: the same 3-batch-unrolled oracle adjudicates both "
    "(store-side join is Exchange-free on the compacted slice, plan "
    "contract tests/test_incremental_dedup.py)",
    _suffix_stream_oracle_sql(),
)
def x_suffix_stream_compacted(spark, sf_dir):
    import os

    decisions_dir = os.path.join(
        _suffix_stream_store(spark, sf_dir, compact=True), "decisions"
    )
    d = read_batches(spark, decisions_dir, batch_ids(decisions_dir))
    return d.select(
        F.col("batch").cast("int").alias("batch_id"),
        "doc_a", "doc_b", "a_start", "a_end", "b_start", "b_end",
        F.col("span_len").cast("long").alias("span_len"),
    )
