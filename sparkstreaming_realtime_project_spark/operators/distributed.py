"""Distributed order-statistics primitives.

A global ``Window.orderBy(...)`` with no partitionBy collapses to ONE
task — the classic Spark scale trap for running totals / ECDFs over
data-sized frames. ``prefix_sums`` here is the standard two-pass
distributed prefix sum instead: range-partition by the order key,
cumulative-sum WITHIN each partition (a partitioned window — parallel),
then add each partition's offset (the cumulative total of all earlier
partitions — a partitions-sized frame, broadcast back). The result is
exactly the global running sum, with no single data-sized task
anywhere.

Built for the ECDF family: Kolmogorov-Smirnov drift (x_ks_drift),
CDF matching, quantile normalization — anything needing "how much mass
lies at or below this key" at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# release_persisted stays importable from here: perfbench's query phase
# imports it from this module
from .caching import cached, release_persisted  # noqa: F401


def prefix_sums(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Append ``<c>_cum`` global running-sum columns (inclusive of the
    current row) for each ``c`` in ``sum_cols``, ordered by
    ``order_cols`` — WITHOUT a global single-task window.

    ``order_cols`` must be a TOTAL order (unique key combinations):
    with duplicate keys the per-row prefix depends on tie order.
    (Aggregate to distinct keys first — the ECDF use case does exactly
    that.) Range partitioning keeps equal keys in one partition and
    partitions ordered, so within-partition cumsum + earlier-partition
    offsets compose to the exact global prefix.

    Shape: one range exchange of the data, one PARTITIONED window, one
    partitions-sized aggregate + window (tiny), one broadcast join.
    Deterministic regardless of where the sampled range boundaries
    land.

    The range-partitioned frame is a ``cached()`` cut shared by its
    two consumers (the within-partition window and the per-partition
    totals). Without the cut the two branches only share one physical
    exchange when Spark's exchange-reuse dedup fires; if it doesn't
    (``spark.sql.exchange.reuse=false``, plan-canonicalization drift),
    each branch re-samples its own range boundaries and the ``_pid``
    labels disagree between branches — silently corrupting the offsets.
    Both branches read the one cached relation, whose partitioner is
    fixed once, so the labels agree by construction (an evicted block
    is recomputed under the same partitioner)."""
    d = cached(
        df.repartitionByRange(*[F.col(c) for c in order_cols]).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    w_in = Window.partitionBy("_pid").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    within = d.select(
        "*", *[F.sum(c).over(w_in).alias(f"_run_{c}") for c in sum_cols]
    )
    totals = d.groupBy("_pid").agg(
        *[F.sum(c).alias(f"_tot_{c}") for c in sum_cols]
    )
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "_pid",
        *[
            F.coalesce(F.sum(f"_tot_{c}").over(w_off), F.lit(0)).alias(
                f"_off_{c}"
            )
            for c in sum_cols
        ],
    )
    out_cols = [c for c in df.columns]
    return (
        within.join(F.broadcast(offs), "_pid")
        .select(
            *out_cols,
            *[
                (F.col(f"_run_{c}") + F.col(f"_off_{c}")).alias(f"{c}_cum")
                for c in sum_cols
            ],
        )
    )


def ntile_exact(
    df: DataFrame,
    order_cols: list[str],
    k: int,
    out_col: str,
) -> DataFrame:
    """Append ``out_col`` = the exact ``ntile(k)`` bucket of each row
    under the TOTAL order ``order_cols`` — WITHOUT the global
    single-task sort ``F.ntile(k).over(Window.orderBy(...))`` plans
    (ntile has no partial aggregation: a keyless window collapses the
    whole frame into ONE task, the classic scale trap on data-keyed
    domains like customers).

    Semantics are bit-identical to SQL ntile under the same total
    order, reproduced with pure INTEGER math from the global rank r
    (the running count from :func:`prefix_sums`): with q = n div k and
    m = n mod k (the first m tiles hold q+1 rows, the rest q),

        bucket(r) = (r - 1) div (q + 1) + 1            if r <= m*(q+1)
                  = m + (r - m*(q+1) - 1) div q + 1     otherwise

    ``order_cols`` must be a total order (unique key combinations) —
    the same precondition SQL ntile needs for deterministic output.

    Shape: one range exchange + partitioned window (the prefix sum),
    one 1-row count broadcast; no single data-sized task anywhere."""
    ranked = prefix_sums(df.withColumn("_one", F.lit(1)), order_cols, ["_one"])
    n = df.agg(F.count(F.lit(1)).alias("_n"))
    head_bucket = F.expr("(_one_cum - 1) DIV (_q + 1) + 1")
    # greatest(_q, 1): the _q = 0 branch (n < k) is unreachable — every
    # rank then satisfies the head predicate — but ANSI mode would still
    # raise on the eagerly-typed DIV 0
    tail_bucket = F.expr(
        "_m + (_one_cum - _m * (_q + 1) - 1) DIV greatest(_q, 1) + 1"
    )
    return (
        ranked.join(F.broadcast(n), F.lit(True), "left")
        .withColumn("_q", F.expr(f"_n DIV {k}"))
        .withColumn("_m", F.expr(f"_n % {k}"))
        .withColumn(
            out_col,
            F.when(
                F.col("_one_cum") <= F.col("_m") * (F.col("_q") + 1),
                head_bucket,
            )
            .otherwise(tail_bucket)
            .cast("int"),
        )
        .drop("_one", "_one_cum", "_n", "_q", "_m")
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    side_col: str,
    side_a,
    side_b,
    decimals: int = 6,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    ``value_col`` distributions of two groups: D = max over v of
    |F_a(v) - F_b(v)| — the binless drift test complementing the binned
    PSI report (drift_report): PSI needs a bin design and saturates on
    shape-preserving shifts; KS is parameter-free and sensitive to any
    CDF separation.

    Exact by integer math: per distinct value, per-side counts; global
    running counts via the distributed prefix sum above (value domain
    stays distributed — no single-task sort); the deviation at v is
    |cum_a * n_b - cum_b * n_a| — an INTEGER, so the max and its argmax
    location are exact on any engine, with one float division at the
    end (floor-rounded). Returns ONE row: (d_stat, at_value, n_a, n_b);
    at_value is the smallest value achieving the max.

    Scale: one hash aggregate to the distinct-value domain, one range
    exchange for the prefix, one top-1 TakeOrdered. Counts stay longs;
    the cross product cum * n caps at n_a * n_b (use DECIMAL upstream
    if both sides exceed ~3e9 rows).

    Fails LOUDLY (runtime error) when either side has zero rows after
    the side filter: 0/0 would otherwise yield a NaN d_stat that a
    downstream ``d_stat > threshold`` alert silently never fires on.
    The output is anchored on the always-1-row totals aggregate, so the
    empty-input case raises instead of returning an empty frame."""
    sided = df.filter(F.col(side_col).isin([side_a, side_b])).select(
        F.col(value_col).alias("v"),
        F.when(F.col(side_col) == side_a, F.lit(1))
        .otherwise(F.lit(0))
        .alias("ca"),
        F.when(F.col(side_col) == side_b, F.lit(1))
        .otherwise(F.lit(0))
        .alias("cb"),
    )
    per_v = sided.groupBy("v").agg(
        F.sum("ca").alias("ca"), F.sum("cb").alias("cb")
    )
    cums = prefix_sums(per_v, ["v"], ["ca", "cb"])
    tot = per_v.agg(
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b")
    )
    scale = float(10**decimals)
    best = (
        cums.crossJoin(F.broadcast(tot.select(
            F.col("n_a").alias("_na"), F.col("n_b").alias("_nb")
        )))
        .select(
            "v",
            F.abs(
                F.col("ca_cum") * F.col("_nb") - F.col("cb_cum") * F.col("_na")
            ).alias("num"),
        )
        .orderBy(F.col("num").desc(), F.col("v"))
        .limit(1)
    )
    # anchor on the 1-row totals frame: present even on empty input, so
    # the zero-side guard below always evaluates (and raises) instead of
    # the whole result silently vanishing
    out = tot.join(F.broadcast(best), F.lit(True), "left")
    ok = (F.coalesce(F.col("n_a"), F.lit(0)) > 0) & (
        F.coalesce(F.col("n_b"), F.lit(0)) > 0
    )
    d_stat = F.when(
        ok,
        F.floor(
            F.col("num").cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            * F.lit(scale)
            + F.lit(0.5)
        )
        / F.lit(scale),
    ).otherwise(
        F.assert_true(
            ok,
            F.lit(
                "ks_two_sample: a side has zero rows after the side "
                "filter — d_stat is undefined (0/0)"
            ),
        ).cast("double")
    )
    return out.select(
        d_stat.alias("d_stat"),
        F.col("v").alias("at_value"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
    )


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    probs: list[float],
    weight_col: str | None = None,
) -> DataFrame:
    """EXACT type-1 quantiles (smallest v with rank(v) >= ceil(p * n))
    of ``value_col``, computed distributed: distinct-value counts, the
    global running count via :func:`prefix_sums` (no single-task sort),
    then for each requested probability the minimal qualifying value —
    one small aggregate per quantile over the already-cumulated domain.

    The exactness counterpart of approx_percentile for the cases where
    the number MUST be reproducible and engine-portable (SLA cutoffs,
    contract thresholds, oracle checks): type-1 (lower) quantiles are
    pure integer-rank selections — no interpolation, no float
    arithmetic on data at all. ceil(p * n) is computed with INTEGER
    division (``(n * p_num + 999999) div 1e6`` with p passed as an
    exact fraction over 1e6), so even the target rank can't
    float-drift.

    ``weight_col``: WEIGHTED quantiles — each row counts weight times
    (integer weights, so ranks stay exact): the smallest v whose
    cumulative weight reaches ceil(p * total_weight). The corpus-
    planning form ("docs of <= X chars hold p of all TOKENS"); same
    machinery, the per-value count becomes a weight sum.

    Returns one row per probability: (p, target_rank, value)."""
    cnt = (
        F.count(F.lit(1))
        if weight_col is None
        else F.sum(F.col(weight_col).cast("bigint"))
    )
    per_v = df.groupBy(F.col(value_col).alias("v")).agg(cnt.alias("c"))
    # the cumulated domain feeds the total and every quantile's select
    cums = cached(prefix_sums(per_v, ["v"], ["c"]))
    n = cums.agg(F.max("c_cum").alias("n"))
    out = None
    for p in probs:
        p_num = int(round(p * 1_000_000))
        target = F.expr(
            f"CAST((n * {p_num} + 999999) DIV 1000000 AS BIGINT)"
        )
        sel = (
            cums.crossJoin(F.broadcast(n))
            .filter(F.col("c_cum") >= target)
            .agg(
                F.lit(p_num / 1_000_000).alias("p"),
                F.min(target).alias("target_rank"),
                F.min("v").alias("value"),
            )
        )
        out = sel if out is None else out.unionByName(sel)
    return out
