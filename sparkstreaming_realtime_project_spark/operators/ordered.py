"""Ordered / sequential analytics: interval union (gaps-and-islands),
2D skyline (Pareto frontier), bounded EWMA deviation, and Markov
transition matrices.

These are the order-dependent operators a session/activity pipeline
needs beyond plain windows: the reference's DWD layer orders events
inside a session (DwdDauApp.scala:136-142 sorts a user's page log by
ts to find the session entry); the operators here generalize that
"order within key, then reason about runs" shape to interval coverage,
frontier filtering, and transition statistics — each expressed as
DataFrame windows/aggregates so Catalyst keeps the single shuffle on
the partition key and whole-stage codegen owns the arithmetic.

Determinism contract (oracle-portable): island windows run under a
TOTAL order (synthesized row_number tiebreaker — full ties are
value-identical, so rank assignment among them is irrelevant, but both
window passes must agree on one order; see interval_union); EWMA uses
an explicit left-associated fixed-weight chain (identical float op
order on any engine); Markov probabilities are integer-count ratios
rounded with the floor form.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .caching import cached


def interval_union(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Union per-key [start, end] day-intervals into maximal disjoint
    islands and report coverage: (key, n_intervals, n_islands,
    covered_days, longest_island_days).

    Classic gaps-and-islands: order intervals by (start, end) within
    the key, open a new island whenever a start clears the running max
    of all previous ends (touching/overlapping intervals merge —
    inclusive day granularity), then two aggregates. The order is made
    TOTAL with a synthesized row_number tiebreaker before the island
    windows run: duplicate (start, end) rows are value-identical, so
    which physical row takes which rank is irrelevant — but the island
    computation is TWO window passes (flag, then prefix-sum of flags),
    and without a total order an engine may sort the two passes with
    DIFFERENT tie orders, pairing a pass-1 flag with the wrong pass-2
    position and splitting a tied block across two islands (observed as
    run-to-run nondeterministic covered_days in DuckDB's parallel
    window executor; Spark happens to fuse both passes over one sort,
    which hides rather than solves it).

    Scale: one shuffle on ``key_col``; both windows and both groupBys
    reuse that partitioning (no second exchange — the plan pins this).
    Per-key work is a sort + linear scan: the canonical distributed
    interval-merge, no self-join on time (an interval-overlap self-join
    is quadratic per key and was never needed)."""
    # All island expressions are built against the RENAMED frame (key/s/e)
    # so callers' column names never have to match the internal aliases.
    w0 = Window.partitionBy("key").orderBy("s", "e")
    w = Window.partitionBy("key").orderBy("s", "e", "rn")
    prev_max_end = F.max(F.col("e")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max_end.isNull() | (F.col("s") > prev_max_end), F.lit(1)
    ).otherwise(F.lit(0))
    islands = (
        df.select(
            F.col(key_col).alias("key"),
            F.col(start_col).alias("s"),
            F.col(end_col).alias("e"),
        )
        .withColumn("rn", F.row_number().over(w0))
        .withColumn("_new", new_island)
        .withColumn(
            "island",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("key", "island")
        .agg(
            F.min("s").alias("is_"),
            F.max("e").alias("ie"),
            F.count(F.lit(1)).alias("n_iv"),
        )
    )
    days = F.datediff(F.col("ie"), F.col("is_")) + F.lit(1)
    return (
        islands.groupBy("key")
        .agg(
            F.sum("n_iv").cast("long").alias("n_intervals"),
            F.count(F.lit(1)).cast("long").alias("n_islands"),
            F.sum(days).cast("long").alias("covered_days"),
            F.max(days).cast("long").alias("longest_island_days"),
        )
        .withColumnRenamed("key", key_col)
    )


def skyline_2d(
    df: DataFrame,
    cost_col: str,
    gain_col: str,
) -> DataFrame:
    """Pareto frontier (skyline) of ``df`` minimizing ``cost_col`` and
    maximizing ``gain_col``: keep exactly the rows no other row
    dominates (other.cost <= cost AND other.gain >= gain with one
    strict). Ties on BOTH axes are mutually non-dominating and all
    survive — the standard skyline definition (Börzsönyi et al., ICDE
    2001).

    Shape, chosen for 100 TB: the naive form is an all-pairs dominance
    anti-join (quadratic — it is the ORACLE, not the plan). Instead:

    1. reduce data-sized input to one row per distinct cost with the
       max gain at that cost (hash aggregate, map-side partial — the
       only data-sized shuffle);
    2. one running-max window over that COST-DOMAIN-sized frame
       (ordered by cost; a row is on the frontier iff its gain beats
       every strictly-cheaper row's best gain). The global window is a
       single task over the domain frame — domain-sized, never
       data-sized (the same serial-stage budget as compaction_plan's
       per-partition banding);
    3. equi-join survivors back to the input on (cost, gain) —
       broadcast-sized whenever the frontier is.

    Correctness of the reduction: a dominator with strictly smaller
    cost exists iff max(gain | cost' < cost) >= gain; a same-cost
    dominator exists iff gain < max(gain | cost' = cost). Both are
    exactly what stages 1-2 compute."""
    # Collision-proof internal aliases: the frontier frame's columns are
    # _sky_cost/_sky_gmax and the join condition is qualified through the
    # frame handles, so a caller whose cost/gain columns are literally
    # named "cost"/"gmax" (or anything else) can never be ambiguous.
    c, g = F.col(cost_col), F.col(gain_col)
    per_cost = df.groupBy(c.alias("_sky_cost")).agg(F.max(g).alias("_sky_gmax"))
    wc = Window.orderBy("_sky_cost").rowsBetween(Window.unboundedPreceding, -1)
    frontier = (
        per_cost.withColumn("_sky_best", F.max("_sky_gmax").over(wc))
        .filter(
            F.col("_sky_best").isNull()
            | (F.col("_sky_gmax") > F.col("_sky_best"))
        )
        .select("_sky_cost", "_sky_gmax")
    )
    bf = F.broadcast(frontier)
    return df.join(
        bf,
        (df[cost_col] == bf["_sky_cost"]) & (df[gain_col] == bf["_sky_gmax"]),
    ).drop("_sky_cost", "_sky_gmax")


def ewma_deviation(
    df: DataFrame,
    order_col: str,
    value_col: str,
    key_col: str | None = None,
    alpha: float = 0.5,
    k: int = 8,
    decimals: int = 4,
) -> DataFrame:
    """Exponentially-weighted moving average of the PREVIOUS ``k``
    observations (a bounded-memory EWMA) plus the current value's
    deviation from it — the batch form of the alerting check a
    streaming monitor runs per micro-batch.

    Weights are alpha * (1-alpha)^(i-1) for lag i, renormalized over
    the lags that exist (series head has fewer than k): with the
    default alpha=0.5 every weight is an exact binary fraction, and the
    numerator/denominator are built as EXPLICIT left-associated chains
    (w1*lag1 + w2*lag2 + ...), so any engine evaluating the same chain
    produces bit-identical doubles — float determinism by fixed op
    order, not by decimal arithmetic (the oracle SQL spells out the
    same chain; see catalog x_ewma_deviation). Rows with no preceding
    observation (the series head) are dropped — no EWMA to deviate
    from.

    One shuffle on ``key_col`` (or a single-task global window when
    None — a per-SERIES operator: at scale you have many keys, and the
    catalog's keyless entry is a domain-sized daily series, ~2.4k rows
    over the whole TPC-H date range). Bounded lags keep the frame k
    rows — no unbounded running state.

    The k lags are PROJECTED into real columns first and the num/den
    chains built over those attributes. Embedding the window lag
    expression at every use site (the pre-r10 shape) hands the
    optimizer 3 x k distinct WindowExpression occurrences (num, den,
    and the den>0 filter each repeat all k) — measured 3.3 s of pure
    PLANNING time at k=8 on a 12k-row input, ~8x the family median;
    over attributes, planning is milliseconds and the arithmetic chain
    (and therefore every output bit) is unchanged."""
    v = F.col(value_col)
    w = (
        Window.partitionBy(key_col) if key_col else Window.partitionBy()
    ).orderBy(order_col)
    weights = [alpha * (1 - alpha) ** (i - 1) for i in range(1, k + 1)]
    lagged = df.select(
        "*", *[F.lag(v, i).over(w).alias(f"_g{i}") for i in range(1, k + 1)]
    )
    gs = [F.col(f"_g{i}") for i in range(1, k + 1)]
    num = reduce(
        lambda acc, t: acc + t,
        [
            F.when(g.isNotNull(), F.lit(wt) * g).otherwise(F.lit(0.0))
            for wt, g in zip(weights, gs)
        ],
    )
    den = reduce(
        lambda acc, t: acc + t,
        [
            F.when(g.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
            for wt, g in zip(weights, gs)
        ],
    )
    scale = float(10**decimals)

    def _r(col: Column) -> Column:
        return F.floor(col * F.lit(scale) + F.lit(0.5)) / F.lit(scale)

    out_cols = ([key_col] if key_col else []) + [order_col]
    return (
        lagged.withColumn("_num", num)
        .withColumn("_den", den)
        .filter(F.col("_den") > 0)
        .select(
            *out_cols,
            v.alias("value"),
            _r(F.col("_num") / F.col("_den")).alias("ewma"),
            _r(v - F.col("_num") / F.col("_den")).alias("deviation"),
        )
    )


def markov_transitions(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    state_col: str,
    decimals: int = 6,
) -> DataFrame:
    """First-order Markov transition matrix over per-key ordered state
    sequences: (from_state, to_state, n, p) with p = n / sum(n | from).

    The reference's session analytics order a user's events by ts to
    find session entries (DwdDauApp.scala:136-142); the transition
    matrix is the next modeling step on the same ordered stream —
    which event type follows which (drop-off prediction, funnel
    design, synthetic-session generation for load tests).

    One shuffle on ``key_col`` for the lead() window (``order_cols``
    must make the order total — pass a unique tiebreaker), then a hash
    aggregate to transition counts. The row-probability normalization
    runs as a window over the TRANSITION-MATRIX-sized frame (|S|^2
    rows) — model-sized, never data-sized. Counts are exact integers;
    p is one integer-ratio division rounded with the floor form."""
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    nxt = F.lead(state_col).over(w)
    counts = (
        df.select(F.col(state_col).alias("from_state"), nxt.alias("to_state"))
        .filter(F.col("to_state").isNotNull())
        .groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = F.sum("n").over(Window.partitionBy("from_state"))
    scale = float(10**decimals)
    p = F.floor(
        F.col("n").cast("double") / tot.cast("double") * F.lit(scale)
        + F.lit(0.5)
    ) / F.lit(scale)
    return counts.select(
        "from_state",
        "to_state",
        F.col("n").cast("long").alias("n"),
        p.alias("p"),
    )


def markov_surprise(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    state_col: str,
    decimals: int = 4,
) -> DataFrame:
    """Per-key sequence surprise under the corpus's own first-order
    Markov model: avg -ln P(next | current) over the key's observed
    transitions — high scorers follow transition patterns the corpus
    doesn't (bot traffic, broken instrumentation, scripted sessions);
    the transition-level analog of unigram/KN text surprise, on the
    same ordered event stream markov_transitions models.

    Shape: ONE windowed lead pass over the data — the global model is
    DERIVED from the per-key transition counts (sum over keys of tf ==
    the corpus transition count, so no second scan; the per-key frame
    is a ``cached()`` cut shared by its two consumers). Model
    probabilities are floor-rounded (1e-6) exactly like
    markov_transitions', so both engines ln the identical double; the
    per-key sum shares the kn_bigram_logprob determinism posture
    (few-hundred-term float sums under a 1e-4 floor round).

    Determinism contract: the rounded probability is CLAMPED to a floor
    of 1e-6 before the log. A transition rarer than 0.5e-6 of its
    from-state mass floor-rounds to p = 0.0, and engines disagree on
    ln(0) (Spark: NULL — the term would silently DROP from the surprise
    sum; DuckDB: -inf/error). The clamp caps any single term's surprise
    at ln(1e6) ≈ 13.8 nats and keeps every engine on the same number.

    Returns (key, n_transitions, surprise)."""
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    seq = df.withColumn("_nxt", F.lead(state_col).over(w)).filter(
        F.col("_nxt").isNotNull()
    )
    # feeds BOTH the model and the scoring join
    ut = cached(
        seq.groupBy(
            F.col(key_col),
            F.col(state_col).alias("from_state"),
            F.col("_nxt").alias("to_state"),
        ).agg(F.count(F.lit(1)).alias("tf"))
    )
    counts = ut.groupBy("from_state", "to_state").agg(
        F.sum("tf").alias("n")
    )
    tot = F.sum("n").over(Window.partitionBy("from_state"))
    p = F.greatest(
        F.floor(
            F.col("n").cast("double") / tot.cast("double") * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6),
        F.lit(1e-6),
    )
    model = counts.select("from_state", "to_state", p.alias("p"))
    scored = ut.join(F.broadcast(model), ["from_state", "to_state"])
    scale = float(10**decimals)
    surprise = F.floor(
        F.sum(F.col("tf") * -F.log(F.col("p")))
        / F.sum("tf")
        * F.lit(scale)
        + F.lit(0.5)
    ) / F.lit(scale)
    return scored.groupBy(key_col).agg(
        F.sum("tf").cast("long").alias("n_transitions"),
        surprise.alias("surprise"),
    )


def cusum_shift(
    df: DataFrame,
    order_col: str,
    value_col: str,
    target: int,
    slack: int,
    threshold: int,
) -> DataFrame:
    """One-sided CUSUM upward mean-shift detection over an ordered
    integer series (Page 1954): S_t = max(0, S_{t-1} + (x_t - target -
    slack)), alarm when S_t > threshold — the sequential change-point
    monitor a pipeline runs over daily volumes (EWMA flags spikes;
    CUSUM accumulates small persistent shifts EWMA smooths away).

    The recursion is NOT window-expressible directly, but the classic
    identity S_t = P_t - min(P_0..P_t) with P_t = prefix sum of
    (x_t - target - slack) and P_0 = 0 turns it into two running
    aggregates over the series — both plain windows, no recursion, no
    UDF. With INTEGER value/target/slack every quantity is exact on
    any engine (the alarm threshold compares integers).

    A keyless series is DOMAIN-sized by assumption (daily/hourly
    points — thousands of rows; the window is a single task over the
    domain, the same serial-stage budget as ewma_deviation's).

    Returns (order_col, value, cusum, alarm)."""
    d = (F.col(value_col) - F.lit(target) - F.lit(slack)).alias("_d")
    w = Window.orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    base = df.select(F.col(order_col), F.col(value_col).alias("value"), d)
    pref = base.withColumn("_p", F.sum("_d").over(w))
    # min over (0, P_1..P_t): P_0 = 0 folds in via least(running_min, 0)
    run_min = F.least(F.min("_p").over(w), F.lit(0))
    cusum = (F.col("_p") - run_min).alias("cusum")
    return pref.select(
        order_col,
        "value",
        cusum,
        (F.col("_p") - run_min > F.lit(threshold)).cast("int").alias("alarm"),
    )
