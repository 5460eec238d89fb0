"""Deterministic mergeable sketches (count-min) built from engine-
portable md5 hashing (functions/hashing.py rationale: Spark's
hash/xxhash64 and DuckDB's hash disagree, md5 hex is identical
everywhere).

Why a sketch when groupBy-count exists: the sketch table is FIXED SIZE
(d x w cells) regardless of key cardinality, mergeable across
partitions/days by cell-wise addition, and never shuffles the key
domain — the frequency-tracking shape for unbounded key spaces (URLs,
user ids, n-grams) where the exact count table IS the scale problem.
Estimates overcount on collisions, never undercount (the classic CMS
guarantee: err <= eN with prob 1-delta at w=e/eps, d=ln(1/delta))."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .caching import cached
from .sqltext import plain_ident, plain_literal

__all__ = ["cms_bucket", "cms_sketch", "cms_estimate", "cms_self_join_size", "mg_topk"]


def cms_bucket(key: Column, row: int, w: int, salt: str = "cms") -> Column:
    """Row-``row``'s bucket for ``key``: first 32 bits of
    md5('<salt><row>:'||key) mod w — the independent-hash family is the
    seed prefix, identical math on any engine."""
    h = F.md5(F.concat(F.lit(f"{salt}{row}:"), key.cast("string")))
    return F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), F.lit(w))


def cms_sketch(
    df: DataFrame, key_col: str, d: int = 4, w: int = 256, salt: str = "cms"
) -> DataFrame:
    """Build the d x w count-min sketch of ``key_col`` occurrences:
    (row, bucket, cnt) cells. One narrow projection fans each record
    into its d cells (array of structs + explode — bounded x d, no key
    shuffle), then a single partial-agg'd groupBy on the CELL id, whose
    domain is d*w no matter how many distinct keys exist. Daily/partition
    sketches merge by summing cnt cell-wise.

    Built as one parsed `inline(array(named_struct...))` for a plain
    column name (r14, same construction discipline as band_keys): this
    body runs per MICRO-BATCH in streaming_cms_counts, and the d
    struct/hash Column chains were ~25 py4j round-trips per plan build.
    The Column branch remains for exotic names and for salts holding a
    quote or backslash (see plain_literal)."""
    if (
        isinstance(key_col, str) and plain_ident(key_col)
        and plain_literal(salt)
    ):
        def bucket_sql(j: int) -> str:
            return (
                f"pmod(CAST(conv(substring(md5(concat('{salt}{j}:', "
                f"CAST({key_col} AS STRING))), 1, 8), 16, 10) AS BIGINT), {w})"
            )

        cells = ", ".join(
            f"named_struct('row', {j}, 'bucket', {bucket_sql(j)})"
            for j in range(d)
        )
        return (
            df.selectExpr(f"inline(array({cells}))")
            .groupBy("row", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                cms_bucket(F.col(key_col), j, w, salt).alias("bucket"),
            )
            for j in range(d)
        ]
    )
    return (
        df.select(F.explode(cells).alias("c"))
        .select("c.row", "c.bucket")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    keys: DataFrame,
    sketch: DataFrame,
    key_col: str,
    d: int = 4,
    w: int = 256,
    salt: str = "cms",
) -> DataFrame:
    """Point-estimate each key in ``keys``: min over the key's d cells.
    The key side explodes into its d cell ids and EQUI-joins the (tiny,
    broadcastable) sketch on (row, bucket) — d lookups per key, then a
    min aggregation. Returns (key, est)."""
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                cms_bucket(F.col(key_col), j, w, salt).alias("bucket"),
            )
            for j in range(d)
        ]
    )
    probes = keys.select(F.col(key_col), F.explode(cells).alias("c")).select(
        key_col, "c.row", "c.bucket"
    )
    # LEFT join + empty-cell = 0: a key the sketch never saw must
    # estimate 0 (min over its d cells, some of which are absent from
    # the cell table), not vanish or take min over colliding cells only.
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def hll_estimate(
    df: DataFrame, key_col: str, m: int = 64, salt: str = "hll"
) -> DataFrame:
    """HyperLogLog distinct-count estimate of ``key_col`` as a 1-row
    frame (``hll_estimate``). The streaming/mergeable answer to
    count(DISTINCT …): register state is m integers (merge = cell-wise
    max), one linear pass, no distinct shuffle of the key domain.

    Determinism across engines (what makes the SQL oracle exact, not
    approximately-equal): the register index and the rank are INTEGER
    functions of the portable md5 hash — rank uses the binary-string
    length of the remaining 26 bits (``bin``/``printf('%b')``), never
    float log2 — and 2^-M terms are exact IEEE powers of two, so the
    only float work is one 64-term sum + the alpha correction, rounded
    to 4 decimals on both sides.

    Standard Flajolet small-range correction (linear counting when
    raw <= 2.5m and empty registers exist); alpha is the m=64 constant.
    Error ~1.04/sqrt(m) — m is the accuracy/state knob.
    """
    if m != 64:
        raise ValueError("m=64 is the supported register count (alpha pinned)")
    alpha = 0.709
    h = F.md5(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string")))
    h32 = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
    # low 6 bits pick the register; the remaining 26 bits feed the rank
    reg = F.pmod(h32, F.lit(m))
    w = F.floor(h32 / F.lit(m)).cast("bigint")  # exact: h32 < 2^32 << 2^53
    rank = F.when(w == 0, F.lit(27)).otherwise(F.lit(27) - F.length(F.bin(w)))
    regs = (
        df.select(reg.alias("reg"), rank.alias("rank"))
        .groupBy("reg")
        .agg(F.max("rank").alias("mx"))
    )
    spine = df.sparkSession.range(m).select(F.col("id").alias("reg"))
    full = spine.join(regs, "reg", "left").select(
        F.coalesce(F.col("mx"), F.lit(0)).alias("mx")
    )
    agg = full.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("mx"))).alias("z"),
        F.sum((F.col("mx") == 0).cast("int")).alias("zeros"),
    )
    raw = F.lit(alpha) * F.lit(float(m)) * F.lit(float(m)) / F.col("z")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros"))
    return agg.select(
        F.round(
            F.when((raw <= 2.5 * m) & (F.col("zeros") > 0), linear).otherwise(raw),
            4,
        ).alias("hll_estimate")
    )


def quantile_hist(
    df: DataFrame,
    value_col: str,
    width: float,
    qs: list[float],
) -> DataFrame:
    """Quantile estimates from a fixed-width histogram sketch — the
    mergeable/streaming answer to exact percentiles (a_percentiles):
    the histogram is a (bin, count) table of FIXED size (value range /
    width), mergeable across partitions/days by summing counts, and the
    value column itself is never shuffled or sorted — exact quantiles
    need a full sort or percentile agg over every value; the sketch
    needs one narrow floor() projection and a bin-domain groupBy.

    Estimator (count-based, deterministic): target rank = ceil(q * N);
    the answer bin is the first with cumulative count >= target;
    estimate = bin_lo + width * (target - cum_before) / bin_count
    (linear interpolation within the bin). Everything up to the final
    interpolation is integer math on bin counts, so a SQL oracle
    replays it exactly; error is bounded by ``width`` (the knob).

    The cumulative walk runs on the BIN table (range/width rows, not N)
    — the single-partition window there is deliberate and cheap.
    Returns (q, est) per requested quantile.
    """
    from pyspark.sql.window import Window

    # NULL values are excluded everywhere: counted into N they shift
    # every target rank, and their bin sorts nulls-FIRST on Spark but
    # nulls-LAST in SQL engines — both wrong, and differently so.
    vals = df.select(F.col(value_col).alias("v")).filter(F.col("v").isNotNull())
    bins = (
        vals.select(F.floor(F.col("v") / width).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("b")
    walk = bins.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "prev", F.coalesce(F.lag("cum").over(w), F.lit(0))
    )
    total = vals.agg(F.count(F.lit(1)).alias("n"))
    qdf = walk.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double"
    ).crossJoin(F.broadcast(total))
    probe = qdf.withColumn("target", F.ceil(F.col("q") * F.col("n")))
    return (
        probe.join(
            F.broadcast(walk),
            (F.col("prev") < F.col("target")) & (F.col("target") <= F.col("cum")),
        )
        .select(
            "q",
            F.round(
                F.col("b") * width
                + width * (F.col("target") - F.col("prev")) / F.col("cnt"),
                4,
            ).alias("est"),
        )
    )


def hll_registers(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    m: int = 64,
    salt: str = "hll",
) -> DataFrame:
    """Per-group HLL register table (group..., reg, mx) — the MERGEABLE
    form of hll_estimate's state: registers of two corpus slices merge
    by cell-wise max, so shards/micro-batches/partitions can be
    sketched independently and combined later without re-reading data.
    Same portable hash/rank math as hll_estimate (md5-based, integer
    rank via binary-string length) so a merged store finalizes to
    exactly what a single batch pass over the union would produce."""
    if m != 64:
        raise ValueError("m=64 is the supported register count (alpha pinned)")
    group_cols = group_cols or []
    h = F.md5(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string")))
    h32 = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
    reg = F.pmod(h32, F.lit(m))
    w = F.floor(h32 / F.lit(m)).cast("bigint")
    rank = F.when(w == 0, F.lit(27)).otherwise(F.lit(27) - F.length(F.bin(w)))
    return (
        df.select(*group_cols, reg.alias("reg"), rank.alias("rank"))
        .groupBy(*group_cols, "reg")
        .agg(F.max("rank").alias("mx"))
    )


def hll_merge(a: DataFrame, b: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Merge two register tables: union + cell-wise max per (group, reg).
    Associative and commutative — the property that makes the sketch a
    distributed aggregate rather than a pass over raw keys."""
    group_cols = group_cols or []
    cols = [*group_cols, "reg", "mx"]
    return (
        a.select(*cols)
        .unionByName(b.select(*cols))
        .groupBy(*group_cols, "reg")
        .agg(F.max("mx").alias("mx"))
    )


def hll_finalize(
    regs: DataFrame, group_cols: list[str] | None = None, m: int = 64
) -> DataFrame:
    """Estimate from a register table, per group: identical float
    sequence to hll_estimate (64-term 2^-mx sum, alpha correction,
    linear-counting small-range branch, round 4), so
    finalize(merge(registers(A), registers(B))) == hll_estimate(A ∪ B)
    exactly, not approximately."""
    if m != 64:
        raise ValueError("m=64 is the supported register count (alpha pinned)")
    alpha = 0.709
    group_cols = group_cols or []
    spark = regs.sparkSession
    spine = spark.range(m).select(F.col("id").alias("reg"))
    if group_cols:
        groups = regs.select(*group_cols).distinct()
        spine = groups.crossJoin(F.broadcast(spine))
    full = spine.join(regs, [*group_cols, "reg"], "left").select(
        *group_cols, F.coalesce(F.col("mx"), F.lit(0)).alias("mx")
    )
    agg = full.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("mx"))).alias("z"),
        F.sum((F.col("mx") == 0).cast("int")).alias("zeros"),
    )
    raw = F.lit(alpha) * F.lit(float(m)) * F.lit(float(m)) / F.col("z")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros"))
    return agg.select(
        *group_cols,
        F.round(
            F.when((raw <= 2.5 * m) & (F.col("zeros") > 0), linear).otherwise(raw),
            4,
        ).alias("hll_estimate"),
    )


def mg_topk(
    df: DataFrame,
    key_col: str,
    shard_col: str,
    k: int = 20,
    n_groups: int = 32,
    m: int = 64,
    salt: str = "mg",
) -> DataFrame:
    """Misra-Gries / SpaceSaving-style mergeable heavy-hitter summary,
    distributed the Agarwal et al. ("Mergeable Summaries", PODS'12)
    way: shard the ROWS into ``n_groups`` deterministic virtual groups
    by md5 of ``shard_col`` (engine-portable — never physical
    partitions, whose layout no oracle can replay; and never the key
    itself, which would make each group a disjoint exact count, not a
    summary), build each group's summary — its exact top-``m`` counters
    by (count DESC, key) plus the truncation bound eps_g = the group's
    (m+1)-th count (0 when nothing was dropped) — then MERGE the
    summaries: a key's estimate is the sum of its surviving group
    counters, a LOWER bound on its true count, certified by
    true <= est + sum of eps_g over the groups that dropped it (a kept
    counter is exact within its group; a dropped key sat at or below
    that group's cut). The merged state is n_groups x m rows regardless
    of key cardinality — the heavy-hitter complement of the count-min
    sketch above (CMS overcounts and needs the key to query; MG
    surfaces the keys themselves and undercounts, with a certificate).

    Emits the top-``k`` by (est DESC, key): (key, est, upper_bound,
    n_groups_kept). One key-domain shuffle (the exact per-group fold),
    one summary-sized window for the per-group rank, one k-sized window
    for the final cut.
    """
    from pyspark.sql.window import Window

    g = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(f"{salt}:"), F.col("__shard").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(n_groups),
    )
    counts = (
        df.select(
            F.col(key_col).alias("key"), F.col(shard_col).alias("__shard")
        )
        .withColumn("g", g)
        .groupBy("g", "key")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("g").orderBy(F.col("cnt").desc(), F.col("key"))
    # rank-filter BEFORE the cut (ranked feeds the kept counters and
    # the eps table): the rn <= m+1 predicate adjacent to the window
    # triggers WindowGroupLimit (partial per-partition top-k before the
    # shuffle), so neither the sort nor the cached frame ever holds more
    # than groups x (m+1) rows — caching the unfiltered rank would both
    # block that pushdown and cache the whole key domain
    ranked = cached(
        counts.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= m + 1
        )
    )
    kept = ranked.filter(F.col("rn") <= m)
    eps = (
        ranked.filter(F.col("rn") == m + 1)
        .select("g", F.col("cnt").alias("eps_g"))
    )
    total_eps = eps.agg(
        F.coalesce(F.sum("eps_g"), F.lit(0)).alias("__total_eps")
    )
    per_key = (
        kept.join(eps, "g", "left")
        .groupBy("key")
        .agg(
            F.sum("cnt").alias("est"),
            F.count(F.lit(1)).alias("n_groups_kept"),
            F.coalesce(F.sum("eps_g"), F.lit(0)).alias("__eps_present"),
        )
    )
    wk = Window.orderBy(F.col("est").desc(), F.col("key"))
    return (
        per_key.crossJoin(F.broadcast(total_eps))
        .select(
            "key",
            F.col("est").cast("long").alias("est"),
            (F.col("est") + F.col("__total_eps") - F.col("__eps_present"))
            .cast("long")
            .alias("upper_bound"),
            F.col("n_groups_kept").cast("long").alias("n_groups_kept"),
        )
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("rank", "key", "est", "upper_bound", "n_groups_kept")
    )


def cms_self_join_size(
    df: DataFrame, key_col: str, d: int = 4, w: int = 256, salt: str = "cms"
) -> DataFrame:
    """Self-join size (the F2 moment, sum of squared key frequencies)
    estimated from the count-min sketch's inner product with itself —
    the AMS/CMS join-size estimator (Alon-Matias-Szegedy; Cormode &
    Muthukrishnan §4.2): per sketch row, sum cnt^2 over buckets; take
    the min across the d rows. Overestimates only (colliding keys add
    cross terms, never subtract), with the standard err <= eps * N^2
    guarantee at w = 2/eps. This is the number a planner needs BEFORE
    attempting a key self-join (sessionization, co-occurrence): sketch
    cost is one pass + a d x w table, vs the exact count table whose
    size is the key domain. Returns one row (est BIGINT) — integer-
    exact, so the oracle matches bit-for-bit; grade against the exact
    F2 where feasible (the catalog entry joins it on)."""
    sk = cms_sketch(df, key_col, d=d, w=w, salt=salt)
    per_row = sk.groupBy("row").agg(
        F.sum(F.col("cnt") * F.col("cnt")).alias("f2_row")
    )
    return per_row.agg(F.min("f2_row").cast("long").alias("est"))
