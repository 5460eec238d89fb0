"""Corpus-construction operators (north-star extension): the steps a
training-data pipeline runs AFTER dedup/scoring to turn a raw document
table into a training corpus — deterministic stratified sampling,
C4-style quality filtering, and token-budget packing.

Everything is built-in-expression only (no UDF, no collect): narrow
projections plus at most one window per operator, each with an exact
DuckDB SQL twin in the catalog.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .caching import cached
from .textstats import STOPWORDS, _count_in
from .dedup import spread, tokens_expr


def _spread_toks(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, t) token projection, spread across cores first — see
    dedup.spread: single-file inputs otherwise tokenize on one core."""
    src = spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")),
        "doc_id",
    )
    return src.select("doc_id", tokens_expr("__text").alias("t"))


def coord_md5(key: Column, salt: str) -> Column:
    """THE deterministic per-row coordinate every sampling/sharding/
    capping operator orders or thresholds by: md5(salt || ':' || key).
    One definition so the scheme (and its oracle-SQL mirror,
    ``md5('<salt>:' || CAST(key AS VARCHAR))``) can never drift between
    operators. Hash-based (not ``rand()``) so selections are
    reproducible run-to-run and identical across engines."""
    return F.md5(F.concat(F.lit(salt + ":"), key.cast("string")))


def sample_hash_expr(key: Column, salt: str = "smpl") -> Column:
    """Deterministic per-row sampling coordinate in [0, 1): the first 8
    hex digits of coord_md5, compared as a STRING against a fixed-width
    hex threshold. Fixed-width lowercase hex sorts exactly like the
    32-bit integer it encodes, so the comparison needs no hex->int
    conversion (which differs between engines)."""
    return F.substring(coord_md5(key, salt), 1, 8)


def rate_threshold_hex(rate: float) -> str:
    """8-hex-digit threshold t such that P[hash8 < t] == rate."""
    return format(min(int(rate * 16**8), 16**8 - 1), "08x")


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    salt: str = "smpl",
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff its hash
    coordinate falls under its stratum's rate. Used to rebalance skewed
    strata (e.g. downsample the majority language) without a shuffle —
    the whole operator is one narrow filter, so it composes with scans
    at 100 TB for free (predicate evaluated at read time, no
    repartition, no state).

    ``rates`` maps stratum value -> keep fraction; unlisted strata keep
    ``default_rate``. Exact expected fractions, not exact counts: count-
    exact sampling needs a per-stratum total (one extra aggregate) and a
    rank window — deliberately not this operator."""
    thr: Column = F.lit(rate_threshold_hex(default_rate))
    for value, rate in sorted(rates.items()):
        thr = F.when(
            F.col(stratum_col) == value, F.lit(rate_threshold_hex(rate))
        ).otherwise(thr)
    return df.filter(sample_hash_expr(F.col(key_col), salt) < thr)


def temperature_resample(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    alpha: float = 0.5,
    salt: str = "temp",
) -> DataFrame:
    """Temperature-scaled mixture resampling: rebalance strata toward
    q_s ∝ p_s^alpha (the multilingual-LM sampling rule — alpha=1 keeps
    the natural mix, alpha→0 approaches uniform) by keeping each row of
    stratum s with rate r_s = (n_s / n_min)^(alpha-1). The minority
    stratum keeps everything; larger strata are downsampled toward the
    tempered distribution — downsample-only, no replication, so the
    operator is a filter, never a fan-out.

    Rates are DERIVED FROM THE DATA (one tiny groupBy-count, N cancels
    out of p_s/p_min so no global total is needed), then broadcast back
    and applied as a narrow hash-deterministic filter — the scan-speed
    composition as stratified_sample, with the rate table the size of
    the stratum count. Keep decision: 32-bit md5 coordinate <
    floor(r_s * 2^32), reproducible run-to-run and across engines.

    Output keeps (all original columns, keep_rate rounded to 6) so the
    sampled mix is auditable downstream."""
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("n_s"))
    n_min = counts.agg(F.min("n_s").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        stratum_col,
        F.round(
            F.pow(F.col("n_s") / F.col("n_min"), F.lit(alpha - 1.0)), 6
        ).alias("keep_rate"),
    )
    coord = F.conv(sample_hash_expr(F.col(key_col), salt), 16, 10).cast("bigint")
    return df.join(F.broadcast(rates), stratum_col).filter(
        coord < F.floor(F.col("keep_rate") * F.lit(float(2**32))).cast("bigint")
    )


# (category, pattern, replacement). Patterns are deliberately restricted
# to the RE2 ∩ java.util.regex common subset (no lookaround, no
# backrefs, ASCII \b) so the SAME strings run on Spark (Java regex) and
# any RE2 engine with identical matches. Scrub order matters and is
# fixed: emails first (they contain dots and digits that the later
# patterns would chew on), then IPs, then phone-like digit runs; each
# category is COUNTED on the text as left by the previous stage, so
# categories never double-count one span.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\- ]{6,}\d", "<PHONE>"),
)


def pii_scrub(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Regex PII redaction with per-category audit counts: emails, IPv4
    addresses, and phone-like digit runs are replaced by typed tags and
    counted per document. Counts-plus-redaction (not just a filter)
    because curation pipelines need both the cleaned text AND the
    residual-risk signal (a doc with 40 emails is a directory page —
    quality-gate it out rather than ship 40 tags).

    Pure narrow projection — regexp_count/regexp_replace are JVM-side
    codegen expressions, no UDF, no shuffle; composes with the scan at
    any corpus size."""
    out = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    for name, pat, tag in PII_PATTERNS:
        out = out.withColumn(f"n_{name}", F.regexp_count("text", F.lit(pat)))
        out = out.withColumn("text", F.regexp_replace("text", pat, tag))
    return out


def quality_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int = 20,
    max_stopword_ratio: float = 0.5,
    min_avg_token_len: float = 3.0,
    max_avg_token_len: float = 12.0,
) -> DataFrame:
    """C4-style rule-based quality gate. Emits every doc with one int
    flag per rule plus the conjunction (``kept``) — flags rather than a
    filtered table so the pipeline can audit WHY documents fell out
    (rule ablation is a first-class need when curating training data).

    All rules are narrow expressions over one token-array projection;
    the operator runs at scan speed and pushes no shuffle. Downstream:
    ``.filter("kept = 1")``."""
    toks = _spread_toks(df, text_col, id_col)
    stats = toks.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        (
            F.aggregate("t", F.lit(0), lambda acc, x: acc + F.length(x))
            * F.lit(1.0)
            / F.size("t")
        ).alias("avg_len"),
        (_count_in(F.col("t"), STOPWORDS) * F.lit(1.0) / F.size("t")).alias(
            "stop_ratio"
        ),
    )
    long_enough = (F.col("n_tokens") >= min_tokens).cast("int")
    not_boiler = (F.col("stop_ratio") <= max_stopword_ratio).cast("int")
    sane_tokens = (
        (F.col("avg_len") >= min_avg_token_len)
        & (F.col("avg_len") <= max_avg_token_len)
    ).cast("int")
    return stats.select(
        "doc_id",
        "n_tokens",
        long_enough.alias("long_enough"),
        not_boiler.alias("not_boilerplate"),
        sane_tokens.alias("sane_token_len"),
        (long_enough * not_boiler * sane_tokens).alias("kept"),
    )


def pack_greedy(
    df: DataFrame,
    text_col: str,
    id_col: str,
    budget: int = 256,
    partition_col: str | None = None,
    n_shards: int = 64,
) -> DataFrame:
    """Token-budget packing: assign documents to contiguous training
    bins of ~``budget`` tokens (sequence packing for pretraining
    batches). bin_id = floor(running_token_total_before_doc / budget)
    over a deterministic doc order — the distributed-friendly
    contiguous-fill variant (true bin packing is NP-hard AND inherently
    sequential; contiguous fill wastes at most one doc's tokens per
    boundary and is a single window).

    The window partitions by ``partition_col`` (e.g. language, or a
    shard key at 100 TB) so packing parallelizes — a GLOBAL order-by
    window would serialize the corpus through one task, so there is no
    global default: when ``partition_col`` is None the operator shards
    deterministically by ``pmod(hash(doc_id), n_shards)``. Bin ids are
    therefore unique per (partition, bin_id)."""
    part = (
        F.col(partition_col)
        if partition_col
        else F.pmod(F.hash(F.col(id_col)), F.lit(n_shards)).cast("string")
    )
    src = spread(
        df.select(
            F.col(id_col).alias("doc_id"),
            part.alias("part"),
            F.col(text_col).alias("__text"),
        ),
        "doc_id",
    )
    toks = src.select(
        "doc_id", "part", F.size(tokens_expr("__text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("part")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum("n_tokens").over(w)
    return toks.select(
        "doc_id",
        "part",
        "n_tokens",
        F.floor((running - F.col("n_tokens")) / F.lit(budget)).alias("bin_id"),
    )


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    n-gram with an evaluation set (the GPT-3/PaLM-style n-gram overlap
    check a training pipeline runs before every release). One row per
    TRAINING doc: (doc_id, contaminated, n_shared_shingles = distinct
    shared n-grams, n_eval_matches = distinct eval docs hit, first_eval
    = smallest hit eval id, NULL when clean).

    Shape: explode both sides' distinct shingles and equi-join on the
    shingle string. Eval sets are benchmark-sized (thousands of docs,
    not corpora), so the eval side is BROADCAST: the training corpus
    streams through map-side hash lookups — no shuffle of the corpus at
    any size. The join fans out only on genuinely shared shingles."""
    from .dedup import shingles_from_tokens

    def ex(df: DataFrame, out_id: str) -> DataFrame:
        toks = _spread_toks(df, text_col, id_col).withColumnRenamed(
            "doc_id", out_id
        )
        return toks.select(
            out_id, F.explode(shingles_from_tokens("t", n)).alias("g")
        )

    hits = (
        ex(train, "doc_id")
        .join(F.broadcast(ex(eval_set, "eval_id")), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_shared_shingles"),
            F.countDistinct("eval_id").alias("n_eval_matches"),
            F.min("eval_id").alias("first_eval"),
        )
    )
    return (
        train.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("first_eval").isNotNull().cast("int").alias("contaminated"),
            F.coalesce("n_shared_shingles", F.lit(0)).alias("n_shared_shingles"),
            F.coalesce("n_eval_matches", F.lit(0)).alias("n_eval_matches"),
            "first_eval",
        )
    )


def chunk_tokens(
    df: DataFrame,
    text_col: str,
    id_col: str,
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Fixed-size token-window chunking with overlap (stride < size):
    the standard document -> training-sequence / RAG-passage splitter.
    One row in, ceil((n-size)/stride)+1 rows out.

    Convention: full windows only, starting at 1, 1+stride, ... — a doc
    shorter than ``size`` yields its single (short) chunk; tail tokens
    past the last full window are dropped (they are covered by the
    previous window's overlap up to ``size-stride`` tokens; fixed-window
    pretraining pipelines accept this, packing handles remainders).

    Pure narrow plan: tokenize once, explode the window starts, slice —
    the only row expansion is the intended chunk fan-out (~n/stride per
    doc). No shuffle at any corpus size."""
    toks = _spread_toks(df, text_col, id_col)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.lit(1), F.size("t") - F.lit(size - 1)),
        F.lit(stride),
    )
    return toks.select(
        "doc_id", "t", F.posexplode(starts).alias("chunk_id", "s")
    ).select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.concat_ws(" ", F.slice("t", F.col("s"), size)).alias("chunk_text"),
        F.size(F.slice("t", F.col("s"), size)).alias("n_chunk_tokens"),
    )


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition signals: fraction of duplicate tokens,
    2-grams, and 3-grams per document (1 - distinct/total). High values
    flag the degenerate boilerplate/spam a quality gate should drop and
    a dedup pass won't catch (repetition is WITHIN the doc).

    All narrow expressions over one token projection — the n-gram lists
    here are deliberately NOT de-duplicated (unlike shingles), the ratio
    measures exactly that duplication."""
    toks = _spread_toks(df, text_col, id_col)

    def grams(n: int) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.lit(0), F.size("t") - (n - 1))),
            lambda i: F.concat_ws(" ", F.slice("t", i, n)),
        )

    def dup_ratio(g: Column) -> Column:
        return F.when(F.size(g) > 0, F.round(
            F.lit(1.0) - F.size(F.array_distinct(g)) * F.lit(1.0) / F.size(g), 4
        )).otherwise(F.lit(0.0))

    with_grams = toks.select(
        "doc_id", "t", grams(2).alias("g2"), grams(3).alias("g3")
    )
    return with_grams.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        dup_ratio(F.col("t")).alias("dup_token_ratio"),
        dup_ratio(F.col("g2")).alias("dup_2gram_ratio"),
        dup_ratio(F.col("g3")).alias("dup_3gram_ratio"),
    )


def shard_assign(
    df: DataFrame,
    key_col: str,
    n_shards: int = 8,
    salt: str = "shard",
) -> DataFrame:
    """Deterministic corpus shuffle + shard assignment for training-data
    export: shard = hash32(key) mod n_shards, position-in-shard = rank of
    the FULL hash within the shard. Because the hash is uniform, this is
    a seeded global permutation of the corpus expressed as (shard, pos) —
    exactly the "shuffle the corpus, split into N files" step before
    tokenizer/packing runs, reproducible across engines and re-runs
    (same salt => same permutation; new salt => fresh epoch shuffle).

    Scale shape: the hash and shard are narrow per-row expressions; the
    only shuffle is the per-shard rank window, partitioned by shard —
    uniform by construction (hash mod n). At 100 TB pick n_shards ~ the
    number of output files so each window partition is one writer task's
    worth. No global sort, no driver state.

    Returns (key, shard, pos) with pos 1-based within shard.
    """
    h = coord_md5(F.col(key_col), salt)
    h32 = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
    out = df.select(
        F.col(key_col),
        F.pmod(h32, F.lit(n_shards)).cast("int").alias("shard"),
        h.alias("__h"),
    )
    w = Window.partitionBy("shard").orderBy("__h", key_col)
    return out.select(
        key_col, "shard", F.row_number().over(w).alias("pos")
    )


def mixture_plan(
    df: DataFrame,
    stratum_col: str,
    text_col: str,
    id_col: str,
    budget_tokens: int,
    alpha: float = 0.5,
    max_epochs: float = 4.0,
) -> DataFrame:
    """Training-mixture plan: given a corpus partitioned into strata
    (language, source, domain), decide how many tokens each stratum
    contributes to a ``budget_tokens`` training run.

    Weights follow the standard temperature rule (the sampling side of
    temperature_resample): ``w_s ∝ n_tokens_s^alpha``, so alpha=1 is
    proportional-to-size, alpha=0 is uniform, 0<alpha<1 up-weights small
    strata. Each stratum's target is ``budget * w_s``; realizing a
    target above the stratum's actual token count means repeating data,
    reported as ``epochs = target / actual`` and CAPPED at
    ``max_epochs`` (repeating a tiny stratum 40x memorizes it — the cap
    surfaces the overflow instead of silently assigning it).

    Output (one row per stratum): n_docs, n_tokens, weight,
    target_tokens, epochs, capped flag. Plan shape: one token-count
    projection + a stratum groupBy (partial-agg'd), then the weight
    normalization over the STRATUM table (tiny) via a window — the
    corpus is read once, nothing but (stratum, counts) shuffles."""
    src = spread(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(stratum_col).alias("stratum"),
            F.col(text_col).alias("__text"),
        ),
        "doc_id",
    )
    strata = (
        src.select("stratum", F.size(tokens_expr("__text")).alias("n_toks"))
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
    )
    w_all = Window.partitionBy()
    raw_w = F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha)))
    weighted = strata.withColumn(
        "weight", raw_w / F.sum(raw_w).over(w_all)
    ).withColumn(
        "target_tokens",
        F.floor(F.lit(float(budget_tokens)) * F.col("weight")).cast("bigint"),
    )
    epochs = F.col("target_tokens") / F.col("n_tokens")
    return weighted.select(
        "stratum",
        "n_docs",
        "n_tokens",
        F.round("weight", 6).alias("weight"),
        "target_tokens",
        F.round(F.least(epochs, F.lit(float(max_epochs))), 4).alias("epochs"),
        (epochs > max_epochs).cast("int").alias("capped"),
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    n: int,
    salt: str = "cap",
) -> DataFrame:
    """Keep at most ``n`` rows per group, chosen deterministically — the
    per-domain / per-source document cap of a crawl pipeline (one hot
    domain must not dominate the corpus). The batch twin of the
    streaming quota_per_key operator (streaming/stateful.py).

    Selection order is the md5 sampling coordinate (then id for full
    determinism), NOT arrival order, so the kept subset is an unbiased
    within-group sample, stable across runs and engines. One window
    partitioned by the group — state per task is the counter, and a
    group's rows already live in one partition after the exchange, the
    same shuffle any per-group operator pays. Returns the capped rows
    with their selection rank (1..n)."""
    h = coord_md5(F.col(id_col), salt)
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return (
        df.withColumn("cap_rank", F.row_number().over(w))
        .filter(F.col("cap_rank") <= n)
    )


def train_val_test_split(
    df: DataFrame,
    key_col: str,
    val_frac: float = 0.01,
    test_frac: float = 0.01,
    salt: str = "split",
) -> DataFrame:
    """Deterministic corpus split: every row gets a ``split`` label
    (train/val/test) from its coord_md5 coordinate — the same hash-range
    idiom as stratified_sample, so membership is a pure function of the
    key: reproducible across runs, engines, and INCREMENTAL ingests (a
    doc added next month lands in the same split it would have today,
    which row-number or rand() splits cannot promise).

    Ranges are half-open on the 8-hex coordinate: [0, val) -> val,
    [val, val+test) -> test, rest -> train. One narrow projection, no
    shuffle; downstream writers filter or partitionBy the label."""
    if val_frac < 0 or test_frac < 0 or val_frac + test_frac >= 1:
        raise ValueError("need val_frac, test_frac >= 0 summing below 1")
    h = sample_hash_expr(F.col(key_col), salt)
    val_hi = rate_threshold_hex(val_frac)
    test_hi = rate_threshold_hex(val_frac + test_frac)
    return df.withColumn(
        "split",
        F.when(h < F.lit(val_hi), F.lit("val"))
        .when(h < F.lit(test_hi), F.lit("test"))
        .otherwise(F.lit("train")),
    )


def dsir_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target_pred: Column,
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed unigram distribution is, as
    the sum over token occurrences of log(p_target(b) / p_raw(b)) over
    ``n_buckets`` hashed feature buckets with add-1 smoothing.

    ``target_pred`` is a boolean column over ``df`` marking the target
    domain (e.g. ``F.col("lang") == "en"``); raw = the whole input. The
    paper then samples by these weights — pair with
    stratified/temperature sampling or a ``dsir_logratio > 0`` cut
    (``selected`` is that cut on the ROUNDED score, engine-stable).

    Scale shape: the token explode feeds (a) the bucket-count aggregate
    — n_buckets result rows, model-sized — and (b) the per-doc score
    join, so it is a ``cached()`` cut and the dominant pass runs once;
    the bucket LM table and its two scalar totals ride a broadcast, so the only data-sized shuffle is the per-doc groupBy.
    The bucket hash is the md5 first byte (not xxhash) so an external
    SQL engine can replay it; at 100 TB the feature space would move to
    ~2^20 buckets of token n-grams — same plan, bigger broadcast.

    Output (doc_id, n_tokens, dsir_logratio, in_target, selected).
    """
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("__text"),
        target_pred.cast("int").alias("in_target"),
    )
    toks = spread(base, "doc_id").select(
        "doc_id", "in_target", tokens_expr("__text").alias("t")
    )
    ex = cached(toks.select(
        "doc_id",
        "in_target",
        F.explode("t").alias("term"),
    ).withColumn(
        "b",
        F.conv(F.substring(F.md5("term"), 1, 2), 16, 10).cast("int")
        % n_buckets,
    ))
    counts = ex.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum("in_target").alias("ct"),
    )
    totals = counts.agg(
        F.sum("cr").alias("nr"), F.sum("ct").alias("nt")
    )
    weights = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                F.log((F.col("ct") + 1) / (F.col("nt") + n_buckets))
                - F.log((F.col("cr") + 1) / (F.col("nr") + n_buckets))
            ).alias("w"),
        )
    )
    scored = (
        ex.join(F.broadcast(weights), "b")
        .groupBy("doc_id", "in_target")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("w"), 4).alias("dsir_logratio"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "dsir_logratio",
        "in_target",
        (F.col("dsir_logratio") > 0).cast("int").alias("selected"),
    )


def score_bucket_sample(
    scored: DataFrame,
    score_col: str,
    id_col: str,
    n_buckets: int = 4,
    rates: dict[int, float] | None = None,
    default_rate: float = 1.0,
    salt: str = "ppl",
) -> DataFrame:
    """CCNet-style score-quantile bucketing + per-bucket deterministic
    sampling: split the corpus into ``n_buckets`` quantile buckets of
    any per-doc score (perplexity, DSIR weight, quality), then keep
    each bucket at its own rate — the "keep the middle, thin the tails"
    curriculum/quality mix.

    Quantiles are EXACT and scale-safe without a global sort of the
    corpus: the score is expected pre-rounded (unigram_logprob emits 4
    decimals), so the distinct-value histogram is tiny; the running
    cumulative count over that histogram (a histogram-sized window, not
    a corpus-sized one) gives each value its bucket
    ``ceil(n_buckets * cum / N)``, and docs join the value->bucket map
    by score — a broadcast. Ties share a bucket (unlike ntile, which
    splits ties nondeterministically across engines).

    Returns every input row with (bucket, sampled) so the selection is
    auditable; filter on ``sampled = 1`` downstream."""
    rates = rates or {}
    sc = F.col(score_col)
    hist = scored.groupBy(sc.alias("__v")).agg(F.count(F.lit(1)).alias("__c"))
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.select("__v", F.sum("__c").over(w).alias("__cum"))
    total = scored.agg(F.count(F.lit(1)).alias("__n"))
    bucket_map = cum.crossJoin(F.broadcast(total)).select(
        "__v",
        F.ceil(F.lit(n_buckets) * F.col("__cum") / F.col("__n"))
        .cast("int")
        .alias("bucket"),
    )
    thr: Column = F.lit(rate_threshold_hex(default_rate))
    for b, rate in sorted(rates.items()):
        thr = F.when(F.col("bucket") == b, F.lit(rate_threshold_hex(rate))).otherwise(
            thr
        )
    return (
        scored.join(F.broadcast(bucket_map), sc == F.col("__v"))
        .select(
            "*",
            (sample_hash_expr(F.col(id_col), salt) < thr).cast("int").alias("sampled"),
        )
        .drop("__v")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    n: int,
    salt: str = "wsmpl",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006): each row draws u = hash-uniform(0,1) from its key and
    scores ln(u)/w; the top-n scores win. Inclusion probabilities match
    sequential weighted draws without replacement, but the selection is
    a single distributed top-n — no sequential state, no RNG, identical
    across engines and runs.

    u comes from the first 8 md5 hex digits ((int+1)/(2^32+1), never 0
    so ln is finite). Top-n is per-partition heads + a driver-side n-row
    merge (TakeOrdered shape), not a global sort: at 100 TB each
    partition ships only n candidates. Ties broken by key for full
    determinism. Weights must be strictly positive."""
    u = (
        F.conv(F.substring(coord_md5(F.col(key_col), salt), 1, 8), 16, 10)
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(float(16**8 + 1))
    score = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.withColumn("__score", F.round(score, 12))
        .orderBy(F.col("__score").desc(), F.col(key_col))
        .limit(n)
        .drop("__score")
    )


def contamination_overlap(
    docs: DataFrame,
    bench_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    threshold: float = 0.1,
) -> DataFrame:
    """Exact benchmark-contamination report: for every training document
    (rows where ``bench_pred`` is false), the fraction of its word
    n-grams that also appear anywhere in the benchmark set (rows where
    ``bench_pred`` is true), plus a flag at ``threshold``.

    The exact complement to ``decontaminate`` (bloom-bitmap membership,
    one-sided error): this one reports the real overlap RATIO per
    document — the number a contamination audit publishes — instead of
    a drop decision. Same n-gram definition on both paths, so the bloom
    filter's false-positive cost can be graded against this truth.

    Scale shape: the benchmark gram set is eval-benchmark-sized (tiny
    next to a 100 TB corpus) and distinct — it BROADCASTS; training-doc
    grams stream through one hash join against it, partial-aggregated
    per doc. Nothing corpus-sized shuffles: the join output is bounded
    by hits, the groupBy key is the doc id. The report covers the whole
    corpus (left join, zero-hit docs kept); note the with_shingles
    short-doc fallback — a doc with fewer than ``n`` tokens contributes
    its WHOLE token string as its single gram, so such a doc flags as
    contaminated iff an equally short benchmark doc has the identical
    text (n_grams is never 0; the >0 guard is belt-and-braces for an
    upstream change to that fallback)."""
    from .dedup import with_shingles

    # the shingle projection feeds three consumers (benchmark gram set,
    # per-doc sizes, the hits explode): one cut, so the corpus
    # tokenizes once, not three times
    sh = cached(with_shingles(docs, text_col, id_col, n))
    flags = docs.select(
        F.col(id_col).alias("id"), bench_pred.alias("__is_bench")
    )
    sh = sh.join(flags, "id")
    bench_grams = (
        sh.filter(F.col("__is_bench"))
        .select(F.explode("shingles").alias("g"))
        .distinct()
    )
    train = sh.filter(~F.col("__is_bench")).select(
        "id", F.size("shingles").alias("n_grams"), "shingles"
    )
    hits = (
        train.select("id", F.explode("shingles").alias("g"))
        .join(F.broadcast(bench_grams), "g")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        train.drop("shingles")
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.when(F.col("n_grams") > 0,
                   F.floor(F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_grams")
                           * 1e4 + F.lit(0.5)) / 1e4)
            .otherwise(F.lit(0.0))
            .alias("overlap_frac"),
        )
        .withColumn(
            "contaminated", (F.col("overlap_frac") >= threshold).cast("int")
        )
    )


def ngram_novelty(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Ingestion-order novelty curve: per document, the fraction of its
    distinct word n-grams not present in ANY lower-id document — the
    number a continuously-growing corpus monitors to see marginal new
    data decaying into repetition (when novelty trends to 0, more
    ingestion buys nothing).

    Computed without comparing each doc to its whole prefix: a gram's
    FIRST owner is min(doc_id) over its occurrences — one hash aggregate
    keyed by gram — and a doc's novel grams are exactly those it owns.
    Two shuffles total (gram -> owner, doc -> counts), both map-side
    partial; no self-join, no per-prefix rescan, so the cost at 100 TB
    is that of exact dedup, not O(docs x prefix)."""
    from .dedup import with_shingles

    # the shingle frame feeds both sides of the owner self-join
    # (through the gram explode): one cut, so the corpus tokenizes once
    sh = cached(with_shingles(docs, text_col, id_col, n))
    grams = sh.select("id", F.explode("shingles").alias("g"))
    owners = grams.groupBy("g").agg(F.min("id").alias("owner"))
    novel = (
        grams.join(owners, "g")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("id") == F.col("owner")).cast("int")).alias("n_novel"),
        )
    )
    return novel.select(
        F.col("id").alias(id_col),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_novel").cast("long").alias("n_novel"),
        (
            F.floor(F.col("n_novel") / F.col("n_grams") * 1e4 + F.lit(0.5)) / 1e4
        ).alias("novelty"),
    )


def shard_manifest(
    df: DataFrame,
    key_col: str,
    content_cols: list[str],
    n_shards: int = 8,
    salt: str = "shard",
) -> DataFrame:
    """Per-shard integrity manifest: (shard, n_rows, fingerprint) — the
    receipt a 100 TB export writes next to its shards so any later copy,
    compaction, or re-read can prove "same rows, nothing lost, nothing
    mutated" without comparing data. Shards follow shard_assign's
    hash-mod scheme (same salt => the manifest describes exactly the
    shards shard_assign laid out).

    The fingerprint must be ORDER-FREE (shard files get rewritten in
    any row order) and exact at any scale: each row contributes the
    48-bit integer from the first 12 md5 hex chars of its canonical
    content string (key and content columns joined with '|', NULLs as
    ''), summed in DECIMAL(38,0) — exact and commutative, no float, no
    int64 overflow (2^48 * rows stays inside 38 digits past 10^23
    rows) — then reduced mod 2^31 - 1 to a compact check value. A
    single changed byte, dropped row, or duplicated row flips the
    fingerprint with the usual hash confidence.

    One narrow projection + one hash aggregate on the shard key; output
    is n_shards rows."""
    content = F.concat_ws(
        "|",
        F.col(key_col).cast("string"),
        *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in content_cols],
    )
    h = coord_md5(F.col(key_col), salt)
    h32 = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
    row48 = F.conv(F.substring(F.md5(content), 1, 12), 16, 10).cast(
        "decimal(38,0)"
    )
    return (
        df.select(
            F.pmod(h32, F.lit(n_shards)).cast("int").alias("shard"),
            row48.alias("_h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.pmod(F.sum("_h"), F.lit(2147483647).cast("decimal(38,0)"))
            .cast("long")
            .alias("fingerprint"),
        )
    )
