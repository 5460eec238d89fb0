"""Deduplication operators (north-star extension, BASELINE.json; SURVEY §4.4).

Five strategies, all shuffle-bounded for 100 TB:

- exact          : hash-groupBy on a content fingerprint. One shuffle on
                   md5(text) — uniform keys, no skew.
- n-gram Jaccard : shingle explode + self-join on shingle. Exact but the
                   join fans out on frequent shingles; keep for
                   verification / small-to-medium corpora.
- MinHash + LSH  : k seeded min-hashes -> b bands -> join on band key.
                   The shuffle is on band buckets (bounded fan-out), and
                   only candidate pairs pay the exact-Jaccard verify.
                   This is the 100 TB path.
- SimHash        : 16-bit signature from per-token hash bits, computed
                   with a single ``aggregate`` over the token array —
                   completely narrow (no shuffle) until the bucket join.
- embedding cosine: see similarity.py; near-dup = pairs over a cosine
                   threshold.

All hashing is md5-hex (functions/hashing.py) so a DuckDB oracle can
replay the exact pipeline; swap ``xxhash64`` in production for ~3x hash
throughput (same topology).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .caching import cached
from .sqltext import plain_ident, plain_literal

_HEX = "0123456789abcdef"


def _parse_bytes(raw: str, default: int) -> int:
    """Spark byte-string conf (plain number or k/m/g/t/p with optional
    trailing b) -> bytes; malformed values fall back to ``default``
    rather than crashing an operator over a conf typo."""
    s = raw.strip().lower().removesuffix("b")
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
            "t": 1 << 40, "p": 1 << 50}.get(s[-1:], 1)
    if mult != 1:
        s = s[:-1]
    try:
        return int(s) * mult
    except ValueError:
        return default


def tokens_expr(text_col: str | Column) -> Column:
    """Lowercased whitespace tokens with empties dropped.

    For a plain column NAME the expression is built as ONE parsed SQL
    string (r13): every Python-side Column operation — and especially a
    higher-order-function lambda, which builds its unresolved lambda
    variables call by call — is a py4j round-trip, and the tokenize/
    shingle/hash builders run inside the measured region of every
    query. One `F.expr` parse replaces the whole chain (construction
    profile: the expression-heavy builders spent 0.3-0.8 s per plan
    build in py4j, ~3x more than Catalyst itself). The parsed tree is
    the same filter(split(lower(..)))) expression, so plans and results
    are bit-identical. The regex is a RAW string literal (r'\\s+'):
    unlike '\\\\s+', its meaning does not flip if a host session enables
    the Hive-compat spark.sql.parser.escapedStringLiterals flag
    (ADVICE r13) — the parsed branch now matches the Column branch
    under every parser config."""
    if isinstance(text_col, str) and plain_ident(text_col):
        return F.expr(f"filter(split(lower({text_col}), r'\\s+'), t -> t != '')")
    if isinstance(text_col, str):
        text_col = F.col(text_col)
    return F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != F.lit(""))


def spread(df: DataFrame, key_col: str) -> DataFrame:
    """Hash-repartition to defaultParallelism IF the input has fewer
    partitions — otherwise pass through untouched.

    Why: narrow projections run in the SCAN stage, before any exchange.
    A small corpus table often arrives as one parquet file -> one
    partition, so an expensive projection chain (tokenize -> shingle ->
    k hashes) silently executes on a single core no matter how many are
    available; per-core wall-clock is identical, total is input-
    partitions-bounded. Spreading FIRST moves the compute after the
    exchange onto every core. At real corpus scale the scan already has
    >= parallelism partitions (maxPartitionBytes splits) and this is a
    no-op — the raw text is never shuffled when it doesn't need to be.

    Partition count is ESTIMATED from driver-side file metadata
    (inputFiles + on-disk sizes vs files.maxPartitionBytes), never via
    ``df.rdd`` — touching .rdd on a batch frame materializes the RDD
    lineage (plans the query) just to read a number. The estimate is
    min(per-file split count, openCost-padded packed-bytes count): the
    first bounds splittable big files, the second catches Spark's
    small-file bin-packing (64 tiny files land in ~2 scan partitions,
    not 64). Files whose suffix names a stream-compressed codec
    (.gz/.zst/.lz4/.sz/.deflate) are NOT splittable — Spark scans each
    as exactly one partition regardless of size, so they count one
    split each; otherwise a single big .json.gz would inflate the
    estimate past ``target`` and skip the repartition exactly when a
    one-partition scan needs it most. .bz2 is grouped with these even
    though Hadoop's Bzip2Codec IS splittable: counting it low is the
    safe direction (see the inline note). Non-file schemes (s3://,
    hdfs://) can't be stat'ed from here and count one split each — a
    remote many-small-files corpus may skip a useful spread, and a
    remote few-big-files corpus pays one avoidable shuffle; both are
    safe, neither is wrong. In-memory frames report no files and are
    treated as single-partition, i.e. spread."""
    import os

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files:
        max_bytes = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"),
            134217728,
        )
        open_cost = _parse_bytes(
            spark.conf.get("spark.sql.files.openCostInBytes", "4194304"),
            4194304,
        )
        splits, packed = 0, 0
        # .bz2 is deliberately counted as one split despite Hadoop's
        # Bzip2Codec being splittable: under-estimating existing
        # parallelism can only ADD a repartition (safe direction),
        # while over-estimating would skip one that's needed.
        unsplittable = (".gz", ".zst", ".bz2", ".lz4", ".sz", ".deflate")
        for f in files:
            sz = None
            if f.startswith("file:"):
                try:
                    sz = os.path.getsize(f.removeprefix("file:"))
                except OSError:
                    pass
            if sz is None:  # remote/unreadable: one split, one full pack
                splits += 1
                packed += max_bytes
            elif f.lower().endswith(unsplittable):
                splits += 1  # stream codec: whole file is one partition
                packed += sz + open_cost
            else:
                splits += 1 + max(0, (sz - 1) // max_bytes)
                packed += sz + open_cost
        est = min(splits, -(-packed // max_bytes))
    else:
        est = 0
    if est >= target:
        return df
    return df.repartition(target, F.col(key_col))


def _capped_by_count(df: DataFrame, keys: list[str], cap: int | None) -> DataFrame:
    """Drop every row whose ``keys`` group has more than ``cap`` rows,
    computed as a count window over the group — NOT as an aggregate
    joined back (r13 optimization). The aggregate-then-join shape pays
    for the cap three times: the count partials shuffle, the base table
    shuffles again for the join, and (because the surviving-keys table
    is vocabulary-sized — the cap only drops hot keys) AQE happily
    builds it into a vocabulary-sized broadcast hash relation. The
    count window needs exactly ONE hash(keys) exchange, and the
    candidate self-join that always follows these caps joins on the
    same keys, so it reuses that partitioning outright — no further
    exchange, no broadcast build. Row set is identical EXCEPT on NULL
    keys (ADVICE r13): the old inner join dropped NULL-key rows, while
    the count window keeps them as one group of their own. Every
    current call site follows with an inner equi-join on the same keys
    (which drops NULL-key rows again), so final outputs are unchanged —
    a future caller that does NOT re-join on the keys must filter NULLs
    itself if it wants the old semantics.

    ``cap=None`` passes the frame through untouched (uncapped exact
    mode)."""
    if cap is None:
        return df
    if "__grp_n" in df.columns:  # the projection below would duplicate it
        raise ValueError("_capped_by_count: input already has a __grp_n column")
    ks = ", ".join(keys)
    return (
        df.selectExpr(
            "*", f"count(1) OVER (PARTITION BY {ks}) AS __grp_n"
        )
        .filter(f"__grp_n <= {cap}")
        .drop("__grp_n")
    )


def shingles_from_tokens(tok_col: str | Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an ALREADY-PROJECTED token-array
    column; a doc with < n tokens contributes its whole token string as
    the single shingle.

    The input must be a column reference, not an inline tokenizer
    expression: this expression references the array once per sequence
    element (slice inside the transform lambda), and Catalyst does not
    common-subexpression-eliminate a non-trivial expression across those
    references — inlining tokens_expr here re-tokenizes the document per
    element, O(tokens^2) per row (measured 9x slower at sf0.1).

    Built as one parsed SQL string for a column NAME (r13, see
    tokens_expr): the transform lambda alone was a dozen py4j calls per
    plan build."""
    if isinstance(tok_col, str) and plain_ident(tok_col):
        return F.expr(
            f"CASE WHEN size({tok_col}) >= {n} THEN "
            f"array_distinct(transform(sequence(1, size({tok_col}) - {n - 1}), "
            f"i -> concat_ws(' ', slice({tok_col}, i, {n})))) "
            f"ELSE array(concat_ws(' ', {tok_col})) END"
        )
    t = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    full = F.array(F.concat_ws(" ", t))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        )
    )
    return F.when(F.size(t) >= n, grams).otherwise(full)


def word_shingles(text_col: str | Column, n: int = 3) -> Column:
    """One-shot text -> shingles expression. Convenience for small frames
    and tests ONLY — in any hot path project tokens_expr into a column
    first and use shingles_from_tokens (see its docstring for why)."""
    return shingles_from_tokens(tokens_expr(text_col), n)


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: one row per distinct content, keeper = min id.

    GroupBy on the md5 fingerprint, not the raw text: shuffle keys are
    32-byte uniform hashes instead of document bodies (100 TB: shuffle
    volume ~ O(rows), not O(corpus bytes))."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def with_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Project (id, shingles), lazily: a consumer that reads the shingle
    array more than once (signature, candidate sides a/b, verify) cuts
    it with ``cached()`` — re-tokenizing the corpus per consumer costs
    more than one cached pass. A cache (NOT localCheckpoint) keeps the
    lineage, so an evicted or lost block is recomputed instead of
    silently gone. Partitioning is BY id (hash), not round-robin:
    deterministic row placement, and downstream per-id operations reuse
    the partitioning.

    The spread happens BEFORE the projection chain (see spread()): a
    one-file corpus table would otherwise tokenize+shingle on a single
    core inside the scan stage — measured 2.4x on the full MinHash
    pipeline at sf0.1."""
    # Two-step projection: tokens land in a column, shingles reference it.
    # The token alias is referenced many times by the shingle expression,
    # so CollapseProject keeps the projections separate and the document
    # is tokenized exactly once per row.
    src = spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")),
        "id",
    )
    toks = src.select("id", tokens_expr("__text").alias("t"))
    return toks.select("id", shingles_from_tokens("t", n).alias("shingles"))


def _ppjoin_prefix(
    shingled: DataFrame, threshold: float, max_df: int
) -> DataFrame:
    """PPJoin prefix rows (id, ln, g): each doc's floor((1-T)*|A|)+1
    rarest shingles by ascending (df, g), df-capped. Complete, not a
    recall trade: the rarest SHARED shingle c of a pair with jaccard >=
    T must sit inside both prefixes — if c ranked past A's prefix, A
    would have > (1-T)*|A| elements ordered before c and none of them
    in B (c is the first common element), so |A inter B| < T*|A| <=
    T*|A union B|, contradiction. And a pair sharing ANY shingle with
    df <= max_df has df(c) <= max_df, so the df cap on prefix rows
    drops exactly the pairs the plain low-df join drops. Net: identical
    post-threshold output, with candidate fan-out sum(df_prefix(g)^2)
    instead of sum(df(g)^2) — measured 1.13M -> ~2k candidate pairs at
    sf0.1.

    SINGLE-READ shape (r14): df is a count window over g on the one
    exploded table — NOT a groupBy(g) aggregate joined back. The
    aggregate shape read the shingle table twice (explode + df table),
    and under AQE built the exploded side into a 40 MiB broadcast hash
    relation; at corpus scale the vocabulary-sized broadcast stops
    being possible and the join degenerates to shuffling the exploded
    table ANYWAY plus the count-partials shuffle. The window pays
    exactly one exchange of the exploded table. The df <= max_df filter
    runs BEFORE the rank window (shrinking its exchange): rank-
    invariant, because a surviving row's rank counts only rows with
    (df, g) <= its own, all of which have df <= max_df and survive the
    prefilter too.

    CAST(.. AS DOUBLE): a bare 0.8 parses as DECIMAL(1,1) in SQL while
    F.lit(0.8) was a double — the cast keeps the arithmetic (and any
    boundary rounding) bit-identical to the old Column tree. The
    prefix bound carries the same 1e-9 ceil guard as everywhere: naive
    floor((1-T)*|A|) is one short whenever (1-T)*|A| is an exact
    integer but floats land at N - 4e-16 (T=0.8, |A|=30 -> 5.999... ->
    5), silently dropping boundary pairs; over-long by one is harmless.
    """
    t_sql = f"CAST({threshold!r} AS DOUBLE)"
    return (
        shingled.selectExpr(
            "id", "size(shingles) AS ln", "explode(shingles) AS g"
        )
        .selectExpr("*", "count(1) OVER (PARTITION BY g) AS df")
        .filter(f"df <= {max_df}")
        .selectExpr(
            "*", "row_number() OVER (PARTITION BY id ORDER BY df, g) AS rk"
        )
        .filter(f"rk <= ln - ceil(ln * {t_sql} - 1e-9) + 1")
        .select("id", "ln", "g")
    )


def _ppjoin_candidates(prefix: DataFrame, threshold: float) -> DataFrame:
    """Candidate pairs from a PPJoin prefix table: equi-join on the
    prefix gram with the LENGTH FILTER (the second PPJoin bound, also
    complete): J(A,B) >= T implies min(|A|,|B|) >= |A inter B| >=
    T*|A union B| >= T*max(|A|,|B|), so both lengths must be within a
    factor T of each other. A pure codegen'd comparison in the join
    condition — it prunes candidates BEFORE the distinct and the
    array-intersect verify (measured: 119k -> fewer verify pairs at
    sf0.1 with identical post-threshold output; verify cost is linear
    in candidates, the dominant term at scale)."""
    t_sql = f"CAST({threshold!r} AS DOUBLE)"
    a, b = prefix.alias("a"), prefix.alias("b")
    return (
        a.join(
            b,
            F.expr(
                "a.g = b.g AND a.id < b.id"
                f" AND a.ln >= ceil(b.ln * {t_sql} - 1e-9)"
                f" AND b.ln >= ceil(a.ln * {t_sql} - 1e-9)"
            ),
        )
        .selectExpr("a.id AS doc_a", "b.id AS doc_b")
        .distinct()
    )


def jaccard_pairs(
    shingled: DataFrame,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over either all sharing-a-shingle pairs or a
    precomputed candidate set (from LSH). Returns (doc_a, doc_b, jaccard).

    ``max_df`` caps the candidate generator's fan-out: shingles appearing
    in more than max_df documents generate no CANDIDATES (the raw join's
    pair fan-out is sum(df(g)^2) — quadratic on any frequent shingle, the
    scale-killer at 100 TB). The cap applies to candidate GENERATION
    only: the jaccard value is always verified against the FULL shingle
    sets, so a surviving pair's score is exact. Trade-off (measured, not
    hand-waved): a duplicate cluster larger than max_df members has
    df > max_df on every shared shingle and produces no candidates — size
    max_df so it clears the corpus' real cluster sizes, and rely on
    MinHash-LSH (whose bucket cap has the same role) as the primary
    scale path.
    """
    if candidates is None and max_df is not None:
        # Capped candidates, then exact full-array verify below — the
        # intersection must NOT be counted on the capped table (that
        # underestimates jaccard for any pair sharing high-df shingles).
        # NOTE: built uncut here, so the self-join computes the prefix
        # twice when the input sits on a cache (AQE exchange reuse does
        # not cross InMemoryRelation subtrees — see OPTIMIZATION_r14.md);
        # ngram_jaccard_dedup_pairs cuts the prefix between the two
        # sides instead of calling this branch.
        prefix = _ppjoin_prefix(shingled, threshold, max_df)
        candidates = _ppjoin_candidates(prefix, threshold)
    if candidates is None:
        # Uncapped exact path: count-based intersection — |A ∩ B| is the
        # pair's co-occurrence count across the exploded shingle table,
        # aggregated with map-side partial counts; no shingle array is
        # ever shipped or intersected. (Correct ONLY over the full table:
        # every shared shingle must be counted.)
        ex = shingled.select("id", F.explode("shingles").alias("g"))
        a, b = ex.alias("a"), ex.alias("b")
        inter_counts = (
            a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        sizes = shingled.select("id", F.size("shingles").alias("ln"))
        la = sizes.select(F.col("id").alias("doc_a"), F.col("ln").alias("la"))
        lb = sizes.select(F.col("id").alias("doc_b"), F.col("ln").alias("lb"))
        # sizes is O(N docs) — no broadcast hint; AQE broadcasts when it
        # actually fits and falls back to shuffle join at corpus scale.
        union = F.col("la") + F.col("lb") - F.col("n_inter")
        return (
            inter_counts.join(la, "doc_a")
            .join(lb, "doc_b")
            .withColumn(
                "jaccard", F.round(F.col("n_inter") * F.lit(1.0) / union, 4)
            )
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
        )
    sa = shingled.selectExpr("id AS doc_a", "shingles AS sha")
    sb = shingled.selectExpr("id AS doc_b", "shingles AS shb")
    # CASTs keep literals DOUBLE (a bare 1.0/0.8 parses as DECIMAL in
    # SQL) so the arithmetic matches the old Column tree bit-for-bit
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .selectExpr(
            "*",
            "round(size(array_intersect(sha, shb)) * CAST(1.0 AS DOUBLE)"
            " / (size(sha) + size(shb) - size(array_intersect(sha, shb))), 4)"
            " AS jaccard",
        )
        .filter(f"jaccard >= CAST({threshold!r} AS DOUBLE)")
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """text -> shingles -> df-capped candidates -> exact-Jaccard pairs.
    The shingle projection is a ``cached()`` cut: the prefix pipeline
    and the verify join both read it (uncapped, both sides of the
    count-based intersection do).

    The capped path also cuts the PPJOIN PREFIX table (r14): AQE
    exchange reuse does not cross InMemoryRelation subtrees (measured,
    OPTIMIZATION_r14.md), so building the prefix uncut over the shingle
    cache executed the whole explode -> df -> rank chain TWICE — once
    per self-join side, one of them as a 40 MiB broadcast hash build of
    the exploded table (the r13 plan). With the prefix cut, the
    self-join reads the small capped prefix twice. Measured at sf0.1:
    1.95 -> 1.49 s, pairs identical (OPTIMIZATION_r14.md, ngram14)."""
    shingled = cached(with_shingles(df, text_col, id_col, n))
    if max_df is None:
        return jaccard_pairs(shingled, threshold)
    prefix = cached(_ppjoin_prefix(shingled, threshold, max_df))
    cands = _ppjoin_candidates(prefix, threshold)
    return jaccard_pairs(shingled, threshold, candidates=cands)


def minhash_signature(
    shingled: DataFrame, k: int = 16, hash_fn: str = "md5"
) -> DataFrame:
    """k MinHash components h0..h{k-1}: component j is the min over
    shingles of the j%4-th 8-hex-digit (32-bit) chunk of
    md5('{j//4}:'||s) — ONE md5 per shingle serves FOUR components
    (md5's 128 bits are uniform, so disjoint 32-bit chunks behave as
    independent hashes; the same digit-slicing trick
    simhash_from_hashes uses). ceil(k/4) seeded hash passes instead of
    k cuts the dominant per-element md5 work 4x; the per-component work
    left is a substring + array_min. 32-bit components are the standard
    MinHash width — component collisions across distinct shingles are
    the estimator's own 2^-32 noise floor. Computed with
    ``array_min(transform(...))`` per row — narrow, no explode, no
    shuffle. Hex-string min == numeric min of the chunk (fixed-width
    lowercase hex sorts identically).

    Each seeded hash array is PROJECTED into a real column before the
    four component expressions read it: inlining the transform would
    recompute the md5 pass once per component (CollapseProject keeps
    multi-ref non-cheap aliases separate — the array column is the
    supported way to share one pass).

    The per-seed lambda comes from a factory function — NEVER the
    ``lambda s, j=j`` default-arg capture idiom: PySpark binds a TWO-arg
    transform lambda as (element, index), so ``j`` would silently become
    the element-index Column and the seed literal would stringify to
    "Column<'y_N'>:" with a session-global counter — wrong and
    nondeterministic signatures.

    ``hash_fn``: "md5" (default) is the PORTABLE-ORACLE hash — a DuckDB
    twin can replay the exact pipeline bit-for-bit, which is what the
    correctness gate needs. "xxhash64" is the PRODUCTION fast path
    (JVM xxhash64 is ~3x cheaper per call than md5): one seeded
    xxhash64 per shingle serves TWO 32-bit components (the 64 bits
    split as the md5 hex chunks do), components become longs, and the
    band key is a direct xxhash64 of the component tuple. Recall is
    statistically equivalent (both are uniform hash families; identical
    docs collide under ANY hash, and the exact-Jaccard verify fixes
    precision either way) but signatures are NOT cross-engine
    replayable — ship xxhash64 where no oracle parity is needed."""

    # Both paths build their projections as parsed SQL strings (r13):
    # the 4-20 Python transform lambdas here were the single most
    # expensive plan-construction site in the repo (~0.28 s of py4j
    # round-trips per build, measured; 0.09 s as two selectExpr parses)
    # — and this builder runs inside the measured region of every
    # MinHash entry. The parsed expressions are identical to the old
    # Column-API trees, so signatures are bit-identical.
    if hash_fn == "xxhash64":
        n_seeds = (k + 1) // 2
        chunk64 = ["h & 4294967295", "shiftrightunsigned(h, 32)"]
        hashed = shingled.selectExpr(
            "*",
            *[
                f"transform(shingles, g -> xxhash64({s}, g)) AS __mh{s}"
                for s in range(n_seeds)
            ],
        )
        return hashed.selectExpr(
            *shingled.columns,
            *[
                f"array_min(transform(__mh{j // 2}, h -> {chunk64[j % 2]})) AS h{j}"
                for j in range(k)
            ],
        )

    n_seeds = (k + 3) // 4
    hashed = shingled.selectExpr(
        "*",
        *[
            f"transform(shingles, g -> md5(concat('{s}:', g))) AS __mh{s}"
            for s in range(n_seeds)
        ],
    )
    return hashed.selectExpr(
        *shingled.columns,
        *[
            f"array_min(transform(__mh{j // 4}, h -> substring(h, {8 * (j % 4) + 1}, 8))) AS h{j}"
            for j in range(k)
        ],
    )


def band_keys(
    signatures: DataFrame, k: int = 16, bands: int = 4, hash_fn: str = "md5"
) -> DataFrame:
    """(id, band, key) rows from a signature frame: band b's key is the
    md5 of its r=k/bands concatenated minhash components (or a direct
    xxhash64 of the tuple on the fast path — see minhash_signature's
    hash_fn contract). This is the join-key table for ALL LSH candidate
    generation — batch self-join (lsh_candidate_pairs) and incremental
    new-vs-store joins alike; at rest (band, key) is the
    bucket/partition key of a signature store."""
    r = k // bands

    def _key_sql(b: int) -> str:
        cols = ", ".join(f"h{b * r + i}" for i in range(r))
        if hash_fn == "xxhash64":
            return f"CAST(xxhash64({cols}) AS STRING)"
        return f"md5(concat({cols}))"

    # one selectExpr parse; `inline` explodes the array of named
    # structs straight into (band, key) columns — same rows as the old
    # explode(array(struct(...))) + field projection, built without the
    # per-band py4j struct calls (r13, see minhash_signature).
    return signatures.selectExpr(
        "id",
        "inline(array("
        + ", ".join(
            f"named_struct('band', {b}, 'key', {_key_sql(b)})"
            for b in range(bands)
        )
        + "))",
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    k: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """Band the signature and self-join on (band_idx, band_key).

    Shuffle is on band-key buckets: identical docs collide, unrelated docs
    spread uniformly (md5). ``max_bucket`` drops degenerate buckets with
    more than N members before the self-join — a bucket of B docs fans out
    B^2/2 pairs, and at corpus scale empty/boilerplate documents all hash
    to the same band keys (the classic LSH hot-bucket). A bucket that
    large is noise, not near-dup signal: true near-dup clusters are small,
    and any pair lost here still has bands-1 other chances to collide."""
    # bucket cap as a count window over (band, key) — see
    # _capped_by_count: almost every bucket survives the cap, so the
    # old aggregate + join-back shuffled the band table twice and
    # broadcast a bucket-list the size of the corpus' bucket vocabulary;
    # the window shares its one hash(band, key) exchange with the
    # self-join below (bench 2.64 -> 1.68 s at sf0.1 together with the
    # lazy signature persist, candidates identical).
    return _band_candidates(
        _capped_by_count(
            band_keys(signatures, k, bands, hash_fn=hash_fn),
            ["band", "key"],
            max_bucket,
        )
    )


def _band_candidates(banded: DataFrame) -> DataFrame:
    """Candidate pairs ``(doc_a, doc_b)``, doc_a < doc_b, of a capped
    ``(id, band, key)`` table: docs sharing any band key, from one
    self-join on (band, key)."""
    a, b2 = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b2,
            F.expr("a.band = b.band AND a.key = b.key AND a.id < b.id"),
        )
        .selectExpr("a.id AS doc_a", "b.id AS doc_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle -> signature -> band
    join (hot buckets capped at ``max_bucket``) -> exact-Jaccard verify on
    candidates only. ``hash_fn="xxhash64"`` swaps the signature/band
    hashing to the ~3x-cheaper JVM hash for production runs where no
    DuckDB oracle needs to replay the pipeline (see minhash_signature).

    The SIGNATURE frame (shingles + h0..h{k-1}) is a ``cached()`` cut:
    it feeds the band table and the shingle arrays for the verify join —
    caching upstream of the signature would recompute the 16 seeded hash
    passes once per consumer. The capped band table is cut too (r14):
    AQE exchange reuse does not cross InMemoryRelation subtrees
    (OPTIMIZATION_r14.md), so the band self-join over the signature
    cache executed the explode -> exchange(band,key) -> count-window
    chain TWICE, one side as a 9 MiB broadcast hash build. Cut, the
    self-join reads the small capped band table twice. Measured at
    sf0.1: 1.55 -> 1.43 s, pairs identical (OPTIMIZATION_r14.md,
    minhash14)."""
    shingled = with_shingles(df, text_col, id_col, n)
    sig = cached(minhash_signature(shingled, k, hash_fn=hash_fn))
    banded = cached(
        _capped_by_count(
            band_keys(sig, k, bands, hash_fn=hash_fn), ["band", "key"], max_bucket
        )
    )
    return jaccard_pairs(
        sig.select("id", "shingles"), threshold,
        candidates=_band_candidates(banded),
    )


def token_md5s(tok_col: str | Column, seed: str = "") -> Column:
    """One md5 hex string per token (optionally seeded). Project this
    into a column BEFORE computing simhash bits: each of the ``bits``
    aggregates reads one hex digit, so hashing must happen once per
    token, not once per (token, bit) — a 16-64x md5 saving."""
    if (
        isinstance(tok_col, str) and plain_ident(tok_col)
        and plain_literal(seed)
    ):
        # one parsed expression (r13, see tokens_expr)
        inner = f"md5(concat('{seed}', tok))" if seed else "md5(tok)"
        return F.expr(f"transform({tok_col}, tok -> {inner})")
    t = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    if seed:
        return F.transform(t, lambda tok: F.md5(F.concat(F.lit(seed), tok)))
    return F.transform(t, lambda tok: F.md5(tok))


def simhash_from_hashes(hash_cols: list[str | Column], bits: int = 16) -> Column:
    """SimHash bitstring from already-projected token-md5 arrays, one
    ``aggregate`` per bit (no explode/shuffle). Bit j reads the top bit
    of hex digit j%32 of hash array j//32 — each md5 carries 32 digits,
    so one hash array serves 32 bits and a second (differently seeded)
    array extends to 64. Portable to any engine with md5+substr.

    Signature WIDTH is a scale knob: the near-pair segment join buckets
    on bits/(h+1)-bit segments, so buckets number 2^(bits/(h+1)) and
    bucket size ~N / 2^(bits/(h+1)) — 16-bit signatures (5-bit segments,
    <=64 buckets) go quadratic on large corpora; size bits so segments
    carry ~log2(N) bits."""
    if bits > 32 * len(hash_cols):
        raise ValueError("need one hash array per 32 bits")
    if all(isinstance(c, str) and plain_ident(c) for c in hash_cols):
        # one parsed expression for the whole signature (r13, see
        # tokens_expr): the per-bit aggregate lambdas were ~10 py4j
        # round-trips each, x 16-64 bits per plan build
        def bit_sql(j: int) -> str:
            arr, digit = hash_cols[j // 32], j % 32
            return (
                f"CASE WHEN aggregate({arr}, 0, (acc, h) -> acc + "
                f"(CASE WHEN position(substring(h, {digit + 1}, 1), "
                f"'{_HEX}') - 1 >= 8 THEN 1 ELSE -1 END)) > 0 "
                "THEN '1' ELSE '0' END"
            )

        return F.expr(
            "concat(" + ", ".join(bit_sql(j) for j in range(bits)) + ")"
        )
    arrays = [F.col(c) if isinstance(c, str) else c for c in hash_cols]

    def bit(j: int) -> Column:
        arr, digit = arrays[j // 32], j % 32

        def step(acc: Column, h: Column) -> Column:
            hexval = (
                F.position(F.substring(h, digit + 1, 1), F.lit(_HEX)) - 1
            )
            return acc + F.when(hexval >= 8, 1).otherwise(-1)

        s = F.aggregate(arr, F.lit(0), step)
        return F.when(s > 0, F.lit("1")).otherwise(F.lit("0"))

    return F.concat(*[bit(j) for j in range(bits)])


def simhash_from_tokens(tok_col: str | Column, bits: int = 16) -> Column:
    """Token array -> SimHash, hashing inline. Convenience for small
    frames and tests — hot paths project token_md5s into columns first
    and use simhash_from_hashes (md5 once per token, not per bit)."""
    seeds = [""] if bits <= 32 else ["", "b:"]
    return simhash_from_hashes([token_md5s(tok_col, s) for s in seeds], bits)


def simhash_expr(text_col: str | Column, bits: int = 16) -> Column:
    """One-shot text -> SimHash expression. Convenience for small frames
    and tests ONLY — hot paths project tokens and hashes first."""
    return simhash_from_tokens(tokens_expr(text_col), bits)


def simhash_segments(bits: int, max_hamming: int) -> list[tuple[int, int]]:
    """(start, length) 1-based substring spans splitting a bits-long
    signature into max_hamming+1 near-equal segments. Pigeonhole: a pair
    with hamming <= h differs in at most h segments, so at least one of
    h+1 segments is EQUAL — h+1 segments (not 2 halves, which only covers
    hamming <= 1) is the correct band count."""
    nseg = max_hamming + 1
    base, extra = divmod(bits, nseg)
    spans, start = [], 1
    for i in range(nseg):
        length = base + (1 if i < extra else 0)
        spans.append((start, length))
        start += length
    return spans


def simhash_near_pairs(
    df: DataFrame, text_col: str, id_col: str, bits: int = 16, max_hamming: int = 2
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance.

    Candidates via the pigeonhole band join: explode each signature into
    max_hamming+1 (segment_idx, segment_value) rows and self-join on that
    pair — ONE equi-join Catalyst plans as a hash/sort-merge join on the
    segment key. (An OR of segment equalities in a single join condition
    is not an equi-join and falls back to a nested-loop/cartesian plan —
    the scale-killer this shape avoids.) Full hamming verified on
    candidates only.

    Staged projections: tokens -> per-token md5 arrays -> bits, so the
    tokenizer runs once and each token is hashed once (not once per
    bit)."""
    seeds = [""] if bits <= 32 else ["", "b:"]
    src = spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")),
        "id",
    )
    toks = src.select("id", tokens_expr("__text").alias("t"))
    hashed = toks.select(
        "id", *[token_md5s("t", s).alias(f"__h{i}") for i, s in enumerate(seeds)]
    )
    sig = hashed.select(
        "id",
        simhash_from_hashes(
            [f"__h{i}" for i in range(len(seeds))], bits
        ).alias("sig"),
    )
    spans = simhash_segments(bits, max_hamming)
    seg_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("seg_idx"),
                F.substring("sig", start, length).alias("seg"),
            )
            for i, (start, length) in enumerate(spans)
        ]
    )
    segs = sig.select("id", "sig", F.explode(seg_structs).alias("s")).select(
        "id", "sig", F.col("s.seg_idx").alias("seg_idx"), F.col("s.seg").alias("seg")
    )
    a, b = segs.alias("a"), segs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.seg_idx") == F.col("b.seg_idx"))
            & (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.expr(
        "aggregate(sequence(1, {b}), 0, (acc, i) -> acc + "
        "IF(substring(sig_a, i, 1) = substring(sig_b, i, 1), 0, 1))".format(b=bits)
    )
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    max_iters: int = 20,
) -> DataFrame:
    """Near-dup pairs -> duplicate clusters: (node, cluster_id) where
    cluster_id is the minimum doc id reachable through the pair graph
    (singletons map to themselves). This is the step that turns pairwise
    dedup output into an actual training corpus: keep one canonical doc
    per cluster (node == cluster_id), drop the rest.

    Algorithm: hash-min label propagation — each round every node takes
    the min label among itself and its neighbors; converges in
    O(diameter) rounds. Near-dup clusters are near-cliques (diameter
    2-3), so 3-4 rounds settle real corpora; ``max_iters`` bounds
    pathological chains. Convergence is detected with one scalar action
    per round — the count of nodes whose label changed this round —
    which works for ANY orderable id type (a sum-of-labels probe would
    be null for string ids and can overflow for long ones); no
    driver-side row collection ever.

    100 TB notes: each round is one shuffle-join edges x labels plus a
    groupBy(dst) min — both partition on node ids (uniform). Each
    round's labels are localCheckpoint'ed (eager), which both
    materializes them for the convergence count AND truncates the
    logical plan to the materialized cut: a round references the
    previous labels twice (the neighbor join and the carry-through), so
    an unbroken plan doubles per round and the exponential plan STRING
    alone OOMs the driver via AQE's per-update explain long before the
    data matters (caching does not help — InMemoryRelation still prints
    its full child plan; hypothesis falsified the persist-only version
    with a 26-node chain needing 20 rounds). Same discipline as
    connected_components_star. For graphs with large diameter at
    extreme scale, swap in large-star/small-star (O(log n) rounds, same
    building blocks); near-dup graphs converge in 3-4 rounds either way.

    ``pairs``: (doc_a, doc_b) columns. ``nodes``: one column of ids.
    The RETURNED frame reads the final round's locally-checkpointed
    labels; checkpoint blocks are released by the ContextCleaner once
    the frame is garbage-collected. The edge list every round reads is
    a ``cached()`` cut.
    """
    id_col = nodes.columns[0]
    edges = cached(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b"), F.col("doc_a")))
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("lbl")
    ).localCheckpoint(eager=True)
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_full = (
            labels.join(nbr_min, labels.node == nbr_min.dst, "left")
            .select(
                "node",
                F.col("lbl").alias("prev_lbl"),
                F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias(
                    "lbl"
                ),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = new_full.filter(F.col("lbl") != F.col("prev_lbl")).count()
        labels = new_full.select("node", "lbl")
        if n_changed == 0:
            break
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        (F.col("node") == F.col("lbl")).cast("int").alias("is_canonical"),
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    window: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Sorted-neighborhood near-dup (Hernández/Stolfo SNM): the third
    classic candidate-generation family next to the df-capped shingle
    join and MinHash-LSH. Sort records by a discriminating key, compare
    each record only with its ``window - 1`` successors, verify
    survivors exactly (full-set Jaccard, same verifier as every other
    candidate generator here).

    Scale shape: the sort is PARTITIONED BY BLOCK (first token) — a
    global Window.orderBy would collapse to one partition, the
    single-worker sort being exactly what SNM papers warn about. The
    neighborhood join is an equi-join on (block, rank + offset) after
    exploding offsets 1..window-1, so fan-out is a hard window-1 per
    record — SNM's defining property: candidate count is linear in
    corpus size no matter how skewed the key distribution.

    Recall trade (inherent to SNM, documented not hidden): near-dups
    whose keys land further than ``window`` apart in sort order — or in
    different first-token blocks — are missed; multi-pass SNM with
    rotated keys is the classic mitigation. Returns
    (doc_a, doc_b, jaccard), doc_a < doc_b.
    """
    # ONE tokenization pass: the cached token projection feeds both the
    # sort keys and the shingle sets (calling with_shingles separately
    # would re-tokenize the corpus); the shingles feed both verify sides.
    toks = cached(_snm_tokens(docs, text_col, id_col))
    sh = cached(toks.select("id", shingles_from_tokens("t", n).alias("shingles")))
    cand = _snm_candidates(_snm_head_key(toks), window)
    return jaccard_pairs(sh, threshold, candidates=cand)


def _snm_tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    src = spread(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")),
        "id",
    )
    return src.select("id", tokens_expr("__text").alias("t"))


def _snm_head_key(toks: DataFrame) -> DataFrame:
    """Pass-1 key: first token blocks, first-3-token sort key.
    try_element_at: an empty/whitespace-only doc has an empty token
    array — element_at would THROW under Spark 4's default ANSI mode;
    the NULL block groups empty docs together instead (matching the
    oracle's t[1], which is NULL out of range in DuckDB)."""
    return toks.select(
        "id",
        F.try_element_at("t", F.lit(1)).alias("block"),
        F.concat_ws(" ", F.slice("t", 1, 3)).alias("skey"),
    )


def _snm_tail_key(toks: DataFrame) -> DataFrame:
    """Pass-2 key: LAST token blocks, last-3-token sort key — the
    rotated key of classic multi-pass SNM (a near-dup whose head
    diverged usually still shares its tail)."""
    start = F.greatest(F.size("t") - 2, F.lit(1))
    return toks.select(
        "id",
        F.try_element_at("t", F.lit(-1)).alias("block"),
        F.concat_ws(" ", F.slice(F.col("t"), start, F.lit(3))).alias("skey"),
    )


def _snm_candidates(keyed: DataFrame, window: int) -> DataFrame:
    w = Window.partitionBy("block").orderBy("skey", "id")
    ranked = keyed.select("id", "block", F.row_number().over(w).alias("rn"))
    probe = ranked.withColumn(
        "off", F.explode(F.sequence(F.lit(1), F.lit(window - 1)))
    ).select("id", "block", (F.col("rn") + F.col("off")).alias("rn_b"))
    right = ranked.select(
        "block", F.col("rn").alias("rn_b"), F.col("id").alias("id_b")
    )
    return (
        probe.join(right, ["block", "rn_b"])
        .select(
            F.least("id", "id_b").alias("doc_a"),
            F.greatest("id", "id_b").alias("doc_b"),
        )
        .distinct()
    )


def sorted_neighborhood_pairs_multipass(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    window: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Classic multi-pass SNM: run the window over TWO rotated sort keys
    (head-of-document and tail-of-document) and verify the union of
    candidates once. Each pass keeps the linear candidate bound; the
    rotation recovers near-dups whose divergence happens to sit inside
    pass 1's key — the standard mitigation for SNM's key-locality
    recall hole, at exactly 2x the candidate-generation cost and ONE
    shared verify. Returns (doc_a, doc_b, jaccard)."""
    toks = cached(_snm_tokens(docs, text_col, id_col))
    sh = cached(toks.select("id", shingles_from_tokens("t", n).alias("shingles")))
    cand = (
        _snm_candidates(_snm_head_key(toks), window)
        .union(_snm_candidates(_snm_tail_key(toks), window))
        .distinct()
    )
    return jaccard_pairs(sh, threshold, candidates=cand)


def connected_components_star(
    pairs: DataFrame,
    nodes: DataFrame,
    max_iters: int = 16,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction — same output contract as :func:`connected_components`
    ((doc_id, cluster_id, is_canonical), cluster_id = component min),
    different round complexity: O(log^2 n) rounds proven, ~log n
    observed, versus hash-min's O(diameter).

    When to use which: near-dup clusters are near-cliques (diameter
    2-3), so hash-min settles in 3-4 rounds and is the cheaper default.
    On graphs with long chains — link graphs, co-citation, session
    stitching at 100 TB — diameter-bound propagation is the scale
    killer, and star contraction is the published fix (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).

    Each round is two passes over the edge list, each pass one
    groupBy(u) min + one equi-join back — the same shuffle primitives
    as hash-min, no driver-side data, no cartesian anywhere. Edge count
    monotonically shrinks toward the star forest. Convergence = edge
    set fixpoint, checked exactly with a join-count (two scalar
    actions per round on the already-shuffled canonical set).

    large-star(u): every neighbor v > u re-attaches to m(u) = min of
    u's closed neighborhood — long tails collapse onto local minima
    without ever disconnecting (v stays reachable from u through m).
    small-star(u): every neighbor v <= u (and u itself) attaches to
    m(u) — finishes the contraction into stars rooted at minima.

    The returned frame reads the final round's locally-checkpointed
    edge list; checkpoint blocks are released by the ContextCleaner
    once the frame is garbage-collected (no caller-unpersist needed).
    """
    id_col = nodes.columns[0]
    # Lineage discipline: every round references the previous edge set
    # ~6 times (two symmetrizations, two min-aggregations, the join
    # back, the convergence join), so an unbroken logical plan grows
    # 6^rounds and overflows the planner stack long before the data is
    # big — the classic iterative-algorithm failure. localCheckpoint
    # (eager) materializes each round's edges executor-local and CUTS
    # the lineage, keeping the per-round plan O(1). Hash-min
    # (connected_components) gets away with persist alone only because
    # near-clique graphs converge in 3-4 rounds.
    e = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("a"),
            F.greatest("doc_a", "doc_b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sym(ed: DataFrame) -> DataFrame:
        return ed.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            ed.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    def _mins(sym: DataFrame) -> DataFrame:
        return (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )

    def _canon(ed: DataFrame) -> DataFrame:
        return (
            ed.select(
                F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    n_old = e.count()
    for _ in range(max_iters):
        sym = _sym(e)
        # large-star: strictly-larger neighbors re-attach to the min
        ls = _canon(
            sym.filter(F.col("v") > F.col("u"))
            .join(_mins(sym), "u")
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
        )
        # small-star: smaller neighbors AND u itself attach to the min
        sym2 = _sym(ls)
        m2 = _mins(sym2)
        ss = _canon(
            sym2.filter(F.col("v") < F.col("u"))
            .join(m2, "u")
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
            .union(m2.select(F.col("u").alias("x"), F.col("m").alias("y")))
        ).localCheckpoint(eager=True)
        n_new = ss.count()
        unchanged = (
            n_new == n_old and ss.join(e, ["a", "b"]).count() == n_new
        )
        e = ss
        n_old = n_new
        if unchanged:
            break
    # star forest: every non-root carries exactly its (node, root) edge
    lbl = (
        _sym(e)
        .groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("u", "mv").alias("lbl"))
    )
    out = (
        nodes.select(F.col(id_col).alias("node"))
        .join(lbl, F.col("node") == lbl.u, "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("lbl", "node").alias("cluster_id"),
            (F.coalesce("lbl", "node") == F.col("node"))
            .cast("int")
            .alias("is_canonical"),
        )
    )
    return out


def containment_pairs(
    shingled: DataFrame,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """Near-containment pairs: max-containment C(A,B) = |A ∩ B| /
    min(|A|, |B|) >= threshold. Catches the case Jaccard misses by
    construction — a short document pasted inside a much longer one has
    tiny Jaccard (union is the big doc) but containment ~1. The standard
    second axis of corpus near-dup (quote/boilerplate inclusion,
    truncated re-crawls of the same page).

    Candidate generation is a LIGHT-SIDE positional-prefix join, COMPLETE
    for the min-denominator (unlike the Jaccard PPJoin prefix, whose
    union-bound length is unsound here): C(A,B) >= t with |A| <= |B|
    forces overlap >= ceil(t*|A|), so at least one intersection element
    lies among the first |A| - ceil(t*|A|) + 1 shingles of A in ANY fixed
    global order (otherwise all intersection elements sit in A's last
    ceil(t*|A|) - 1 slots — too few). The global order is rarest-first
    (df, g): prefix tokens are then the corpus-rare ones, so the
    prefix-occurrence x full-occurrence equi-join fans out by df of RARE
    tokens only — at t=0.9 the probe side is ~10% of occurrences, which
    measured ~8x fewer candidates than the old low-df x low-df join at
    sf0.1 (1.13M -> ~0.14M) with zero recall loss in the generator.

    ``max_df`` keeps its meaning as the REPORTING filter (a pair only
    counts as a near-dup if it shares at least one shingle of df <=
    max_df — identical output to the old df-capped generator), but it is
    now applied to the handful of verified survivors instead of shaping
    the candidate join: the completeness of the prefix generator makes
    the expensive path exact, and the df semantics cost one array
    intersect over survivor rows.

    Returns (doc_a, doc_b, containment), doc_a < doc_b.
    """
    ex = shingled.select("id", F.explode("shingles").alias("g"))
    dfreq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    sz = shingled.select("id", F.size("shingles").alias("ln"))
    # prefix length L = ln - ceil(t*ln) + 1, rarest-first (df, g) order.
    # The 1e-9 guard (same as jaccard_pairs): t*ln can land an ulp ABOVE
    # an exact integer (0.54*450 = 243.00000000000003), overshooting the
    # ceil and shortening the prefix by one — a silently dropped true
    # pair. The guard can only LENGTHEN the prefix (adds candidates,
    # never loses them), so completeness is preserved exactly.
    w = Window.partitionBy("id").orderBy("df", "g")
    pref = (
        ex.join(dfreq, "g")
        .join(sz, "id")
        .withColumn("rk", F.row_number().over(w))
        .filter(
            F.col("rk")
            <= F.col("ln")
            - F.ceil(F.lit(threshold) * F.col("ln") - F.lit(1e-9))
            + 1
        )
        .select(F.col("id").alias("pid"), "g", F.col("ln").alias("pln"))
    )
    idx = ex.join(sz, "id").select(
        F.col("id").alias("iid"), "g", F.col("ln").alias("iln")
    )
    # the guaranteed prefix is the SMALLER set's (ties: lower id probes)
    candidates = (
        pref.join(idx, "g")
        .filter(
            (F.col("pln") < F.col("iln"))
            | ((F.col("pln") == F.col("iln")) & (F.col("pid") < F.col("iid")))
        )
        .select(
            F.least("pid", "iid").alias("doc_a"),
            F.greatest("pid", "iid").alias("doc_b"),
        )
        .distinct()
    )
    sa = shingled.select(F.col("id").alias("doc_a"), F.col("shingles").alias("sha"))
    sb = shingled.select(F.col("id").alias("doc_b"), F.col("shingles").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    denom = F.least(F.size("sha"), F.size("shb"))
    verified = (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("containment", F.round(inter * F.lit(1.0) / denom, 4))
        .filter(F.col("containment") >= threshold)
    )
    if max_df is None:
        return verified.select("doc_a", "doc_b", "containment")
    # df-cap reporting filter on survivors only: per-doc low-df shingle
    # arrays (one join + groupBy over occurrences), then a membership
    # intersect per surviving pair — survivor-sized work
    lowg = (
        ex.join(dfreq.filter(F.col("df") <= max_df).select("g"), "g")
        .groupBy("id")
        .agg(F.collect_list("g").alias("lowg"))
    )
    la = lowg.select(F.col("id").alias("doc_a"), F.col("lowg").alias("lowa"))
    lb = lowg.select(F.col("id").alias("doc_b"), F.col("lowg").alias("lowb"))
    return (
        verified.join(la, "doc_a")
        .join(lb, "doc_b")
        .filter(F.size(F.array_intersect("lowa", "lowb")) >= 1)
        .select("doc_a", "doc_b", "containment")
    )


def containment_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """text -> shingles -> df-capped candidates -> exact containment
    pairs; the shingle projection is cut as in
    ngram_jaccard_dedup_pairs."""
    shingled = cached(with_shingles(df, text_col, id_col, n))
    return containment_pairs(shingled, threshold, max_df=max_df)


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 2,
    q: int = 3,
    key_len: int = 80,
) -> DataFrame:
    """Fuzzy (Levenshtein) near-dup pairs over a bounded key — the
    entity-resolution flavor of dedup (typo'd titles, re-keyed names,
    URL slugs) the set-similarity paths can't express. ED-Join-style
    symmetric prefix filter (Xiao et al., VLDB'08), EXACT — no recall
    trade:

    - key   = first ``key_len`` chars of lower(text): edit distance is
      O(len^2) per verify, so fuzzy matching runs on a bounded prefix
      key (the practical shape: titles/names/URLs), never whole docs.
    - grams = positional character q-grams of the key. One edit op
      destroys at most q gram occurrences, so ed(s,t) <= d implies the
      gram multisets differ by at most d*q occurrences.
    - prefix = each key's d*q+1 gram occurrences that rank FIRST in the
      global (df, gram, pos) order. Completeness: let v* be the
      smallest shared gram value (global (df, gram) order) of a pair
      within distance d. Every occurrence ranked before v*'s first
      occurrence has a value the other string lacks entirely, and there
      can be at most d*q such occurrences — so v*'s first occurrence
      sits inside BOTH prefixes and the equi-join on gram value finds
      the pair. Rarest-first ordering simultaneously makes the join
      fan-out concentrate on low-df grams (sum df_prefix(g)^2, not
      sum df(g)^2) — the same economics as the PPJoin prefix above.
    - length filter |len_a - len_b| <= d prunes at the join; the final
      ``levenshtein`` verify runs only on surviving candidates, so
      reported distances are exact.
    - SHORT keys: the shared-gram guarantee needs max(len_a, len_b) >=
      q*(d+1) (the count filter (max_len - q + 1) - d*q >= 1); a pair
      of shorter keys can be within distance d yet share zero grams
      ('' vs 'a'). Keys with len < q*(d+1) take a separate length-banded
      path: each emits d+1 probe lengths [len..len+d] and equi-joins the
      other side's exact length — still an equi-join, and the short-key
      population is alphabet-bounded (len < q*(d+1) chars), so the
      band fan-out cannot grow with corpus size the way the output
      itself doesn't.

    Shuffles: gram df count, df join-back + per-id window, candidate
    equi-join on gram, short-band equi-join, verify join-back — all
    keyed, no cartesian.
    Returns (doc_a, doc_b, dist), doc_a < doc_b, dist <= max_dist.
    """
    from pyspark.sql.window import Window

    keys = spread(
        df.select(
            F.col(id_col).alias("id"),
            F.substring(F.lower(F.col(text_col)), 1, key_len).alias("k"),
        ),
        "id",
    ).withColumn("len", F.length("k"))
    grams = keys.select(
        "id",
        "len",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(len - {q - 1}, 1)),"
                f" i -> substring(k, i, {q}))"
            )
        ).alias("pos", "gram"),
    )
    dftab = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("gdf"))
    w = Window.partitionBy("id").orderBy("gdf", "gram", "pos")
    prefix = (
        grams.join(dftab, "gram")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= max_dist * q + 1)
        .select("id", "len", "gram")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    gram_cand = a.join(
        b,
        (F.col("a.gram") == F.col("b.gram"))
        & (F.col("a.id") < F.col("b.id"))
        & (F.abs(F.col("a.len") - F.col("b.len")) <= max_dist),
    ).select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
    shorts = keys.select("id", "len").filter(F.col("len") < q * (max_dist + 1))
    sp = shorts.select(
        "id",
        "len",
        F.explode(
            F.sequence(F.col("len"), F.col("len") + F.lit(max_dist))
        ).alias("probe"),
    )
    short_cand = (
        sp.alias("sa")
        .join(shorts.alias("sb"), F.col("sa.probe") == F.col("sb.len"))
        .filter(F.col("sa.id") != F.col("sb.id"))
        .select(
            F.least("sa.id", "sb.id").alias("doc_a"),
            F.greatest("sa.id", "sb.id").alias("doc_b"),
        )
    )
    cand = gram_cand.unionByName(short_cand).distinct()
    ka = keys.select(F.col("id").alias("doc_a"), F.col("k").alias("ka"))
    kb = keys.select(F.col("id").alias("doc_b"), F.col("k").alias("kb"))
    # Banded verify: levenshtein with a threshold runs the O(len*d)
    # diagonal band instead of the full O(len^2) matrix (-1 = over
    # threshold) — on low-selectivity corpora (tiny gram vocabulary ->
    # candidate sets approaching quadratic) the verify dominates, and
    # the band is a ~len/d-fold cut with identical accepted pairs.
    return (
        cand.join(ka, "doc_a")
        .join(kb, "doc_b")
        .withColumn("dist", F.levenshtein("ka", "kb", max_dist))
        .filter(F.col("dist") >= 0)
        .select("doc_a", "doc_b", "dist")
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact repeated-substring span detection: for every document, the
    maximal token spans whose every k-token window also appears in at
    least ``min_docs - 1`` OTHER documents — the substring-level dedup
    signal of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better"), where a suffix array finds duplicated
    spans that document-level MinHash misses (boilerplate headers,
    license blocks, templated paragraphs).

    Spark-first shape (no suffix array needed for the windowed variant):

    1. narrow: tokenize, keep docs with >= k tokens, project every
       k-gram START position with the gram's md5 — one pass over the
       token array (``transform`` over ``sequence``), never re-tokenized
       per gram (see shingles_from_tokens on why the token array must be
       a materialized column);
    2. one shuffle: groupBy(gram) -> distinct-doc count; grams seen in
       >= min_docs docs are "duplicated" (md5 keys, uniform — no skew);
    3. one broadcast-able join: gram starts x duplicated grams (the
       duplicated-gram table is corpus-repetition-sized, far smaller
       than the gram table);
    4. per-doc window: merge overlapping/adjacent covered intervals
       [pos, pos+k-1] into maximal spans (gaps-and-islands; partitioned
       by doc — each task sees one doc's hit list, never the corpus).

    At 100 TB the gram explode is the dominant cost (x ~n_tokens rows),
    the same footprint as the shingle path MinHash already pays; the
    span-merge window is per-doc-bounded. The explode feeds BOTH the
    duplicated-gram aggregate and the hits join, so it is a ``cached()``
    cut and the dominant stage runs once. Output: one row per maximal
    duplicated span
    (doc_id, span_start, span_end, n_grams), token positions 1-based
    inclusive.
    """
    from pyspark.sql.window import Window

    toks = spread(df.select(id_col, text_col), id_col).select(
        F.col(id_col).alias("doc_id"), tokens_expr(text_col).alias("toks")
    )
    grams = cached(
        toks.filter(F.size("toks") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (k - 1)),
                    lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i, k))),
                )
            ).alias("pos0", "g"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")
    )
    dup = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("g")
    )
    hits = grams.join(dup, "g").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        hits.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "new_span",
            F.when(
                F.col("prev").isNull() | (F.col("pos") > F.col("prev") + k), 1
            ).otherwise(0),
        )
        .withColumn(
            "span_id",
            F.sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        islands.groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_grams")
    )


def scrub_repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document span REMOVAL: the apply step of duplicate_spans.
    Every maximal duplicated span is kept in exactly one document — the
    OWNER, per-window the lowest doc_id containing that k-gram — and
    deleted everywhere else, which is the one-copy-survives policy of
    suffix-array substring dedup (Lee et al. 2021) expressed per window.

    Shape on top of the duplicate_spans plan (same gram explode, same
    gaps-and-islands merge), plus:

    5. ownership: the gram aggregate also carries min(doc_id); a window
       is removable in doc d iff d != owner — so a doc keeps spans it
       owns and loses spans it copied (a doc can be owner of one span
       and copier of another in the same text);
    6. covered positions: islands -> disjoint spans -> one
       sequence-explode per span (span-count-sized, NOT window-count x
       k — the merge keeps the inflation bounded by output size);
    7. rebuild: per-doc covered-position array joined back onto the
       token array; a single indexed ``filter`` lambda drops covered
       slots. No shuffle of document text — tokens stay where the scan
       put them, only the (small) covered-position lists move.

    Output (doc_id, clean_text, n_tokens, n_removed): clean_text is the
    surviving NORMALIZED token stream (lowercased, single-space joined
    — the same token view every dedup operator here works on), not the
    original byte text. Docs with < k tokens or no duplicated windows
    pass through with n_removed = 0.

    The gram explode is a ``cached()`` cut: the ownership aggregate and
    the removable join both read it.
    """
    toks = spread(df.select(id_col, text_col), id_col).select(
        F.col(id_col).alias("doc_id"), tokens_expr(text_col).alias("toks")
    )
    grams = cached(
        toks.filter(F.size("toks") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (k - 1)),
                    lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i, k))),
                )
            ).alias("pos0", "g"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")
    )
    own = (
        grams.groupBy("g")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.min("doc_id").alias("owner"),
        )
        .filter(F.col("nd") >= min_docs)
        .select("g", "owner")
    )
    removable = (
        grams.join(own, "g")
        .filter(F.col("doc_id") != F.col("owner"))
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        removable.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "new_span",
            F.when(
                F.col("prev").isNull() | (F.col("pos") > F.col("prev") + k), 1
            ).otherwise(0),
        )
        .withColumn(
            "span_id",
            F.sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + (k - 1)).alias("e"),
        )
    )
    cov = (
        spans.select(
            "doc_id", F.explode(F.sequence(F.col("s"), F.col("e"))).alias("p")
        )
        .groupBy("doc_id")
        .agg(F.collect_list("p").alias("cov"))
    )
    covered = F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    # indexed filter: Spark lambda index is 0-based, positions 1-based.
    # Projected into its own column FIRST — the interpreted HOF is
    # referenced twice below and would otherwise run twice per row.
    kept = F.filter(
        F.col("toks"), lambda x, i: ~F.array_contains(covered, i + F.lit(1))
    )
    return (
        toks.join(cov, "doc_id", "left")
        .select("doc_id", "toks", kept.alias("kept"))
        .select(
            "doc_id",
            F.concat_ws(" ", "kept").alias("clean_text"),
            F.size("toks").alias("n_tokens"),
            (F.size("toks") - F.size("kept")).alias("n_removed"),
        )
    )


def suffix_anchors(
    df: DataFrame, text_col: str, id_col: str, k: int = 8
) -> DataFrame:
    """(doc_id, pos, g): every token k-gram start position with the gram
    md5 — the sorted-k-mer anchor projection shared by the whole suffix
    family (cross-doc pairs, within-doc self-spans, and the streaming
    new-docs-vs-corpus twin). One narrow pass, O(tokens) rows; only
    16-byte hashes ever reach a shuffle, never the text. Positions are
    1-based; docs shorter than ``k`` tokens emit nothing (they cannot
    contain a k-gram)."""
    toks = spread(df.select(id_col, text_col), id_col).select(
        F.col(id_col).alias("doc_id"), tokens_expr(text_col).alias("toks")
    )
    # single parsed projection (r13, see tokens_expr): the per-position
    # md5 transform lambda was ~0.1 s of py4j calls per plan build
    return (
        toks.filter(F.size("toks") >= k)
        .selectExpr(
            "doc_id",
            f"posexplode(transform(sequence(1, size(toks) - {k - 1}), "
            f"i -> md5(concat_ws(' ', slice(toks, i, {k}))))) AS (pos0, g)",
        )
        .selectExpr("doc_id", "pos0 + 1 AS pos", "g")
    )


def suffix_runs_to_spans(
    matches: DataFrame, k: int, min_len: int, pair_cols: list[str]
) -> DataFrame:
    """Diagonal gaps-and-islands run merge shared by the suffix family:
    ``matches`` carries (``pair_cols``..., pa, pb, diag); a maximal
    common substring of length L >= k is exactly a maximal run of
    L - k + 1 consecutive anchors on one diagonal, healed across df-cap
    holes by the k-gap rule (exactness argument in suffix_span_pairs).
    Output one row per maximal span: (pair_cols..., a_start, a_end,
    b_start, b_end, span_len >= min_len).

    Shape (r14): ONE aggregate fold per (pair, diag) group — collect
    the group's (pa, pb) anchors, sort, and fold into maximal spans
    with a single higher-order ``aggregate``. The r13 form spent a
    partition-wide Sort + a lag Window + a running-sum Window + a
    min/max aggregate above the same exchange (lag and the running sum
    cannot share one Window operator: the sum consumes lag's output).
    The fold does the identical gaps-and-islands merge in one pass;
    same exchange, same shuffled bytes, three fewer operators (bench
    1.23 -> 1.07 s at sf0.1, spans identical). Group buffers hold one
    (pair, diagonal)'s anchors — bounded by the shorter document's
    token count, the same bound the window partition had, and far
    below the per-task sort buffer the old Sort needed (ALL of a
    task's groups at once)."""
    # The empty spans array is typed by slicing a 1-element array of
    # the real accumulator struct to length 0 — the fold then preserves
    # the caller's pa/pb integer types exactly (a literal CAST(array()
    # AS ...) would hardcode them). The fold's own names carry a __
    # prefix so no ``pair_cols`` entry can collide with them.
    zero = (
        "slice(array(named_struct('__s', __ps[0].pa, '__e', __ps[0].pa, "
        "'__bmin', __ps[0].pb, '__bmax', __ps[0].pb)), 1, 0)"
    )
    acc0 = (
        f"named_struct('spans', {zero}, '__s', __ps[0].pa, "
        "'__e', __ps[0].pa, '__bmin', __ps[0].pb, '__bmax', __ps[0].pb)"
    )
    step = (
        f"(acc, x) -> IF(x.pa > acc.__e + {k}, "
        "named_struct("
        "'spans', acc.spans || array(named_struct('__s', acc.__s, "
        "'__e', acc.__e, '__bmin', acc.__bmin, '__bmax', acc.__bmax)), "
        "'__s', x.pa, '__e', x.pa, '__bmin', x.pb, '__bmax', x.pb), "
        "named_struct('spans', acc.spans, '__s', acc.__s, '__e', x.pa, "
        "'__bmin', least(acc.__bmin, x.pb), "
        "'__bmax', greatest(acc.__bmax, x.pb)))"
    )
    fin = (
        "acc -> acc.spans || array(named_struct('__s', acc.__s, "
        "'__e', acc.__e, '__bmin', acc.__bmin, '__bmax', acc.__bmax))"
    )
    return (
        matches.groupBy(*pair_cols, "diag")
        .agg(F.expr("sort_array(collect_list(struct(pa, pb)))").alias("__ps"))
        .selectExpr(
            *pair_cols,
            f"inline(aggregate(slice(__ps, 2, size(__ps) - 1), {acc0}, "
            f"{step}, {fin}))",
        )
        .selectExpr(
            *pair_cols,
            "__s AS a_start",
            f"__e + {k - 1} AS a_end",
            "__bmin AS b_start",
            f"__bmax + {k - 1} AS b_end",
            f"__e - __s + {k} AS span_len",
        )
        .filter(f"span_len >= {min_len}")
    )


def suffix_span_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_len: int = 16,
    max_df: int | None = 64,
) -> DataFrame:
    """PAIRWISE maximal common token substrings — the suffix-array-grade
    signal of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better"), distributed. `duplicate_spans` only marks
    positions in each doc as duplicated-somewhere; the published
    suffix-array tool reports WHICH two documents share WHICH
    variable-length span, without window alignment. This operator is the
    Spark-first equivalent: sorted-k-mer anchors + diagonal run merge.

    Identity that makes it exact (no suffix array needed): a maximal
    common token substring of length L >= k between docs A and B is
    EXACTLY a maximal run of L - k + 1 consecutive matching k-gram
    anchors on one diagonal (pos_a - pos_b constant). So:

    1. narrow: tokenize, project every k-gram start with the gram md5 —
       the same one-pass gram explode duplicate_spans/MinHash already
       pay (O(tokens) rows, hashes not text on the wire);
    2. df-cap: drop anchors with more than ``max_df`` total occurrences
       (boilerplate stop-grams) BEFORE the self-join — the identical
       hot-key discipline as winnow_substring_pairs/lsh; this is the
       only approximation, and the recall grader below measures it;
    3. one shuffle keyed on anchor gram: self-join, doc_a < doc_b,
       emitting (doc_a, doc_b, pa, pb, diag = pa - pb) — fan-out
       bounded by max_df^2 per gram;
    4. per-(pair, diag) gaps-and-islands with a gap threshold of k —
       the BIDIRECTIONAL-EXTENSION healing, and it is exact both ways:
       two surviving anchors at pa and pa' <= pa + k have token
       windows that touch/overlap, so their union is contiguous and
       every position in it lies inside one of the two matching
       windows — a common substring by construction (no token
       re-verification needed). Uncapped this is a no-op (inside a
       true common substring every intermediate anchor exists and
       matches, and across a mismatch of m >= 1 tokens the surviving
       anchors sit m + k apart — never merged); under a df-cap it
       heals the run splits hot dropped anchors would otherwise cause.
       span_len = max(pa) - min(pa) + k, the true token length.

    At 100 TB the anchor explode is the dominant, linear cost; the join
    shuffles only anchor hashes; each window partition is one (doc
    pair, diagonal) — thousands of tiny groups, no skew. Output one row
    per maximal shared span: (doc_a, doc_b, a_start, a_end, b_start,
    b_end, span_len), token positions 1-based inclusive.

    No cut: since the r13 count-window df-cap the anchor plan has a
    single consumer subtree (the window; the self-join's far side is a
    ReusedExchange of it), so a cache would only buy a cache write
    (measured 2.56 -> 1.26 s at sf0.1 together with the window cap,
    spans identical).
    """
    grams = suffix_anchors(df, text_col, id_col, k)
    # df-cap as a COUNT WINDOW over the join key, not aggregate-then-
    # join-back (r13): the "allowed grams" table is vocabulary-sized
    # (the cap drops only hot grams), so the old groupBy(g) -> join
    # shape shuffled the anchor table twice — once as count partials,
    # once for the join — and under AQE built a vocabulary-sized
    # broadcast hash relation on top. The window computes df inside the
    # ONE hash(g) exchange the self-join needs anyway, and the join
    # then reuses that exact partitioning (plan: 2 Exchange + 32 MiB
    # BroadcastExchange -> 1 Exchange on the anchor path; bench 2.56 ->
    # 1.26 s at sf0.1, rows identical). Same rows out: count(*) over
    # (partition by g) IS df(g) on every anchor row.
    anchors = _capped_by_count(grams, ["g"], max_df)
    a, b = anchors.alias("a"), anchors.alias("b")
    matches = a.join(
        b, F.expr("a.g = b.g AND a.doc_id < b.doc_id")
    ).selectExpr(
        "a.doc_id AS doc_a",
        "b.doc_id AS doc_b",
        "a.pos AS pa",
        "b.pos AS pb",
        "a.pos - b.pos AS diag",
    )
    return suffix_runs_to_spans(matches, k, min_len, ["doc_a", "doc_b"])


def suffix_self_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_len: int = 16,
    max_df: int | None = 64,
) -> DataFrame:
    """WITHIN-document maximal repeated substrings — the self-repeat
    half of Lee et al. substring dedup that `suffix_span_pairs`
    (cross-doc only, doc_a < doc_b) deliberately excludes: templated
    documents repeating their own paragraphs, model-generated loops,
    boilerplate stitched twice into one page. Same machinery, the join
    condition becomes same-doc with ``pos_a < pos_b``; diagonals are
    the repeat DISTANCE (pb - pa > 0), and the k-gap island merge gives
    maximal repeats with the identical exactness argument.

    A length-L substring repeated at distance d produces one maximal
    run on diagonal d; overlapping self-repeats (d < L, e.g. "x x x x")
    are reported on their period's diagonal — span_len counts the
    FIRST occurrence's length, so a 9-token 'x' stutter is one span of
    8 on diagonal 1, matching the tandem-repeat view.

    Output (doc_id, dist, a_start, a_end, b_start, b_end, span_len):
    positions 1-based inclusive, b_* = the repeat occurrence. Scale
    shape identical to the pairwise operator (anchor-keyed shuffle,
    df-capped fan-out, per-(doc, dist) windows). Registered as
    x_suffix_self_scrub's span stage (round 12).
    """
    grams = suffix_anchors(df, text_col, id_col, k)
    # window-count df-cap, same rewrite as suffix_span_pairs (r13):
    # one hash(g) exchange instead of aggregate + join-back.
    anchors = _capped_by_count(grams, ["g"], max_df)
    a, b = anchors.alias("a"), anchors.alias("b")
    matches = a.join(
        b,
        (F.col("a.g") == F.col("b.g"))
        & (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.pos") < F.col("b.pos")),
    ).select(
        F.col("a.doc_id").alias("doc_id"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
        (F.col("b.pos") - F.col("a.pos")).alias("dist"),
    )
    # dist IS the diagonal here, so (doc_id, dist, diag) partitions
    # identically to (doc_id, dist) and dist stays an output column
    return suffix_runs_to_spans(
        matches.withColumn("diag", F.col("dist")), k, min_len,
        ["doc_id", "dist"],
    )


def suffix_scrub(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_len: int = 16,
    max_df: int | None = 64,
) -> DataFrame:
    """One-copy-survives REMOVAL at suffix-span precision — the apply
    step of `suffix_span_pairs`, the Lee et al. 2021 policy on
    variable-length spans (scrub_repeated_spans applies it per k-window
    with a single global owner; here ownership is per shared span, and
    only spans >= ``min_len`` are scrubbed, so short accidental overlaps
    survive):

    5. ownership: for every pair span (doc_a < doc_b), the LOWER doc id
       keeps its copy — positions [b_start, b_end] are removable in
       doc_b only (a doc can keep one span as the a-side and lose
       another as the b-side in the same text);
    6. coverage: removable intervals per doc merge through one
       sequence-explode (output-sized, spans are already maximal);
    7. rebuild: covered-position lists join back onto the token arrays
       (only the small position lists shuffle, never the text), one
       indexed filter drops covered slots.

    Output (doc_id, clean_text, n_tokens, n_removed) — same contract as
    scrub_repeated_spans; clean_text is the normalized token stream.
    Registered as x_suffix_scrub (round 12) with a DuckDB coverage-
    rebuild twin. No cut: the pair plan is consumed exactly once (the
    coverage explode).
    """
    pairs = suffix_span_pairs(
        df, text_col, id_col, k=k, min_len=min_len, max_df=max_df
    )
    removable = pairs.select(
        F.col("doc_b").alias("doc_id"), "b_start", "b_end"
    )
    return scrub_coverage(df, text_col, id_col, removable)


def scrub_coverage(
    df: DataFrame, text_col: str, id_col: str, removable: DataFrame
) -> DataFrame:
    """The coverage-rebuild core shared by every span scrub (batch
    cross-doc, batch within-doc, and the streaming scrub-on-ingest):
    ``removable`` carries (doc_id, b_start, b_end) 1-based inclusive
    token intervals to drop; intervals merge through one output-sized
    sequence-explode + distinct; per-doc position LISTS (scrub-sized,
    never text-sized) join back onto the token arrays; one indexed
    array filter drops covered slots. Output (doc_id, clean_text,
    n_tokens, n_removed)."""
    toks = spread(df.select(id_col, text_col), id_col).select(
        F.col(id_col).alias("doc_id"), tokens_expr(text_col).alias("toks")
    )
    # parsed SQL (r14, see tokens_expr): this body runs per MICRO-BATCH
    # in streaming_suffix_scrub, and the indexed two-arg filter lambda
    # alone was dozens of py4j round-trips per plan build (construction
    # probe: 113 -> ~35 ms per call, identical tree)
    cov = (
        removable.selectExpr(
            "doc_id", "explode(sequence(b_start, b_end)) AS p"
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.expr("collect_list(p)").alias("cov"))
    )
    return (
        toks.join(cov, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "toks",
            "filter(toks, (x, i) -> NOT array_contains("
            "coalesce(cov, CAST(array() AS ARRAY<INT>)), i + 1)) AS kept",
        )
        .selectExpr(
            "doc_id",
            "concat_ws(' ', kept) AS clean_text",
            "size(toks) AS n_tokens",
            "size(toks) - size(kept) AS n_removed",
        )
    )


def suffix_self_scrub(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_len: int = 16,
    max_df: int | None = 64,
) -> DataFrame:
    """First-occurrence-survives WITHIN-document repeat removal — the
    apply step of `suffix_self_spans` (templated pages repeating their
    own paragraphs, generation loops): every repeat occurrence's
    positions (the b-side, which by construction starts after the
    first occurrence) are dropped; overlapping-period tandem repeats
    collapse to their first ``min_len``-guarded prefix because the
    covered-position UNION over all distances is what is removed.

    Output (doc_id, clean_text, n_tokens, n_removed) — the
    suffix_scrub contract. Registered as x_suffix_self_scrub (round
    12). No cut, as in suffix_scrub."""
    spans = suffix_self_spans(
        df, text_col, id_col, k=k, min_len=min_len, max_df=max_df
    )
    return scrub_coverage(
        df, text_col, id_col, spans.select("doc_id", "b_start", "b_end")
    )


def suffix_span_recall(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_len: int = 16,
    max_df: int = 64,
) -> DataFrame:
    """Measure what the df-cap costs `suffix_span_pairs`: ground truth =
    the UNCAPPED run (exact, the suffix-array answer), measured = the
    capped run at ``max_df``. Recall on two axes — distinct doc pairs
    with any shared span >= min_len, and total duplicated token mass
    (sum of span_len) — because a cap that keeps the pairs but truncates
    the spans still under-scrubs (same grader discipline as
    x_minhash_recall / x_winnow_recall).

    One row: (n_truth_pairs, n_found_pairs, pair_recall,
    truth_token_mass, found_token_mass, mass_recall). Quadratic only on
    the uncapped TRUTH side — the graded path is the capped one. Each
    span table feeds its pair count and its token mass, so both are
    ``cached()`` cuts.
    """
    truth = cached(suffix_span_pairs(
        df, text_col, id_col, k=k, min_len=min_len, max_df=None
    ))
    found = cached(suffix_span_pairs(
        df, text_col, id_col, k=k, min_len=min_len, max_df=max_df
    ))
    tp = truth.select("doc_a", "doc_b").distinct()
    fp = found.select("doc_a", "doc_b").distinct()
    hit = tp.join(fp, ["doc_a", "doc_b"], "left_semi")
    return (
        tp.agg(F.count(F.lit(1)).alias("n_truth_pairs"))
        .crossJoin(
            F.broadcast(hit.agg(F.count(F.lit(1)).alias("n_found_pairs")))
        )
        .crossJoin(
            F.broadcast(
                truth.agg(
                    F.coalesce(F.sum("span_len"), F.lit(0))
                    .cast("bigint")
                    .alias("truth_token_mass")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                found.agg(
                    F.coalesce(F.sum("span_len"), F.lit(0))
                    .cast("bigint")
                    .alias("found_token_mass")
                )
            )
        )
        .select(
            "n_truth_pairs",
            "n_found_pairs",
            # nullif denominators: a corpus with NO true pairs makes
            # recall honestly undefined (NULL) identically in both
            # engines, instead of NaN-vs-error divergence (the woe_iv
            # zero-marginal discipline)
            (
                F.floor(
                    F.col("n_found_pairs")
                    / F.nullif(F.col("n_truth_pairs"), F.lit(0))
                    * F.lit(1e4)
                    + F.lit(0.5)
                )
                / F.lit(1e4)
            ).alias("pair_recall"),
            "truth_token_mass",
            "found_token_mass",
            (
                F.floor(
                    F.col("found_token_mass")
                    / F.nullif(F.col("truth_token_mass"), F.lit(0))
                    * F.lit(1e4)
                    + F.lit(0.5)
                )
                / F.lit(1e4)
            ).alias("mass_recall"),
        )
    )


def cross_dedup(
    train: DataFrame,
    holdout: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Cross-corpus dedup: flag every TRAIN doc that also appears
    (exactly or as a near-duplicate) in a HOLDOUT corpus — the
    train-vs-eval leakage sweep that runs before any benchmark is
    trusted (reference analog: the K3 idempotent-key discipline applied
    across datasets; LLM-pipeline north-star).

    Exact layer: md5 content fingerprints, LEFT SEMI against the
    holdout's distinct fingerprint set — shuffle keys are 32-byte
    hashes, never document bodies.

    Near layer: MinHash band keys computed on BOTH corpora; candidates
    come from the (band, key) equi-join of train bands against holdout
    bands — never a cartesian, and only cross-corpus pairs are ever
    generated (an in-corpus self-join would re-do what
    minhash_dedup_pairs already covers). Holdout-side hot buckets above
    ``max_bucket`` are dropped before the join (same degenerate-bucket
    argument as lsh_candidate_pairs). Candidates are verified with the
    exact Jaccard on full shingle sets, so every flagged pair is a true
    >= threshold near-dup.

    Returns one row per TRAIN doc: (doc_id, exact_dup, near_dup, keep)
    with keep = NOT (exact_dup OR near_dup). Each corpus' shingle
    projection feeds its signature and the verify join, so both are
    ``cached()`` cuts.
    """
    fp_h = holdout.select(F.md5(F.col(text_col)).alias("fp")).distinct()
    exact_ids = (
        train.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("fp"))
        .join(fp_h, "fp", "left_semi")
        .select("id")
    )

    sh_t = cached(with_shingles(train, text_col, id_col, n))
    sh_h = cached(with_shingles(holdout, text_col, id_col, n))
    bands_t = band_keys(minhash_signature(sh_t, k), k, bands)
    bands_h = band_keys(minhash_signature(sh_h, k), k, bands)
    # count-window bucket cap (r13) — see _capped_by_count; the
    # train-vs-holdout band join on (band, key) reuses the window's
    # exchange on the holdout side.
    bands_h = _capped_by_count(bands_h, ["band", "key"], max_bucket)
    cand = (
        bands_t.select("band", "key", F.col("id").alias("tid"))
        .join(bands_h.select("band", "key", F.col("id").alias("hid")), ["band", "key"])
        .select("tid", "hid")
        .distinct()
    )
    sa = sh_t.select(F.col("id").alias("tid"), F.col("shingles").alias("sha"))
    sb = sh_h.select(F.col("id").alias("hid"), F.col("shingles").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - inter
    # round(4)-then-compare, the same boundary convention as
    # jaccard_pairs: the SAME pair must classify identically whether it
    # surfaces in the in-corpus dedup or the cross-corpus sweep
    near_ids = (
        cand.join(sa, "tid")
        .join(sb, "hid")
        .filter(F.round(inter * F.lit(1.0) / union, 4) >= threshold)
        .select(F.col("tid").alias("id"))
        .distinct()
    )

    return (
        train.select(F.col(id_col).alias("doc_id"))
        .join(
            exact_ids.withColumn("__ex", F.lit(True)),
            F.col("doc_id") == F.col("id"),
            "left",
        )
        .drop("id")
        .join(
            near_ids.withColumn("__nr", F.lit(True)),
            F.col("doc_id") == F.col("id"),
            "left",
        )
        .drop("id")
        .select(
            "doc_id",
            F.coalesce(F.col("__ex"), F.lit(False)).alias("exact_dup"),
            F.coalesce(F.col("__nr"), F.lit(False)).alias("near_dup"),
            (
                ~(F.coalesce(F.col("__ex"), F.lit(False))
                  | F.coalesce(F.col("__nr"), F.lit(False)))
            ).alias("keep"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every POSITIONAL token n-gram, slide a window of w
    consecutive hashes, keep each window's minimum — the selected set is
    the document's fingerprint. The guarantee fixed-stride shingling
    cannot give: ANY shared token run of length >= w + n - 1 produces at
    least one shared fingerprint, no matter how the run is SHIFTED by
    insertions before it (positions move, the window minima don't) —
    the substring-level dedup/plagiarism primitive.

    Density: ~2/(w+1) of the grams are selected, so the per-doc
    fingerprint set is w/2 x smaller than the full shingle set — the
    knob trades index size against the minimum detectable run length.

    Pure ordered-array expressions (sequence -> slice -> min), no
    explode until a consumer needs one; short docs (< n tokens) keep
    their whole token string as the single gram, and docs with fewer
    than w grams keep their global minimum — every doc fingerprints.

    Returns (id, n_grams, fps sorted-distinct array<string>) as a
    ``cached()`` cut — REQUIRED before any consumer that explodes
    ``fps``: a downstream Generate collapses the projection barrier
    between the gram pass and the window pass, inlining the whole
    gram-hash transform into the per-window ``slice`` lambda — O(m^2)
    md5 per doc (measured 35x at sf0.1). The projected-column
    discipline that protects multi-ref aliases inside plain selects
    does NOT survive Generate; a cached relation does.
    """
    src = spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")),
        "id",
    )
    toks = src.select("id", tokens_expr("__text").alias("t"))
    grams = F.when(
        F.size("t") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - (n - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice("t", i, n))),
        ),
    ).otherwise(F.array(F.md5(F.concat_ws(" ", F.col("t")))))
    h = toks.select("id", grams.alias("h"))
    fps = F.when(
        F.size("h") >= w,
        F.transform(
            F.sequence(F.lit(1), F.size("h") - (w - 1)),
            lambda j: F.array_min(F.slice("h", j, w)),
        ),
    ).otherwise(F.array(F.array_min(F.col("h"))))
    return cached(h.select(
        "id",
        F.size("h").alias("n_grams"),
        F.array_sort(F.array_distinct(fps)).alias("fps"),
    ))


def winnow_recall(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    w: int = 4,
    fps: DataFrame | None = None,
) -> DataFrame:
    """Measure the winnowing guarantee on real data: ground truth =
    pairs sharing any positional run of w + n - 1 tokens (equivalently,
    any (w+n-1)-gram), candidates = uncapped fingerprint-sharing pairs.
    The theorem says recall is EXACTLY 1.0 — every truth pair shares a
    window minimum — so this entry turns the proof into a cross-engine
    measured number (the same grader discipline as x_minhash_recall,
    except here 1.0 is a theorem, not a tuning outcome). n_candidates >
    n_truth is expected: fingerprints also pair docs sharing shorter
    runs (pigeonhole slack), which the exact verify downstream resolves.

    One row: (n_truth, n_covered, recall, n_candidates). ``fps``: a
    fingerprint index to grade (and share across consumers) instead of
    recomputing one — forwarded to `winnow_substring_pairs`. The truth
    gram explode (both self-join sides) and the candidate pairs (the
    coverage join and the candidate count) are ``cached()`` cuts."""
    run_len = w + n - 1
    src = spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")),
        "id",
    )
    toks = src.select("id", tokens_expr("__text").alias("t"))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("t") - (run_len - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice("t", i, run_len))),
        )
    )
    ex = cached(
        toks.filter(F.size("t") >= run_len).select(
            "id", F.explode(grams).alias("g")
        )
    )
    a, b = ex.alias("a"), ex.alias("b")
    truth = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )
    cand = cached(
        winnow_substring_pairs(
            df, text_col, id_col, n=n, w=w, max_df=None, fps=fps
        ).select("doc_a", "doc_b")
    )
    covered = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(F.broadcast(covered.agg(F.count(F.lit(1)).alias("n_covered"))))
        .crossJoin(
            F.broadcast(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        )
        .select(
            "n_truth",
            "n_covered",
            F.round(F.col("n_covered") / F.col("n_truth"), 4).alias("recall"),
            "n_candidates",
        )
    )


def winnow_substring_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    w: int = 4,
    max_df: int | None = 50,
    fps: DataFrame | None = None,
) -> DataFrame:
    """Substring-sharing candidate pairs from winnowing fingerprints:
    docs sharing any fingerprint (equivalently, by the winnowing
    guarantee, any token run >= w + n - 1 — shift-robust, unlike a
    fixed-stride gram join) pair up with the count of shared selected
    hashes. ``max_df`` drops degenerate boilerplate fingerprints before
    the self-join — the same hot-key cap discipline as every other
    candidate generator here; at rest the fingerprint table is the
    substring-dedup INDEX (docs-x-density rows, w/2 x smaller than a
    full shingle index).

    Returns (doc_a, doc_b, n_shared) with doc_a < doc_b. The
    fingerprint frame is the one cut (see winnow_fingerprints: exploding
    an uncut fps column inlines the gram pass into the window lambda —
    O(m^2) per doc).

    ``fps``: an (id, n_grams, fps) frame from `winnow_fingerprints` (or
    an equivalent stored index) — the fingerprint table IS the reusable
    substring index, so consumers that need it more than once per
    process (the recall grader, a dedup pass, a plagiarism report)
    should compute it once and pass it in. It must already be a cut
    (cached or read from storage) — see the Generate-trap note above."""
    if fps is None:
        fps = winnow_fingerprints(df, text_col, id_col, n, w)
    ex = fps.select(F.col("id"), F.explode("fps").alias("fp"))
    # count-window df-cap (r13) — see _capped_by_count; the self-join
    # below is on fp, so it reuses the window's hash(fp) exchange.
    capped = _capped_by_count(ex, ["fp"], max_df)
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(
            b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id"))
        )
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
