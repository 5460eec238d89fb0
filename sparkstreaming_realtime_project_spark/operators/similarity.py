"""Similarity search over embedding columns (north-star extension).

Two tiers:

- brute-force top-k: broadcast the (small) query set against all
  candidates; cosine evaluated as JVM higher-order functions over
  array<double> — no Python, no UDF. Cost O(|Q| x N): the baseline and
  the verifier for the bucketed path.
- sign-LSH / IVF-style bucketed top-k: partition vectors into buckets by
  the sign pattern of a few projections, probe only the query's bucket.
  At 100 TB the bucket column is a partition key: a query touches one
  bucket's files instead of the full corpus. Hyperplanes are pluggable;
  the default uses axis-aligned dims so an external SQL oracle can
  replay it exactly (random hyperplanes = pass explicit coefficient
  lists).

All arithmetic is double, accumulated left-to-right (aggregate with 0.0
init), which is bit-identical to DuckDB's list_reduce over DOUBLE[] —
that's what lets the oracle hash-match float outputs after round(4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .caching import cache_scope, cached


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def norm_col(vec: Column) -> Column:
    """sqrt(v·v), for precomputing BEFORE a pairwise join: higher-order
    folds are interpreted (not codegen'd), so evaluating each side's
    self-dot once per VECTOR instead of once per PAIR removes ~2/3 of
    the per-pair element work. Bit-identical to the inline form — same
    fold, same sqrt, just factored out of the join."""
    return F.sqrt(_dot(vec, vec))


def cosine_prenormed(dot_ab: Column, na: Column, nb: Column) -> Column:
    """cosine from a cross dot and two precomputed norm_col columns —
    the same float op sequence as cosine(), one division at the end."""
    return dot_ab / (na * nb)


def as_double_vec(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def knn_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query row.

    ``queries`` is expected small (it's broadcast); candidates stream
    through executors partition-local — the only shuffle is the final
    per-query top-k, bounded at |Q| x k rows by the window."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(vec_col).alias("qv")
    ).withColumn("qn", norm_col(F.col("qv")))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), as_double_vec(vec_col).alias("cv")
    ).withColumn("cn", norm_col(F.col("cv")))
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).withColumn(
        "sim",
        cosine_prenormed(_dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 4).alias("sim"))
    )


def knn_gemm(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors via an Arrow-vectorized batch kernel
    (``mapInPandas`` + numpy) — same contract and BIT-IDENTICAL results
    as :func:`knn_bruteforce`.

    Why it exists: the JVM expression path evaluates the cosine as
    interpreted higher-order folds, ~d element ops per PAIR. This path
    runs d numpy ops per BATCH (each op vectorized over |Q| x batch
    pairs) — at production dims (768+) that is the difference between an
    interpreter loop and SIMD over Arrow buffers, the 10-100x regime the
    Pandas-UDF guidance is about.

    Determinism: the accumulation is the SAME left-to-right
    per-dimension fold as the JVM/DuckDB side (``acc += Q[:,d]*C[:,d]``,
    one dimension at a time, float64) — deliberately NOT ``np.dot``,
    whose pairwise/BLAS summation reassociates floats. Norms fold the
    same way; the final division is dot/(qn*cn) in the same order. IEEE
    double ops are deterministic across JVM and numpy, so every sim
    matches knn_bruteforce ulp for ulp and the shared oracle SQL needs
    no change.

    Scale shape: per-batch local top-k (same (sim desc, id asc) total
    order as the final ranking, so the global top-k is always contained
    in the union of batch winners) bounds what leaves each executor at
    |Q| x k rows per Arrow batch; the final exact window ranks only
    batches x |Q| x k rows. Queries ride along as a model-sized
    (|Q| x d) broadcast inside the closure — same pattern as the IVF
    centroid frame, no per-row Python."""
    import numpy as np
    import pandas as pd

    q_rows = sorted(
        queries.select(
            F.col(id_col).alias("qid"), as_double_vec(vec_col).alias("qv")
        ).collect(),
        key=lambda r: r["qid"],
    )
    if not q_rows:
        raise ValueError("knn_gemm: empty query set")
    qids = np.array([r["qid"] for r in q_rows], dtype=np.int64)
    qmat = np.array([r["qv"] for r in q_rows], dtype=np.float64)
    dims = qmat.shape[1]
    qn = np.zeros(len(qids), dtype=np.float64)
    for d in range(dims):  # left-to-right self-dot fold, then sqrt
        qn += qmat[:, d] * qmat[:, d]
    qn = np.sqrt(qn)

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            cids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            cmat = np.array(list(pdf["cv"]), dtype=np.float64)
            dot = np.zeros((len(qids), len(cids)), dtype=np.float64)
            cn = np.zeros(len(cids), dtype=np.float64)
            for d in range(dims):  # the JVM fold, vectorized across pairs
                dot += qmat[:, d][:, None] * cmat[:, d][None, :]
                cn += cmat[:, d] * cmat[:, d]
            sim = dot / (qn[:, None] * np.sqrt(cn)[None, :])
            out_q, out_n, out_s = [], [], []
            for qi in range(len(qids)):
                keep = cids != qids[qi]
                ids_i, sim_i = cids[keep], sim[qi][keep]
                # batch-local top-k under the FINAL total order
                top = np.lexsort((ids_i, -sim_i))[:k]
                out_q.append(np.full(len(top), qids[qi], dtype=np.int64))
                out_n.append(ids_i[top])
                out_s.append(sim_i[top])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "sim": np.concatenate(out_s),
                }
            )

    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), as_double_vec(vec_col).alias("cv")
    )
    pruned = c.mapInPandas(
        batches, "query_id bigint, neighbor_id bigint, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 4).alias("sim"))
    )


def sign_bucket(vec: Column, dims: tuple[int, ...] = (1, 2, 3)) -> Column:
    """Sign-pattern bucket id: '101' = dims 1,3 non-negative, dim 2
    negative (1-based element_at). Axis-aligned hyperplane LSH."""
    bits = [
        F.when(F.element_at(vec, d) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for d in dims
    ]
    return F.concat(*bits)


def probe_buckets(bucket: Column, n_bits: int, radius: int = 1) -> Column:
    """Array of bucket ids to probe: the home bucket plus, for radius 1,
    every bucket one bit-flip away. The standard multi-probe LSH recall
    knob: a query near a hyperplane finds neighbors that fell on the
    other side, at the cost of probing n_bits extra buckets (still
    independent of corpus size N)."""
    if radius not in (0, 1):
        raise ValueError("probe radius 0 or 1 supported")
    out = [bucket]
    if radius == 1:
        for i in range(1, n_bits + 1):
            c = F.substring(bucket, i, 1)
            flipped = F.when(c == "1", F.lit("0")).otherwise(F.lit("1"))
            out.append(
                F.concat(
                    F.substring(bucket, 1, i - 1),
                    flipped,
                    F.substring(bucket, i + 1, n_bits - i),
                )
            )
    return F.array(*out)


def knn_bucketed(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: tuple[int, ...] = (1, 2, 3),
    probe_radius: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-LSH
    bucket(s). Join key = bucket, so the pair fan-out is ~N/2^bits per
    probed bucket instead of N. ``probe_radius=1`` multi-probes all
    one-bit-flip buckets (the recall knob: each candidate lives in
    exactly one bucket, so probing more buckets only adds candidates,
    never duplicates)."""
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double_vec(vec_col).alias("qv"),
        )
        .withColumn("bucket", sign_bucket(F.col("qv"), dims))
        .withColumn("qn", norm_col(F.col("qv")))
    )
    if probe_radius:
        q = q.withColumn(
            "bucket",
            F.explode(probe_buckets(F.col("bucket"), len(dims), probe_radius)),
        )
    c = (
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            as_double_vec(vec_col).alias("cv"),
        )
        .withColumn("bucket", sign_bucket(F.col("cv"), dims))
        .withColumn("cn", norm_col(F.col("cv")))
    )
    scored = (
        c.join(F.broadcast(q), ["bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim",
            cosine_prenormed(_dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "bucket", "neighbor_id", "rank", F.round("sim", 4).alias("sim")
        )
    )


def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int | None = 6,
) -> list[list[float]]:
    """Deterministic k-means-lite centroids for IVF partitioning.

    Seeding is the first n_centroids vectors by id (reproducible — no
    RNG); each Lloyd iteration assigns every vector to its nearest
    centroid against the model attached as a 1-row broadcast array
    column (_cents_col/_cell_expr — a narrow projection, no shuffle,
    plan size O(1) in both k and d)
    and recomputes per-centroid dimension-wise means via posexplode ->
    groupBy(cid, pos) — ONE aggregate regardless of dimensionality. (A
    per-dimension ``avg(element_at(v, i))`` expression list works at
    d=8 but is thousands of aggregate expressions at real embedding
    dims — codegen/plan-size blowup; likewise literal-folded assignment
    compiled the whole codebook into every stage.) Only
    the k x d centroid matrix ever reaches the driver: that is the MODEL,
    not the data — the per-iteration data pass stays fully distributed.

    ``round_decimals`` quantizes each new centroid (default 1e-6): means
    are float sums whose addend ORDER depends on partitioning, so
    unquantized centroids can differ in final ulps between runs/engines
    and flip boundary assignments — quantized, the model is reproducible
    bit-for-bit anywhere (what lets a SQL oracle replay the training)."""
    spark = embeddings.sparkSession
    with cache_scope():
        e = cached(embeddings.select(
            as_double_vec(vec_col).alias("v"), F.col(id_col).alias("id")
        ))
        dim = len(e.select("v").first()["v"])
        cents = [
            list(r["v"]) for r in e.orderBy("id").limit(n_centroids).collect()
        ]
        for _ in range(iters):
            assigned = _attach(e, _cents_col(spark, cents)).select(
                _cell_expr(F.col("v")).alias("cid"), "v"
            )
            means = (
                assigned.select("cid", F.posexplode("v").alias("pos", "x"))
                .groupBy("cid", "pos")
                .agg(F.avg("x").alias("m"))
                .collect()
            )
            by_cid: dict[int, dict[int, float]] = {}
            for r in means:
                by_cid.setdefault(r["cid"], {})[r["pos"]] = (
                    round(r["m"], round_decimals)
                    if round_decimals is not None
                    else r["m"]
                )
            # empty centroids keep their previous position (standard Lloyd)
            cents = [
                [by_cid[c][p] for p in range(dim)] if c in by_cid else cents[c]
                for c in range(n_centroids)
            ]
    return cents


def _cents_col(spark, centroids: list[list[float]]) -> DataFrame:
    """The centroid MODEL as a SINGLE-ROW frame whose one column
    ``__cents`` is the whole codebook (array<struct<cid, c>>) —
    model-as-data. Cross-joined (broadcast, 1 row) onto the vectors it
    keeps assignment a narrow per-row projection — no shuffle, no row
    fan-out — while the plan stays O(1) in both k and d (the
    literal-folded alternative compiles the whole codebook into every
    stage: seconds of codegen per iteration and a plan-size blowup at
    real dims)."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    return spark.createDataFrame(
        [(rows,)], "__cents array<struct<cid:int,c:array<double>>>"
    )


def _attach(df: DataFrame, model_row: DataFrame) -> DataFrame:
    """Broadcast the 1-row model frame onto every row of ``df``."""
    return df.crossJoin(F.broadcast(model_row))


def _cell_expr(vec: Column) -> Column:
    """Nearest-centroid id (max cosine, ties to the lowest cid) against
    the attached ``__cents`` column. Same math, fold, and struct-order
    tie-break as a literal argmin, so assignments are bit-identical."""
    entries = F.transform(
        F.col("__cents"),
        lambda x: F.struct(
            (-cosine(vec, x["c"])).alias("negsim"), x["cid"].alias("cid")
        ),
    )
    return F.array_min(entries)["cid"]


def _probe_expr(vec: Column, n_probe: int) -> Column:
    """The query's ``n_probe`` nearest centroid ids in (negsim, cid)
    order, against the attached ``__cents`` column."""
    entries = F.transform(
        F.col("__cents"),
        lambda x: F.struct(
            (-cosine(vec, x["c"])).alias("neg"), x["cid"].alias("cid")
        ),
    )
    return F.slice(F.array_sort(entries), 1, n_probe)["cid"]


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 3,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: vectors are pre-assigned to their nearest
    centroid's inverted list (``cid`` — at rest this is the partition
    key, so a probe reads n_probe lists instead of the corpus); each
    query probes its ``n_probe`` nearest centroids and ranks candidates
    by exact cosine. n_probe is the recall knob, mirroring multi-probe
    LSH."""
    n_cent = len(centroids)
    if not 1 <= n_probe <= n_cent:
        raise ValueError("n_probe must be in [1, n_centroids]")
    spark = embeddings.sparkSession
    cents_row = _cents_col(spark, centroids)
    c = _attach(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"), as_double_vec(vec_col).alias("cv")
        ),
        cents_row,
    ).select(
        "neighbor_id",
        _cell_expr(F.col("cv")).alias("cid"),
        "cv",
        norm_col(F.col("cv")).alias("cn"),
    )
    # rank ALL centroids per query, keep the top n_probe
    q = (
        _attach(
            queries.select(
                F.col(id_col).alias("query_id"),
                as_double_vec(vec_col).alias("qv"),
            ),
            cents_row,
        )
        .select(
            "query_id",
            "qv",
            norm_col(F.col("qv")).alias("qn"),
            F.explode(_probe_expr(F.col("qv"), n_probe)).alias("cid"),
        )
    )
    scored = (
        c.join(F.broadcast(q), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim",
            cosine_prenormed(_dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cid", "neighbor_id", "rank", F.round("sim", 4).alias("sim"))
    )


def cosine_near_pairs_bucketed(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Embedding near-dup, sign-LSH bucketed — the 100 TB default.

    Candidate pairs come from a self-join on the sign-pattern bucket (an
    equi-join key, so the shuffle is on buckets and fan-out is bounded by
    bucket size, ~N/2^bits each for centered data), then the exact cosine
    threshold verifies candidates — LSH-then-verify, mirroring the
    MinHash dedup topology. The bit count (len(dims)) must SCALE with the
    corpus: bucket fan-out is (N/2^bits)^2 per bucket, so size
    len(dims) ~ log2(N) to hold bucket size roughly constant (3 bits fit
    the oracle corpus; a 100 TB corpus wants ~20+ hyperplanes). Recall
    loss: a pair straddling a hyperplane (opposite sign in any chosen
    dim) is missed; more/rotated hyperplanes or multi-probe are the
    recall knobs. Brute-force cosine_near_pairs is the
    verification/recall-measurement path, not the default."""
    e = (
        embeddings.select(F.col(id_col).alias("id"), as_double_vec(vec_col).alias("v"))
        .withColumn("bucket", sign_bucket(F.col("v"), dims))
        .withColumn("n", norm_col(F.col("v")))
    )
    a = e.select(
        F.col("id").alias("vec_a"), F.col("v").alias("va"), F.col("n").alias("na"), "bucket"
    )
    b = e.select(
        F.col("id").alias("vec_b"), F.col("v").alias("vb"), F.col("n").alias("nb"), "bucket"
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "sim",
            F.round(
                cosine_prenormed(
                    _dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")
                ),
                4,
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", "sim")
    )


def cosine_near_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup: all pairs with cosine >= threshold.

    O(N^2) as written — the exact baseline, kept for verification and
    recall measurement of cosine_near_pairs_bucketed (the scale default)."""
    a = embeddings.select(
        F.col(id_col).alias("vec_a"), as_double_vec(vec_col).alias("va")
    ).withColumn("na", norm_col(F.col("va")))
    b = embeddings.select(
        F.col(id_col).alias("vec_b"), as_double_vec(vec_col).alias("vb")
    ).withColumn("nb", norm_col(F.col("vb")))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "sim",
            F.round(
                cosine_prenormed(
                    _dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")
                ),
                4,
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", "sim")
    )


def feature_hash_embed(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    dim: int = 16,
    salt: str = "fh",
) -> DataFrame:
    """Text -> dense vector by the hashing trick (Weinberger et al.):
    each token adds +-1 (sign from a second hash bit) to the bucket
    md5-hash(token) mod dim; the result is L2-normalized. The bridge
    from the text tables to every embedding operator here (KNN, near-dup,
    semantic dedup) with NO trained vocabulary — the embedding is pure
    deterministic column math, so any engine reproduces it exactly.

    Shape: one explode + one grouped aggregate whose dim conditional
    sums all ride the same map-side partial; the normalize is the usual
    left-to-right self-dot fold. Elements round(6) so the array is
    hash-stable cross-engine. Returns (id, embedding array<double>).
    """
    from ..operators.dedup import spread, tokens_expr

    src = spread(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")),
        "id",
    )
    tok = src.select("id", F.explode(tokens_expr("__text")).alias("w"))
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col("w")))
    bucket = F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), F.lit(dim)
    )
    # sign bit: first hex digit of the NON-bucket half >= 8 -> +1 else -1
    sign = F.when(
        F.conv(F.substring(h, 9, 1), 16, 10).cast("int") >= 8, F.lit(1.0)
    ).otherwise(F.lit(-1.0))
    contrib = tok.select("id", bucket.alias("b"), sign.alias("s"))
    sums = [
        F.sum(F.when(F.col("b") == j, F.col("s")).otherwise(0.0)).alias(
            f"__c{j}"
        )
        for j in range(dim)
    ]
    wide = contrib.groupBy("id").agg(*sums)
    vec = F.array(*[F.col(f"__c{j}") for j in range(dim)])
    norm = F.sqrt(
        F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return wide.select(
        "id",
        F.transform(
            vec,
            lambda x: F.round(
                F.when(norm > 0, x / norm).otherwise(F.lit(0.0)), 6
            ),
        ).alias("embedding"),
    )


def cosine_near_pairs_gemm(
    embeddings: DataFrame,
    threshold: float,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine near-dup via blocked Arrow/numpy kernels —
    bit-identical output to :func:`cosine_near_pairs`, but the O(N^2)
    element work runs as vectorized batch ops instead of an interpreted
    fold per pair (the JVM expression baseline measured 10.5 s for 500
    vectors x 64 dims; this path is the one that survives real dims).

    Topology: vectors are hashed into ``n_blocks`` blocks; every
    unordered block pair (bi <= bj) becomes ONE group of a
    groupBy().applyInPandas, holding only its two blocks' vectors.
    Each vector is shipped to n_blocks groups, so shuffle volume is
    n_blocks x N rows while per-group memory is (2N/n_blocks) x d —
    the standard blocked all-pairs trade: raise n_blocks at scale until
    a group fits an executor. Nothing is ever collected to the driver
    and no group sees more than two blocks.

    Determinism: same left-to-right per-dimension fold as the JVM /
    DuckDB expression (never np.dot), raw sims leave the kernel
    UNROUNDED, and the authoritative round(4)-then-threshold happens in
    JVM expressions — so surviving pairs and their printed sims match
    cosine_near_pairs exactly. The kernel pre-filter must therefore be
    looser than the final filter by the HALF-ULP of the 4-decimal round
    (5e-5): a raw sim of t - 4e-5 rounds UP to t and must reach the JVM
    filter — a bare t - 1e-9 guard would drop it inside the kernel and
    silently diverge from the expression baseline at the boundary.
    """
    import numpy as np
    import pandas as pd

    e = embeddings.select(
        F.col(id_col).alias("id"), as_double_vec(vec_col).alias("v")
    ).withColumn("blk", F.pmod(F.col("id"), F.lit(n_blocks)).cast("int"))
    mem = (
        e.withColumn(
            "other", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
        )
        .withColumn("bi", F.least("blk", "other"))
        .withColumn("bj", F.greatest("blk", "other"))
        .select("bi", "bj", "id", "v", "blk")
    )
    guard = threshold - 5e-5 - 1e-9

    def score_block_pair(pdf: "pd.DataFrame") -> "pd.DataFrame":
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["v"]), dtype=np.float64)
        blk = pdf["blk"].to_numpy()
        dims = mat.shape[1]

        def fold_norms(m):
            acc = np.zeros(len(m), dtype=np.float64)
            for d in range(dims):
                acc += m[:, d] * m[:, d]
            return np.sqrt(acc)

        def fold_dots(a, b):
            acc = np.zeros((len(a), len(b)), dtype=np.float64)
            for d in range(dims):
                acc += a[:, d][:, None] * b[:, d][None, :]
            return acc

        if bi == bj:
            la = ids
            sim = fold_dots(mat, mat) / (
                fold_norms(mat)[:, None] * fold_norms(mat)[None, :]
            )
            iu, ju = np.triu_indices(len(ids), k=1)
            ia, ib, s = la[iu], la[ju], sim[iu, ju]
        else:
            ma, mb = blk == bi, blk == bj
            a_ids, b_ids = ids[ma], ids[mb]
            a_m, b_m = mat[ma], mat[mb]
            if len(a_ids) == 0 or len(b_ids) == 0:
                return pd.DataFrame({"doc_a": [], "doc_b": [], "sim": []})
            sim = fold_dots(a_m, b_m) / (
                fold_norms(a_m)[:, None] * fold_norms(b_m)[None, :]
            )
            ii, jj = np.meshgrid(
                np.arange(len(a_ids)), np.arange(len(b_ids)), indexing="ij"
            )
            ia, ib, s = a_ids[ii.ravel()], b_ids[jj.ravel()], sim.ravel()
        keep = s >= guard
        ia, ib, s = ia[keep], ib[keep], s[keep]
        return pd.DataFrame(
            {
                "doc_a": np.minimum(ia, ib),
                "doc_b": np.maximum(ia, ib),
                "sim": s,
            }
        )

    raw = mem.groupBy("bi", "bj").applyInPandas(
        score_block_pair, "doc_a bigint, doc_b bigint, sim double"
    )
    return (
        raw.withColumn("sim", F.round("sim", 4))
        .filter(F.col("sim") >= threshold)
        .select(
            F.col("doc_a").alias("vec_a"),
            F.col("doc_b").alias("vec_b"),
            "sim",
        )
    )


def _l2(a: Column, b: Column) -> Column:
    """Squared L2 distance, same left-to-right fold as _dot."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _books_col(spark, books: list[list[list[float]]]) -> DataFrame:
    """The PQ codebook MODEL as a SINGLE-ROW frame whose one column
    ``__books`` holds all m codebooks (array of array<struct<cid, c>>,
    cid order 0..k-1 within each subspace) — same model-as-data shape
    as _cents_col: encode/table-build stay narrow per-row projections
    with an O(1)-size plan (the literal-folded form's m*k*sd-term
    expression tree spent seconds in codegen per stage and scales with
    the model)."""
    rows = [
        [(j, [float(x) for x in books[s][j]]) for j in range(len(books[s]))]
        for s in range(len(books))
    ]
    return spark.createDataFrame(
        [(rows,)], "__books array<array<struct<cid:int,c:array<double>>>>"
    )


def _codes_expr(vec: Column, m: int, sd: int) -> Column:
    """PQ codes (nearest sub-centroid per subspace by L2, ties to the
    lowest cid) against the attached ``__books`` column — bit-identical
    to the literal argmin (same fold, same struct-order tie-break)."""
    def code(s: int) -> Column:
        sl = F.slice(vec, s * sd + 1, sd)
        entries = F.transform(
            F.element_at(F.col("__books"), s + 1),
            lambda b: F.struct(_l2(sl, b["c"]).alias("d"), b["cid"].alias("j")),
        )
        return F.array_min(entries)["j"]

    return F.array(*[code(s) for s in range(m)])


def _tab_expr(vec: Column, m: int, sd: int) -> Column:
    """Per-query ADC table — tab[s][j] = dot(query subspace s,
    sub-centroid j) — against the attached ``__books`` column; lookup
    layout identical to the literal-table form (cid order 0..k-1)."""

    def row(s: int) -> Column:
        # factory, NOT a default-arg lambda: a two-arg lambda in a HOF
        # binds (element, index) and silently shadows the capture
        sl = F.slice(vec, s * sd + 1, sd)
        return F.transform(
            F.element_at(F.col("__books"), s + 1), lambda b: _dot(sl, b["c"])
        )

    return F.array(*[row(s) for s in range(m)])


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 6,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: the vector is split into ``m``
    contiguous subspaces and each subspace gets its own k-centroid
    codebook, trained with the same deterministic Lloyd recipe as
    ivf_centroids (id-ordered seeds, L2 assignment with lowest-index tie
    break, means quantized to 1e-6 per round so the model replays
    bit-identically on any engine).

    ONE posexplode aggregate per iteration trains all m codebooks at
    once — group key (subspace, cid, position), so the plan is O(1) in
    both dimensionality and m; only the m x k x (d/m) model reaches the
    driver. Returns ``books[s][j] = sub-centroid j of subspace s``."""
    e = embeddings.select(
        as_double_vec(vec_col).alias("v"), F.col(id_col).alias("id")
    )
    dim = len(e.select("v").first()["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sd = dim // m
    seeds = [list(r["v"]) for r in e.orderBy("id").limit(k).collect()]
    books = [
        [seeds[j][s * sd : (s + 1) * sd] for j in range(k)] for s in range(m)
    ]
    spark = embeddings.sparkSession
    with cache_scope():
        ep = cached(e)
        for _ in range(iters):
            assigned = _attach(ep, _books_col(spark, books)).select(
                "v", _codes_expr(F.col("v"), m, sd).alias("codes")
            )
            exploded = assigned.select(
                F.posexplode("v").alias("p", "x"), "codes"
            ).select(
                (F.col("p") / sd).cast("int").alias("s"),
                (F.col("p") % sd).alias("sp"),
                F.element_at("codes", (F.col("p") / sd).cast("int") + 1).alias(
                    "cid"
                ),
                "x",
            )
            means = (
                exploded.groupBy("s", "cid", "sp")
                .agg(F.avg("x").alias("mv"))
                .collect()
            )
            got: dict[tuple[int, int], dict[int, float]] = {}
            for r in means:
                got.setdefault((r["s"], r["cid"]), {})[r["sp"]] = round(
                    r["mv"], round_decimals
                )
            books = [
                [
                    [got[(s, j)][p] for p in range(sd)]
                    if (s, j) in got
                    else books[s][j]
                    for j in range(k)
                ]
                for s in range(m)
            ]
    return books


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance computation (ADC):
    database vectors are ENCODED to m small codes (m bytes instead of
    d doubles — the compressed-domain scale path: at d=1024, m=16 the
    candidate table shrinks ~500x and the scoring join never touches a
    raw database vector); each query precomputes an m x k table of
    subspace dot products against the codebooks, and a pair's
    approximate inner product is m table lookups summed in subspace
    order.

    Encode and table-build are narrow projections against the codebook
    attached as a 1-row broadcast array column (_books_col/_codes_expr/
    _tab_expr — O(1) plan size in the model, no shuffle, codegen-safe
    at real dims); scoring is a broadcast join against the
    codes-only table. Ranking uses the ROUNDED score with neighbor_id
    tiebreak so order is reproducible across engines (same rationale as
    tfidf_top_terms).

    ``rerank=R`` adds the standard production second stage: the PQ
    shortlist of R candidates per query is joined back to the RAW
    vectors and re-ranked by exact cosine, so raw embeddings are touched
    for |Q| x R rows instead of |Q| x N — compressed-domain prune,
    exact-order answer (recall = probability the true neighbor survives
    the shortlist, the R knob). rerank=0 returns the approx-ranked
    top-k with its approx_cos score."""
    m = len(books)
    kk = len(books[0])
    sd = len(books[0][0])
    spark = embeddings.sparkSession
    books_row = _books_col(spark, books)
    c = _attach(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"), as_double_vec(vec_col).alias("cv")
        ),
        books_row,
    ).select("neighbor_id", _codes_expr(F.col("cv"), m, sd).alias("codes"))
    q = _attach(
        queries.select(
            F.col(id_col).alias("query_id"), as_double_vec(vec_col).alias("qv")
        ),
        books_row,
    ).select(
        "query_id",
        _tab_expr(F.col("qv"), m, sd).alias("tab"),
        F.sqrt(_dot(F.col("qv"), F.col("qv"))).alias("qnorm"),
    )
    # ||x_hat||^2 = sum_s ||c_{s,code_s}||^2 via a literal norm table —
    # norms computed HERE (python floats) and embedded as the same
    # literals in the generated oracle SQL, so both engines share them.
    norm_tab = [
        [sum(x * x for x in books[s][j]) for j in range(kk)] for s in range(m)
    ]
    approx = F.lit(0.0)
    dbnorm2 = F.lit(0.0)
    for s in range(m):
        code1 = F.element_at("codes", s + 1) + 1
        approx = approx + F.element_at(F.element_at("tab", s + 1), code1)
        dbnorm2 = dbnorm2 + F.element_at(
            F.array(*[F.lit(v) for v in norm_tab[s]]), code1
        )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "approx_cos",
            F.round(approx / (F.col("qnorm") * F.sqrt(dbnorm2)), 4),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_cos").desc(), "neighbor_id"
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if not rerank:
        return ranked.filter(F.col("rank") <= k).select(
            "query_id", "neighbor_id", "rank", "approx_cos"
        )
    shortlist = ranked.filter(F.col("rank") <= rerank).select(
        "query_id", "neighbor_id"
    )
    qv_raw = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(vec_col).alias("qv")
    ).withColumn("qn", norm_col(F.col("qv")))
    cv_raw = embeddings.select(
        F.col(id_col).alias("neighbor_id"), as_double_vec(vec_col).alias("cv")
    ).withColumn("cn", norm_col(F.col("cv")))
    exact = (
        shortlist.join(F.broadcast(qv_raw), "query_id")
        .join(cv_raw, "neighbor_id")
        .withColumn(
            "sim",
            F.round(
                cosine_prenormed(
                    _dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")
                ),
                4,
            ),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    books: list[list[list[float]]],
    k: int = 3,
    n_probe: int = 2,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the production ANN composition (FAISS IVFPQ topology).
    The coarse quantizer restricts candidates to the query's ``n_probe``
    inverted lists (an EQUI-join on the cell id — pq_topk alone scores
    every query against the whole corpus), and within those lists
    scoring runs on m-byte PQ codes via ADC — the candidate table
    carries neither raw vectors nor full-dim arithmetic. ``rerank=R``
    re-ranks the per-query shortlist against raw vectors by exact
    cosine (|Q| x R rows, not |Q| x N).

    Scale story: at rest the code table is partitioned by ``cid`` —
    a probe reads n_probe/n_cent of the corpus, sequentially, at m
    bytes/vector; the broadcast side is only (query, ADC table) rows.
    Both models (centroids + codebooks) are trained by the deterministic
    recipes of ivf_centroids/pq_codebooks, so the full pipeline —
    training included — replays as a SQL oracle.
    """
    m = len(books)
    kk = len(books[0])
    sd = len(books[0][0])
    n_cent = len(centroids)
    if not 1 <= n_probe <= n_cent:
        raise ValueError("n_probe must be in [1, n_centroids]")

    spark = embeddings.sparkSession
    cents_row = _cents_col(spark, centroids)
    books_row = _books_col(spark, books)
    c = _attach(
        _attach(
            embeddings.select(
                F.col(id_col).alias("neighbor_id"),
                as_double_vec(vec_col).alias("cv"),
            ),
            cents_row,
        ),
        books_row,
    ).select(
        "neighbor_id",
        _cell_expr(F.col("cv")).alias("cid"),
        _codes_expr(F.col("cv"), m, sd).alias("codes"),
    )

    q = (
        _attach(
            _attach(
                queries.select(
                    F.col(id_col).alias("query_id"),
                    as_double_vec(vec_col).alias("qv"),
                ),
                cents_row,
            ),
            books_row,
        )
        .select(
            "query_id",
            _tab_expr(F.col("qv"), m, sd).alias("tab"),
            F.sqrt(_dot(F.col("qv"), F.col("qv"))).alias("qnorm"),
            F.explode(_probe_expr(F.col("qv"), n_probe)).alias("cid"),
        )
    )

    norm_tab = [
        [sum(x * x for x in books[s][j]) for j in range(kk)] for s in range(m)
    ]
    approx = F.lit(0.0)
    dbnorm2 = F.lit(0.0)
    for s in range(m):
        code1 = F.element_at("codes", s + 1) + 1
        approx = approx + F.element_at(F.element_at("tab", s + 1), code1)
        dbnorm2 = dbnorm2 + F.element_at(
            F.array(*[F.lit(v) for v in norm_tab[s]]), code1
        )
    scored = (
        c.join(F.broadcast(q), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "approx_cos", F.round(approx / (F.col("qnorm") * F.sqrt(dbnorm2)), 4)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_cos").desc(), "neighbor_id"
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if not rerank:
        return ranked.filter(F.col("rank") <= k).select(
            "query_id", "neighbor_id", "rank", "approx_cos"
        )
    shortlist = ranked.filter(F.col("rank") <= rerank).select(
        "query_id", "neighbor_id"
    )
    qv_raw = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(vec_col).alias("qv")
    ).withColumn("qn", norm_col(F.col("qv")))
    cv_raw = embeddings.select(
        F.col(id_col).alias("neighbor_id"), as_double_vec(vec_col).alias("cv")
    ).withColumn("cn", norm_col(F.col("cv")))
    exact = (
        shortlist.join(F.broadcast(qv_raw), "query_id")
        .join(cv_raw, "neighbor_id")
        .withColumn(
            "sim",
            F.round(
                cosine_prenormed(
                    _dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")
                ),
                4,
            ),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def ann_recall(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """Recall@k of an approximate KNN result against the exact one — the
    measurement operator that turns ANN quality from a guess into a
    number (the bucket-count / probe-radius / nlist knobs are only
    tunable against a recall curve).

    Both inputs carry (query_id, neighbor_id) rows, already capped at
    their k (the shape every knn_* operator here emits). Output: one row
    per TRUTH query — (query_id, n_truth, n_hits, recall) — so queries
    the approximate index missed entirely (no bucket collision at all)
    still appear with recall 0.0, and the denominator is the number of
    exact neighbors actually available (< k on tiny corpora), not a
    blind k.

    Scale shape: two |Q|*k-row frames — groupBy + one equi-join on
    (query_id, neighbor_id), both model-sized regardless of corpus N
    (the expensive part is producing the inputs, not grading them)."""
    t = truth.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id").distinct()
    base = t.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_truth"))
    hits = (
        t.join(a, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return base.join(hits, "query_id", "left").select(
        "query_id",
        "n_truth",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        F.round(
            F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_truth"), 4
        ).alias("recall"),
    )


def semantic_dedup(
    embeddings: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): k-means clusters bound the pairwise cosine search,
    and within each cluster a vector is a semantic duplicate when some
    LOWER-id member sits within ``threshold`` cosine of it.

    Divergence from the paper, documented: the paper keeps the member
    farthest from the centroid; here the keeper is the LOWEST id of a
    near-duplicate group — id order is reproducible across engines
    (an oracle can replay it), where "farthest from centroid" ties on
    float distance are not. The trained centroids come in as a model
    argument (ivf_centroids — deterministic, quantized), so the same
    model drives IVF search and semantic dedup.

    Scale shape: assignment is a narrow broadcast-model projection (no
    shuffle); the only shuffle is the self-join on cid, whose fan-out is
    bounded by cluster size — n_centroids must scale ~N/target_cluster
    exactly as IVF's inverted lists do. A hot cluster (mode collapse in
    the embedding space) is the skew risk; the fix is more centroids or
    a within-cluster sub-LSH, not a bigger executor.

    Output (vec_id, cid, max_sim_lower, keep): max_sim_lower = rounded
    max cosine to any lower-id cluster member (null when none), keep =
    1 iff no lower-id member reaches the threshold. ``keep`` compares
    the ROUNDED similarity so boundary vectors land identically in any
    engine.
    """
    spark = embeddings.sparkSession
    e = (
        _attach(
            embeddings.select(
                F.col(id_col).alias("id"), as_double_vec(vec_col).alias("v")
            ),
            _cents_col(spark, centroids),
        )
        .select("id", "v", _cell_expr(F.col("v")).alias("cid"))
        .withColumn("n", norm_col(F.col("v")))
    )
    a = e.select(
        F.col("id").alias("ida"), F.col("v").alias("va"), F.col("n").alias("na"), "cid"
    )
    b = e.select(
        F.col("id").alias("idb"), F.col("v").alias("vb"), F.col("n").alias("nb"), "cid"
    )
    ms = (
        a.join(b, "cid")
        .filter(F.col("ida") < F.col("idb"))
        .select(
            "idb",
            cosine_prenormed(
                _dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")
            ).alias("sim"),
        )
        .groupBy("idb")
        .agg(F.round(F.max("sim"), 4).alias("max_sim_lower"))
    )
    return (
        e.join(ms, e.id == ms.idb, "left")
        .select(
            F.col("id").alias("vec_id"),
            "cid",
            "max_sim_lower",
            F.when(
                F.col("max_sim_lower").isNull()
                | (F.col("max_sim_lower") < threshold),
                1,
            )
            .otherwise(0)
            .alias("keep"),
        )
    )


def hard_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query row,
    the k most-cosine-similar corpus vectors carrying a DIFFERENT label —
    the "looks like a positive, isn't one" set that makes contrastive
    batches informative.

    Exact form of knn_bruteforce with the label-mismatch predicate
    riding the same broadcast join: queries broadcast, candidates stream
    partition-local, the only shuffle is the final per-query top-k
    (bounded at |Q| x k rows). At corpus scale swap the candidate side
    for ivf_topk's probed cells and filter labels before the window —
    same plan shape, ANN recall trade."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_vec(vec_col).alias("qv"),
        F.col(label_col).alias("query_label"),
    ).withColumn("qn", norm_col(F.col("qv")))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_vec(vec_col).alias("cv"),
        F.col(label_col).alias("neighbor_label"),
    ).withColumn("cn", norm_col(F.col("cv")))
    scored = c.join(
        F.broadcast(q), F.col("query_label") != F.col("neighbor_label")
    ).withColumn(
        "sim",
        cosine_prenormed(_dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            "rank",
            F.round("sim", 4).alias("sim"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8): the tier between brute-force floats and PQ.
# ---------------------------------------------------------------------------


def _int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product (long fold — no float error, so both
    engines agree bit-for-bit before the final double division)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def sq8_scales(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension max-abs quantization scales as a 1-row model frame.

    Model-as-data: the d scales live in an array<double> column on a
    single row that broadcasts into the quantization projection — the
    plan stays O(1) regardless of d, and nothing but this d-element
    array ever reaches the driver side of the join."""
    ex = embeddings.select(
        F.posexplode(as_double_vec(vec_col)).alias("i", "x")
    )
    dims = ex.groupBy("i").agg(F.max(F.abs(F.col("x"))).alias("m"))
    return dims.agg(
        F.array_sort(F.collect_list(F.struct("i", "m"))).alias("sm")
    ).select(F.transform("sm", lambda s: s["m"]).alias("__scales"))


def _sq8_quantize(vec: Column, scales: Column) -> Column:
    """Symmetric int8 code: floor(v/s*127 + 0.5) — explicit round-half-up
    so Spark and an external SQL oracle agree on exact .5 boundaries
    (engine-native round() rounding modes differ); all-zero dims map
    to code 0 instead of dividing by zero."""
    return F.zip_with(
        vec,
        scales,
        lambda x, s: F.floor(
            F.when(s > 0, x / s * 127).otherwise(F.lit(0.0)) + F.lit(0.5)
        ),
    )


def sq8_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    refine: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via int8 scalar quantization + exact re-rank.

    Scale story (the point of SQ at 100 TB): the scan side of the
    similarity join carries 1 byte/dim instead of 8 — a 768-d corpus
    drops from 6 KB to 768 B per vector, which is the difference between
    the candidate pass spilling or running from executor memory/cache.
    Candidate generation ranks by EXACT integer dot products of the
    codes (deterministic — no float fold at all until the final
    division), keeps ``refine * k`` per query, then re-ranks only that
    bounded set against the full-precision vectors fetched by an id
    equi-join (|Q| * refine*k rows — the float vectors never join the
    wide candidate pass).

    Queries are quantized from THEIR OWN vectors against the corpus
    scales, so external queries (vectors not present in ``embeddings``)
    work exactly like in-corpus ones; the tiny query side keeps its
    full-precision vector alongside the codes (it broadcasts anyway),
    while the corpus side of both passes stays codes/ids only.

    Mirrors the reference's search-then-rerank pattern (SURVEY §2.8
    north-star ANN family; cf. x_knn_pq's ADC + re-rank) one tier up in
    fidelity: SQ8 keeps per-dim resolution, PQ shares sub-space
    centroids."""
    scales = sq8_scales(embeddings, vec_col)
    base = embeddings.select(
        F.col(id_col).alias("__id"), as_double_vec(vec_col).alias("__v")
    )
    qz = (
        base.crossJoin(F.broadcast(scales))
        .select(
            "__id",
            _sq8_quantize(F.col("__v"), F.col("__scales")).alias("__q"),
        )
        .withColumn("__qn", F.sqrt(_int_dot(F.col("__q"), F.col("__q")).cast("double")))
    )
    qside = (
        queries.select(
            F.col(id_col).alias("query_id"), as_double_vec(vec_col).alias("__qv")
        )
        .crossJoin(F.broadcast(scales))
        .select(
            "query_id",
            "__qv",
            _sq8_quantize(F.col("__qv"), F.col("__scales")).alias("__qq"),
        )
        .withColumn(
            "__qqn", F.sqrt(_int_dot(F.col("__qq"), F.col("__qq")).cast("double"))
        )
    )
    # the candidate pass and its top-(refine*k) window shuffle carry IDS
    # AND THE SCALAR SCORE ONLY — never a float vector (a d-dim qv on
    # every one of the |Q| x N candidate rows would put 8d bytes/row
    # through the shuffle and undo the 1-byte/dim economics); the query
    # vector re-joins AFTER the rank filter from the tiny broadcast side
    approx = qz.join(
        F.broadcast(qside.drop("__qv")), F.col("query_id") != F.col("__id")
    ).select(
        "query_id",
        F.col("__id").alias("neighbor_id"),
        (
            _int_dot(F.col("__qq"), F.col("__q")).cast("double")
            / (F.col("__qqn") * F.col("__qn"))
        ).alias("__asim"),
    )
    wa = Window.partitionBy("query_id").orderBy(F.col("__asim").desc(), "neighbor_id")
    cand = (
        approx.withColumn("__arank", F.row_number().over(wa))
        .filter(F.col("__arank") <= refine * k)
        .select("query_id", "neighbor_id")
    )
    ne = base.select(F.col("__id").alias("__nid"), F.col("__v").alias("__nv"))
    rer = (
        cand.join(F.broadcast(qside.select("query_id", "__qv")), "query_id")
        .join(ne, F.col("neighbor_id") == F.col("__nid"))
        .withColumn("sim", cosine(F.col("__qv"), F.col("__nv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 4).alias("sim"))
    )


# random-projection (JL) compressed search ------------------------------------


def randproj_matrix(r: int, d: int, seed: int = 9) -> list[list[float]]:
    """Deterministic ±1 Johnson-Lindenstrauss projection matrix.

    Signs come from an explicit 31-bit LCG (glibc constants) instead of
    a RNG module, so the matrix is a pure function of (r, d, seed) —
    reproducible in any language and inlineable in an external SQL
    oracle as a literal. ±1 (Achlioptas 2001) preserves pairwise angles
    in expectation just like Gaussian entries; the uniform 1/sqrt(r)
    scale is dropped because cosine is scale-invariant.

    This is a MODEL (r x d floats), not data: at 768-d production
    embeddings with r=64 it is 48K doubles shipped once per job."""
    state = seed & 0x7FFFFFFF
    mat: list[list[float]] = []
    for _ in range(r):
        row = []
        for _ in range(d):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append(1.0 if (state >> 16) & 1 else -1.0)
        mat.append(row)
    return mat


def _proj_col(spark, mat: list[list[float]]) -> DataFrame:
    """The projection MODEL as a single-row array<struct> frame —
    identical model-as-data shape to _cents_col/_books_col (narrow
    broadcast projection, O(1) plan size in r and d)."""
    rows = [(i, [float(x) for x in p]) for i, p in enumerate(mat)]
    return spark.createDataFrame(
        [(rows,)], "__proj array<struct<pid:int,p:array<double>>>"
    )


def _project_expr(vec: Column) -> Column:
    """r-dim projection of ``vec`` against the attached ``__proj``
    column: element i = dot(vec, P_i), the same left-to-right fold as
    every other dot here (bit-identical to the SQL oracle's
    list_reduce)."""
    return F.transform(F.col("__proj"), lambda x: _dot(vec, x["p"]))


def knn_randproj(
    embeddings: DataFrame,
    queries: DataFrame,
    mat: list[list[float]],
    k: int = 3,
    shortlist: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via JL random projection: candidates are ranked
    in the r-dim projected space (r << d), then the shortlist
    (``shortlist * k`` per query) is re-ranked by exact full-dimension
    cosine.

    Scale shape: the corpus-side pass computes each vector's r-dim
    projection once (at rest this column is precomputed and stored —
    the d-dim vector never travels through candidate generation), the
    per-query shortlist is bounded at shortlist*k rows, and only those
    rows re-join the full-dimension vectors for the exact re-rank.
    Queries and the projection matrix ride as broadcasts. Same
    compress-then-refine topology as sq8_topk/pq_topk; the projection
    is the cheapest of the three (r fused multiply-adds per dim, no
    training pass).

    Determinism: projected values are left-to-right folds of doubles
    (bit-identical across JVM / numpy / DuckDB), the shortlist
    tie-breaks on (projected sim DESC, neighbor_id), and the final
    ranking on (exact sim DESC, neighbor_id) — so an external oracle
    replays candidate generation exactly, no rounding needed before
    the comparison points."""
    spark = embeddings.sparkSession
    model = _proj_col(spark, mat)
    base = embeddings.select(
        F.col(id_col).alias("__id"), as_double_vec(vec_col).alias("__v")
    )
    proj = _attach(base, model).select(
        "__id", "__v", _project_expr(F.col("__v")).alias("__rv")
    )
    qside = (
        _attach(
            queries.select(
                F.col(id_col).alias("query_id"), as_double_vec(vec_col).alias("__qv")
            ),
            model,
        )
        .select("query_id", "__qv", _project_expr(F.col("__qv")).alias("__rq"))
        .withColumn("__rqn", norm_col(F.col("__rq")))
    )
    # candidate generation sees ONLY (id, projected vector): narrow rows
    cand_side = proj.select("__id", "__rv").withColumn("__rn", norm_col(F.col("__rv")))
    scored = cand_side.join(
        F.broadcast(qside.select("query_id", "__rq", "__rqn")),
        F.col("query_id") != F.col("__id"),
    ).select(
        "query_id",
        F.col("__id").alias("neighbor_id"),
        cosine_prenormed(
            _dot(F.col("__rq"), F.col("__rv")), F.col("__rqn"), F.col("__rn")
        ).alias("__psim"),
    )
    wa = Window.partitionBy("query_id").orderBy(F.col("__psim").desc(), "neighbor_id")
    cand = (
        scored.withColumn("__prank", F.row_number().over(wa))
        .filter(F.col("__prank") <= shortlist * k)
        .select("query_id", "neighbor_id")
    )
    ne = base.select(F.col("__id").alias("__nid"), F.col("__v").alias("__nv"))
    rer = (
        cand.join(F.broadcast(qside.select("query_id", "__qv")), "query_id")
        .join(ne, F.col("neighbor_id") == F.col("__nid"))
        .withColumn("sim", cosine(F.col("__qv"), F.col("__nv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 4).alias("sim"))
    )


def cluster_balanced_sample(
    embeddings: DataFrame,
    centroids: list[list[float]],
    cap: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "cbs:",
) -> DataFrame:
    """Topic-balanced deterministic sample: assign every vector to its
    nearest trained centroid (the k-means model from ivf_centroids,
    attached model-as-data), then keep at most ``cap`` per cluster,
    chosen by a seeded content hash — the curation step that keeps a
    100 TB corpus from being dominated by its biggest topic (DataComp /
    SemDeDup-style cluster-quota selection).

    Deterministic end to end: quantized centroids make assignment
    reproducible, and the within-cluster order is md5(salt || id) with
    an id tie-break (same idiom as x_group_sample) — no RNG state, so
    reruns and external oracles pick the identical sample. The window
    partitions by cluster id, never globally."""
    e = embeddings.select(
        F.col(id_col).alias("vec_id"), as_double_vec(vec_col).alias("__v")
    )
    assigned = _attach(e, _cents_col(embeddings.sparkSession, centroids)).select(
        "vec_id", _cell_expr(F.col("__v")).alias("cid")
    )
    w = Window.partitionBy("cid").orderBy(
        F.md5(F.concat(F.lit(salt), F.col("vec_id").cast("string"))), "vec_id"
    )
    return (
        assigned.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= cap)
        .select("cid", "vec_id", "pos")
    )


def label_centroid_report(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label embedding-quality report: centroid cohesion vs
    separation. For each label: member count, mean cosine of members to
    their own centroid (cohesion), and the max cosine between this
    label's centroid and any OTHER label's centroid (separation — high
    means two labels collapse onto each other).

    Scale shape: centroids via ONE posexplode -> groupBy(label, pos)
    aggregate (plan size O(1) in dimensionality — the same reason
    ivf_centroids trains that way), then a broadcast of the tiny
    (n_labels x d) centroid frame back onto members. Nothing wider than
    (label, pos) ever shuffles.

    Determinism: centroid means quantized to 1e-6 (double sums are
    partition-order dependent in final ulps); member cosines rounded to
    1e-6 then averaged through DECIMAL(18,6) (exact, order-free); the
    final ratios rounded with the explicit floor(x*1e4+0.5)/1e4 form —
    the catalog's two cross-engine float rules."""
    e = embeddings.select(F.col(label_col).alias("label"), as_double_vec(vec_col).alias("__v"))
    cent = (
        e.select("label", F.posexplode("__v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("__c")
        )
    )
    sims = e.join(F.broadcast(cent), "label").select(
        "label", F.round(cosine(F.col("__v"), F.col("__c")), 6).alias("__s")
    )
    intra = sims.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (
            F.floor(
                (
                    F.sum(F.col("__s").cast("decimal(18,6)")).cast("double")
                    / F.count(F.lit(1))
                )
                * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("avg_intra_sim"),
    )
    other = cent.select(F.col("label").alias("__ol"), F.col("__c").alias("__oc"))
    inter = (
        cent.join(other, F.col("label") != F.col("__ol"))
        .select("label", cosine(F.col("__c"), F.col("__oc")).alias("__x"))
        .groupBy("label")
        .agg(
            (F.floor(F.max("__x") * 1e4 + F.lit(0.5)) / 1e4).alias("max_inter_sim")
        )
    )
    return intra.join(inter, "label").select(
        "label", "n_vecs", "avg_intra_sim", "max_inter_sim"
    )


def embed_covariance(
    embeddings: DataFrame, vec_col: str = "embedding", decimals: int = 4
) -> DataFrame:
    """Full d x d covariance matrix of an embedding column as (i, j, cov)
    rows — the ORACLE-portable expression form: position pairs from two
    posexplodes feeding one codegen'd hash aggregate on (i, j).

    Float determinism is handled by MARGIN, not exact accumulation:
    double sums are partition-order dependent (±ulp-scale noise, here
    ~1e-10 on sums over the verify corpus), so the output rounds at
    1e-4 — six orders of magnitude of headroom to the nearest rounding
    boundary — via the explicit floor(x*1e4+0.5)/1e4 form (engine
    round() diverges at exact .5). An exact-decimal accumulation was
    measured 16x slower (precision > 18 decimals falls off Spark's
    long-backed fast path into per-row BigDecimal), and buys nothing at
    this margin.

    This form fans each row out d^2-fold, which is fine for the verify
    corpus but NOT the 100 TB path — `pca_model` computes the same
    matrix from per-batch numpy X^T X partials (one d x d matrix per
    Arrow batch crosses the driver, never the data); the two paths are
    parity-tested against each other."""
    v = embeddings.select(as_double_vec(vec_col).alias("v"))
    ex = v.select("v", F.posexplode("v").alias("i", "xi"))
    pairs = ex.select("i", "xi", F.posexplode("v").alias("j", "xj"))
    stats = pairs.groupBy("i", "j").agg(
        F.sum(F.col("xi") * F.col("xj")).alias("sxy"),
        F.sum(F.col("xi")).alias("sx"),
        F.sum(F.col("xj")).alias("sy"),
        F.count(F.lit(1)).alias("n"),
    )
    n = F.col("n").cast("double")
    cov = F.col("sxy") / n - (F.col("sx") / n) * (F.col("sy") / n)
    scale = float(10**decimals)
    rounded = F.floor(cov * F.lit(scale) + F.lit(0.5)) / F.lit(scale)
    return stats.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        rounded.alias("cov"),
    )


def pca_model(
    embeddings: DataFrame,
    k: int,
    vec_col: str = "embedding",
    round_decimals: int = 6,
) -> dict:
    """PCA model {mean, components, explained} from distributed moment
    partials — the data-aware sibling of the JL random projection
    (rotates onto the directions of maximal variance instead of random
    +-1 axes; same downstream use: shortlist in k dims, exact re-rank).

    Scale shape: one `mapInPandas` pass emits per-BATCH partials
    (n, sum(x), X^T X as a flattened d^2 array) — one row per Arrow
    batch, so only O(partitions * d^2) crosses the driver, never the
    data. The driver sums partials (numpy), eigendecomposes the d x d
    covariance (model-sized), and returns the top-k eigenvectors by
    descending eigenvalue with a DETERMINISTIC sign convention (first
    element of largest absolute value made positive) and 1e-6 rounding,
    so the model replays reproducibly like ivf_centroids/pq_codebooks.
    """
    src = embeddings.select(as_double_vec(vec_col).alias("v"))
    rows = reduced_moments(src).collect()
    if not rows:
        raise ValueError("pca_model: empty embedding table")
    n, s, ss = sum_moment_rows(rows)
    return pca_from_moments(n, s, ss, k, round_decimals)


MOMENT_SCHEMA = "n long, s array<double>, ss array<double>"


def moment_partials_fn():
    """mapInPandas function reducing ALL ``v`` vector rows of a
    partition to one (n, sum x, X^T X flattened) partial row — the
    SINGLE definition of the moment statistic, shared by the one-pass
    `pca_model` and the streaming moment store so their batch-twin
    equality is definitional, not coincidental. Accumulating across the
    partition's Arrow batches (rather than emitting one row per batch)
    is the first level of the executor-side reduction tree: the stage
    output is O(partitions) rows, independent of Arrow batch size."""
    import numpy as np
    import pandas as pd

    def partials(batches):
        n, s, ss = 0, None, None
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["v"].to_numpy())
            n += len(x)
            bs, bss = x.sum(axis=0), x.T @ x
            s = bs if s is None else s + bs
            ss = bss if ss is None else ss + bss
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.reshape(-1).tolist()]}
            )

    return partials


def moment_reduce_fn():
    """mapInPandas function summing MOMENT_SCHEMA partial rows into one
    row per partition — the merge step of the reduction tree (moment
    addition is associative and commutative; double-sum order noise is
    ulp-scale and covered by the model's 1e-6 rounding)."""
    import numpy as np
    import pandas as pd

    def reduce_(batches):
        n, s, ss = 0, None, None
        for pdf in batches:
            if not len(pdf):
                continue
            n += int(pdf["n"].sum())
            bs = np.sum(np.stack(pdf["s"].to_numpy()), axis=0)
            bss = np.sum(np.stack(pdf["ss"].to_numpy()), axis=0)
            s = bs if s is None else s + bs
            ss = bss if ss is None else ss + bss
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.tolist()]}
            )

    return reduce_


def reduced_moments(vectors: DataFrame) -> DataFrame:
    """EXACTLY-ONE-row DataFrame of summed moments for a ``v`` vector
    frame: per-partition partials (no shuffle, O(partitions) rows) →
    shuffle those model-sized rows to one task → final merge. The
    driver-side `.collect()` downstream therefore sees ≤ 1 row
    REGARDLESS of partition count — at 100 TB with d=768 the only
    cross-stage traffic is partitions × (d + d² + 1) doubles, and the
    driver receives a single row (vs one row per Arrow batch before,
    which was gigabytes of partials on the driver at 10⁵⁺ batches)."""
    partials = vectors.mapInPandas(moment_partials_fn(), MOMENT_SCHEMA)
    return partials.repartition(1).mapInPandas(
        moment_reduce_fn(), MOMENT_SCHEMA
    )


def sum_moment_rows(rows):
    """Reduce collected moment-partial rows to (n, s, ss ndarray d x d)."""
    import numpy as np

    n = sum(r["n"] for r in rows)
    s = np.sum([np.array(r["s"]) for r in rows], axis=0)
    d = len(rows[0]["s"])
    ss = np.sum([np.array(r["ss"]).reshape(d, d) for r in rows], axis=0)
    return n, s, ss


def pca_from_moments(n, s, ss, k: int, round_decimals: int = 6) -> dict:
    """Eigendecompose accumulated moments (row count, sum(x), X^T X) to
    a {mean, components, explained} model — the driver-side, model-sized
    tail shared by `pca_model` (one batch pass) and the streaming moment
    store (moments accumulated across micro-batches): moments are the
    SUFFICIENT STATISTIC for PCA, so where they come from doesn't
    matter. Deterministic sign convention (largest-|x| element positive)
    and 1e-6 rounding, like every trained model here."""
    import numpy as np

    s = np.asarray(s, dtype=float)
    d = s.shape[0]
    ss = np.asarray(ss, dtype=float).reshape(d, d)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    w, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(w)[::-1][:k]
    comps = []
    for idx in order:
        c = vecs[:, idx]
        pivot = int(np.argmax(np.abs(c)))
        if c[pivot] < 0:
            c = -c
        comps.append([round(float(x), round_decimals) for x in c])
    return {
        "mean": [round(float(x), round_decimals) for x in mean],
        "components": comps,
        "explained": [round(float(w[i]), round_decimals) for i in order],
    }


def _fold_dot(a, b) -> float:
    """Strict LEFT-fold dot product: ((0 + a0*b0) + a1*b1) + ... — the
    accumulation order PySpark's F.aggregate(zip_with(..)) and DuckDB's
    list_reduce(list_transform(..)) both use, so a driver-side replay is
    bit-identical to either engine. numpy.dot would NOT be (pairwise /
    SIMD summation reorders the adds)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def pca_power_component(
    embeddings: DataFrame,
    iters: int = 12,
    squarings: int = 6,
    vec_col: str = "embedding",
    cell_decimals: int = 4,
    out_decimals: int = 6,
) -> DataFrame:
    """Top principal component by ACCELERATED POWER ITERATION on the
    distributed covariance — the PCA-family member whose training an
    ANSI-SQL oracle can replay end to end (eigh cannot be expressed in
    SQL; matrix squarings and matrix-vector folds on ordered arrays
    can).

    Scale split: the data-sized work is `embed_covariance` (one
    d²-fanout scan + hash aggregate); what crosses the driver is the
    d x d cell frame — MODEL-sized, same contract as `pca_model`'s
    moment row. The driver-side math is O(squarings * d³ + iters * d²)
    floats (d=64: milliseconds).

    Acceleration: near-isotropic embedding spectra (λ2/λ1 ≈ 0.93 on the
    testdata) stall plain power iteration, so the matrix is SQUARED
    ``squarings`` times first (rescaled by its max-|entry| each time to
    keep doubles in range — rescaling shifts no eigenvector), giving an
    effective exponent of 2^squarings * iters ≈ 768: convergence factor
    (λ2/λ1)^768 even at ratio 0.99. The Rayleigh-quotient eigenvalue is
    taken against the ORIGINAL (un-squared) matrix.

    Determinism (the whole point): cells are floor-rounded at
    ``cell_decimals`` (1e-4 — six orders above partition-order ulp
    noise), every subsequent op is elementwise, a strict left fold
    (`_fold_dot`), or an order-free max; the start vector is uniform
    1/sqrt(d), the sign convention pivots on the largest-|x| loading,
    and outputs floor-round at ``out_decimals`` — all exactly
    replayable in DuckDB list expressions, so the result is a
    hash-matchable table, not just "close to numpy". Fixed counts (no
    convergence test) keep both engines on the identical float path;
    convergence to numpy.eigh is graded separately in pytest.

    Output: (i, loading, eigenvalue) — loading = component entry i,
    eigenvalue = the Rayleigh quotient v'Cv of the final iterate."""
    import math

    spark = embeddings.sparkSession
    cells = embed_covariance(
        embeddings, vec_col=vec_col, decimals=cell_decimals
    ).collect()
    if not cells:
        raise ValueError("pca_power_component: empty embedding table")
    d = int(max(r["i"] for r in cells)) + 1
    mat = [[0.0] * d for _ in range(d)]
    for r in cells:
        mat[int(r["i"])][int(r["j"])] = float(r["cov"])
    rng = range(d)
    pm = [row[:] for row in mat]
    for _ in range(squarings):
        # symmetric, so (M²)_ij = dot(row_i, row_j) — rows only
        m2 = [[_fold_dot(pm[i], pm[j]) for j in rng] for i in rng]
        mx = max(abs(x) for row in m2 for x in row)
        pm = [[x / mx for x in row] for row in m2]
    v = [1.0 / math.sqrt(float(d))] * d
    for _ in range(iters):
        u = [_fold_dot(row, v) for row in pm]
        nrm = math.sqrt(_fold_dot(u, u))
        v = [x / nrm for x in u]
    av = [abs(x) for x in v]
    sgn = -1.0 if v[av.index(max(av))] < 0 else 1.0
    lam = _fold_dot(v, [_fold_dot(row, v) for row in mat])
    scale = float(10**out_decimals)

    def rnd(x: float) -> float:
        return math.floor(x * scale + 0.5) / scale

    rows = [(i, rnd(sgn * v[i]), rnd(lam)) for i in rng]
    return spark.createDataFrame(
        rows, "i long, loading double, eigenvalue double"
    )


def pca_project(
    embeddings: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_decimals: int | None = 6,
    whiten: bool = False,
) -> DataFrame:
    """Project vectors onto a `pca_model`: (id, proj array<double>) with
    proj[c] = dot(x, comp_c) - dot(mean, comp_c).

    ``whiten=True`` additionally divides component c by
    sqrt(explained[c]) so every output dimension has ~unit variance —
    the normalization embedding-similarity pipelines apply before
    cosine/L2 when the leading directions would otherwise dominate
    (folded into the broadcast component vectors, so the per-row work is
    unchanged). Components whose explained variance is within 10x of
    the model's 1e-6 eigenvalue rounding quantum are left unscaled
    rather than amplified to noise (a tighter threshold would be dead
    code: no rounded eigenvalue can sit below the quantum).

    The model enters the plan as a 1-ROW broadcast frame carrying
    array<struct<cid, c, b>> (b = the precomputed mean offset per
    component) — model-as-data like _cents_col, so the plan stays O(1)
    in k and d and assignment is a narrow projection with no shuffle."""
    spark = embeddings.sparkSession
    scales = [1.0] * len(model["components"])
    if whiten:
        scales = [
            1.0 / (ev**0.5) if ev > 1e-5 else 1.0
            for ev in model["explained"]
        ]
    entries = [
        (
            ci,
            [float(x) * scales[ci] for x in comp],
            float(
                sum(m * c * scales[ci] for m, c in zip(model["mean"], comp))
            ),
        )
        for ci, comp in enumerate(model["components"])
    ]
    mrow = spark.createDataFrame(
        [(entries,)], "__pca array<struct<cid:int,c:array<double>,b:double>>"
    )
    vec = as_double_vec(vec_col)

    def _one(p):
        raw = (
            F.aggregate(
                F.zip_with(vec, p["c"], lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            - p["b"]
        )
        # round_decimals=None skips engine round() entirely — the form
        # downstream ranking wants (rounding only perturbs ties) and the
        # form an oracle can replay without the exact-.5 engine-round
        # divergence
        return raw if round_decimals is None else F.round(raw, round_decimals)

    proj = F.transform(F.col("__pca"), _one)
    return _attach(
        embeddings.select(F.col(id_col).alias("id"), vec.alias(vec_col)), mrow
    ).select("id", proj.alias("proj"))


def knn_pca(
    embeddings: DataFrame,
    queries: DataFrame,
    model: dict,
    k: int = 3,
    shortlist: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via a trained PCA basis — the data-aware
    counterpart of knn_randproj: candidates are ranked by cosine in the
    r-dim PCA space (r = len(model['components']) << d, the directions
    of maximal variance), then the ``shortlist * k`` per-query
    shortlist is re-ranked by exact full-dimension cosine. Same
    compress-then-refine topology and shortlist/window/tie-break
    discipline as the randproj/SQ8/PQ paths; the trade vs randproj is a
    training pass (pca_model) for a shortlist that preserves more of
    the variance per retained dimension.

    Note the PCA projection is mean-CENTERED, so the shortlist ranks by
    centered cosine — a deliberate choice (centering spreads anisotropic
    corpora) whose cost is measured by the recall tests, and the exact
    re-rank is always on the RAW vectors."""
    base = embeddings.select(
        F.col(id_col).alias("__id"), as_double_vec(vec_col).alias("__v")
    )
    # unrounded projections: the shortlist only RANKS by these, so the
    # 1e-6 rounding buys nothing and raw dots are oracle-replayable
    # without engine-round .5 divergence
    proj = pca_project(
        embeddings, model, vec_col=vec_col, id_col=id_col, round_decimals=None
    ).select(F.col("id").alias("__id"), F.col("proj").alias("__rv"))
    cand_side = proj.withColumn("__rn", norm_col(F.col("__rv")))
    qproj = pca_project(
        queries, model, vec_col=vec_col, id_col=id_col, round_decimals=None
    ).select(F.col("id").alias("query_id"), F.col("proj").alias("__rq"))
    qraw = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(vec_col).alias("__qv")
    )
    qside = qproj.join(qraw, "query_id").withColumn(
        "__rqn", norm_col(F.col("__rq"))
    )
    scored = cand_side.join(
        F.broadcast(qside.select("query_id", "__rq", "__rqn")),
        F.col("query_id") != F.col("__id"),
    ).select(
        "query_id",
        F.col("__id").alias("neighbor_id"),
        cosine_prenormed(
            _dot(F.col("__rq"), F.col("__rv")), F.col("__rqn"), F.col("__rn")
        ).alias("__psim"),
    )
    wa = Window.partitionBy("query_id").orderBy(F.col("__psim").desc(), "neighbor_id")
    cand = (
        scored.withColumn("__prank", F.row_number().over(wa))
        .filter(F.col("__prank") <= shortlist * k)
        .select("query_id", "neighbor_id")
    )
    ne = base.select(F.col("__id").alias("__nid"), F.col("__v").alias("__nv"))
    rer = (
        cand.join(F.broadcast(qside.select("query_id", "__qv")), "query_id")
        .join(ne, F.col("neighbor_id") == F.col("__nid"))
        .withColumn("sim", cosine(F.col("__qv"), F.col("__nv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 4).alias("sim"))
    )
