"""Incremental near-dup dedup: a streaming MinHash-LSH stage.

How a training-data pipeline actually ingests: documents arrive
continuously, and each new document must be checked against the ALREADY
ACCEPTED corpus before joining it — not against a frozen snapshot. The
batch operators (operators/dedup.py) answer "which pairs in this corpus
are near-dups"; this stage answers "is this NEW doc a near-dup of
anything accepted so far", maintaining the accepted-signature store as
it goes.

Design (foreachBatch over a document stream):

1. shingle + MinHash-sign the incoming micro-batch (the same
   with_shingles/minhash_signature/band_keys building blocks as batch
   dedup — one signature definition, two consumption modes);
2. candidates = new band keys EQUI-JOINED against the store's band-key
   table, plus the in-batch band self-join (a batch can contain its own
   dups). Never a cartesian: every candidate comes from a (band, key)
   bucket collision;
3. exact-Jaccard verify candidates against full shingle sets; a new doc
   matching an accepted doc (or a smaller-id batch sibling) at >=
   threshold is flagged ``dup_of`` its smallest matched canonical;
4. accepted (non-dup) docs append their signatures + band keys to the
   store; flagged docs are emitted to the decisions output and kept OUT
   of the store, so the store stays canonical.

Exactly-once: both store tables and the decisions output are batch-id
subdirectories overwritten on replay (the idempotent-writer discipline
of sinks.py) — a restarted batch rewrites its own output.

100 TB notes: the store is two tables — ``sigs`` (id, shingles; one row
per accepted doc) and ``bands`` (id, band, key; ``bands`` rows per doc).
At rest ``bands`` should be WRITTEN bucketed by (band, key) (table-
format bucketing) so the new-vs-store join co-locates without shuffling
the store; the per-batch cost is then O(new docs' bucket slices),
independent of corpus size. Within-batch chains (c dups b while b dups
a) flag both b and c: the transitive canonical is a — standard
greedy-ingest behavior; a periodic batch connected_components over the
decisions table recovers exact clusters if needed.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.caching import cache_scope, cached
from ..operators.dedup import (
    band_keys,
    jaccard_pairs,
    minhash_signature,
    with_shingles,
)
from .sinks import (
    atomic_write,
    batch_ids,
    fold_generation,
    read_batches,
    read_sink,
    sweep_batches,
    write_batch,
)


def _tail(
    spark, store_dir: str, sub: str, after: int | None = None,
    exclude: int | None = None,
) -> list[DataFrame]:
    """The sub-store's batch dirs strictly after the compaction horizon
    ``after``, unioned into ONE slice (``batch`` dropped) — or no slice
    when there are none, so an empty store adds nothing to the plan.

    ``exclude`` is the crash-recovery guard: a crash BETWEEN a batch's
    store write and its checkpoint commit leaves a PHANTOM batch dir on
    disk; when the engine replays that input as the same batch id, the
    store read must not see the phantom (the batch's own docs would
    join against themselves, and sketch-counted df would double) — the
    replaying batch excludes its OWN batch id, which for a committed
    batch id is a no-op because foreachBatch never re-runs a committed
    id against the same checkpoint."""
    root = os.path.join(store_dir, sub)
    ids = [b for b in batch_ids(root, after) if b != exclude]
    return [read_batches(spark, root, ids).drop("batch")] if ids else []


def _union(slices: list[DataFrame], like: DataFrame) -> DataFrame:
    """Flat union of store slices; with none, ``like.limit(0)``: the
    optimizer folds it to an empty LocalRelation, so joins against it
    are pruned at plan time and no job runs to read nothing."""
    return reduce(DataFrame.unionByName, slices) if slices else like.limit(0)


def _checkpoint_query_id(checkpoint: str) -> str | None:
    """The streaming query's stable identity (StreamMetadata ``id`` —
    constant across restarts of the SAME checkpoint, fresh for a new
    checkpoint dir). None before the engine has written it."""
    import json

    path = os.path.join(checkpoint, "metadata")
    if not os.path.isfile(path):
        return None
    try:
        with open(path) as f:
            return json.load(f).get("id")
    except (OSError, ValueError):
        return None


def _guard_store_checkpoint(store_dir: str, checkpoint: str) -> None:
    """One-checkpoint-per-store, enforced: batch ids are only unique
    WITHIN a checkpoint, so restarting an existing store with a FRESH
    checkpoint would replay batch ids from 0 and silently exclude-then-
    overwrite legitimately committed store dirs (the exclude_batch
    phantom guard cannot tell the two apart). The first batch stamps
    the query id into the store; any later mismatch fails fast instead
    of losing data. Wipe (or compact-and-archive) the store when
    starting over with a new checkpoint."""
    qid = _checkpoint_query_id(checkpoint)
    if qid is None:
        return
    stamp = os.path.join(store_dir, "_checkpoint_id")
    os.makedirs(store_dir, exist_ok=True)
    if os.path.isfile(stamp):
        with open(stamp) as f:
            prev = f.read().strip()
        if prev != qid:
            raise ValueError(
                f"store {store_dir} belongs to streaming query {prev}; "
                f"refusing to ingest from query {qid} (a fresh checkpoint "
                "restarts batch ids at 0 and would overwrite committed "
                "store batches). Use the original checkpoint, or start a "
                "new store directory."
            )
        return
    atomic_write(stamp, qid)


def read_signature_store(
    spark, store_dir: str, like_sigs: DataFrame, like_bands: DataFrame,
    exclude_batch: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(sigs, bands) of every accepted doc so far; empty frames with the
    incoming batch's schemas before the first committed batch.
    ``exclude_batch``: see _tail (phantom-dir replay guard).

    Flat-union convenience wrapper over read_signature_store_slices —
    use the slices form in per-batch joins so a compacted bucketed
    bands slice keeps its (band, key) co-location. The wrapper requests
    PLAIN generation reads (bucketed=False): the slices get unioned
    here, and a union of identically-bucketed scans mis-plans
    downstream (see _gen_df)."""
    sigs, band_slices = read_signature_store_slices(
        spark, store_dir, like_sigs, like_bands, exclude_batch,
        bucketed=False,
    )
    return sigs, _union(band_slices, like_bands)


def read_signature_store_slices(
    spark, store_dir: str, like_sigs: DataFrame, like_bands: DataFrame,
    exclude_batch: int | None = None,
    bucketed: bool = True,
) -> tuple[DataFrame, list[DataFrame]]:
    """(sigs flat, band slices) of every accepted doc so far. Bands come
    back as slices — [compacted bucketed table, post-horizon tail] — so
    the per-batch candidate join keeps the compacted side's (band, key)
    co-location; sigs are returned flat because the verify join's other
    side (the candidate pair set) is cap-bounded and broadcasts, so
    slice provenance doesn't change its plan — except when one
    compacted generation is the WHOLE store (no tail), where the flat
    frame IS that generation's bucketed-by-id scan. Fails fast when a
    replaying batch id sits at or below the compaction horizon (a
    compaction folded an uncommitted batch — see
    read_anchor_store_slices)."""
    manifest = read_compaction_manifest(store_dir)
    min_batch = manifest["through_batch"] if manifest else None
    if (
        exclude_batch is not None
        and min_batch is not None
        and exclude_batch <= min_batch
    ):
        raise ValueError(
            f"batch {exclude_batch} is replaying but the store at "
            f"{store_dir} was compacted through batch {min_batch}: "
            "compaction folded an uncommitted batch (it must lag the "
            "checkpoint horizon). Restore from the pre-compaction store."
        )
    sig_slices: list[DataFrame] = []
    band_slices: list[DataFrame] = []
    sig_tail = _tail(spark, store_dir, "sigs", min_batch, exclude_batch)
    if manifest is not None:
        gens = _manifest_generations(manifest)
        live = {g["tables"]["bands"]["name"] for g in gens}
        live_sigs = {g["tables"]["sigs"]["name"] for g in gens}
        # sigs become a UNION partner as soon as there is a second
        # generation or a post-horizon tail — the bucketed scan is only
        # safe (and only useful) while it stands ALONE (see _gen_df's
        # union-of-bucketed-scans hazard). Exactly one generation and
        # no tail — the steady post-compaction serving state — keeps
        # the verify join's store side bucketed by id.
        sole_sigs = bucketed and len(gens) == 1 and not sig_tail
        for g in gens:
            # bands: bucketed catalog scan — per-slice (band, key)
            # joins, never unioned by this function.
            sig_slices.append(
                _bucketed_slice(spark, manifest, g["tables"]["sigs"],
                                live_sigs)
                if sole_sigs else _gen_df(spark, g["tables"]["sigs"])
            )
            band_slices.append(
                _bucketed_slice(spark, manifest, g["tables"]["bands"],
                                live)
                if bucketed else _gen_df(spark, g["tables"]["bands"])
            )
    band_slices += _tail(spark, store_dir, "bands", min_batch, exclude_batch)
    return _union(sig_slices + sig_tail, like_sigs), band_slices


def dedup_batch_against_store(
    new_sigs: DataFrame,
    new_bands: DataFrame,
    store_sigs: DataFrame,
    store_bands: DataFrame | list[DataFrame],
    threshold: float = 0.8,
    max_bucket: int | None = 50,
) -> DataFrame:
    """The per-batch dedup decision, as a pure plan (also the unit the
    plan audit inspects): one row per NEW doc — (doc_id, dup_of,
    jaccard), dup_of NULL = accepted into the corpus.

    ``new_sigs``/``store_sigs``: (id, shingles). ``new_bands``/
    ``store_bands``: (id, band, key). Both candidate generators are
    (band, key) equi-joins; exact Jaccard verifies candidates only.

    ``store_bands`` may be a list of slices (the
    read_signature_store_slices contract: compacted bucketed table +
    post-horizon tail). Bucket sizes are summed ACROSS slices before
    the cap filter (a hot bucket split over generations is still hot),
    then each slice joins the new batch separately and the candidate
    streams union — equivalent to the flat-union join (an accepted
    doc's band rows live in exactly one slice), but the bucketed slice
    keeps its (band, key) co-location."""
    band_slices = (
        store_bands if isinstance(store_bands, list) else [store_bands]
    )
    if max_bucket is not None and band_slices:
        # cap degenerate buckets on the STORE side (boilerplate keys
        # accumulate members forever; a hot bucket is noise, and the
        # bands-1 other bands still catch true near-dups). Per-slice
        # partial counts summed to the global size first.
        sizes = None
        for sl in band_slices:
            part = sl.groupBy("band", "key").agg(
                F.count(F.lit(1)).alias("sz")
            )
            sizes = part if sizes is None else sizes.unionByName(part)
        small = (
            sizes.groupBy("band", "key")
            .agg(F.sum("sz").alias("sz"))
            .filter(F.col("sz") <= max_bucket)
            .select("band", "key")
        )
        band_slices = [sl.join(small, ["band", "key"]) for sl in band_slices]
    # new-vs-accepted candidates: equi-join on the bucket key. The
    # id-inequality conjunct is defense-in-depth for replay/re-ingest:
    # a doc id that somehow appears on BOTH sides (phantom store dir
    # not excluded, or an upstream re-send of an accepted id) must not
    # become its own canonical at jaccard 1.0.
    cand_ext = None
    for sl in band_slices:
        part = (
            new_bands.alias("nb")
            .join(sl.alias("sb"), ["band", "key"])
            .filter(F.col("nb.id") != F.col("sb.id"))
            .select(
                F.col("nb.id").alias("doc_a"), F.col("sb.id").alias("doc_b")
            )
        )
        cand_ext = part if cand_ext is None else cand_ext.unionByName(part)
    if cand_ext is None:
        cand_ext = new_bands.select(
            F.col("id").alias("doc_a"), F.col("id").alias("doc_b")
        ).filter(F.lit(False))
    cand_ext = cand_ext.distinct()
    ext_pairs = jaccard_pairs(
        new_sigs.unionByName(store_sigs), threshold, candidates=cand_ext
    )
    # in-batch candidates: band self-join, smaller id is the canonical
    a, b = new_bands.alias("a"), new_bands.alias("b")
    cand_int = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") > F.col("b.id")),
        )
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )
    int_pairs = jaccard_pairs(new_sigs, threshold, candidates=cand_int)
    matches = ext_pairs.unionByName(int_pairs).select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("dup_of"),
        "jaccard",
    )
    # one decision per incoming doc: smallest matched canonical wins
    best = matches.groupBy("doc_id").agg(
        F.min("dup_of").alias("dup_of"),
        F.min_by("jaccard", "dup_of").alias("jaccard"),
    )
    return new_sigs.select(F.col("id").alias("doc_id")).join(
        best, "doc_id", "left"
    )


def streaming_minhash_dedup(
    doc_stream: DataFrame,
    store_dir: str,
    decisions_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int | None = 50,
):
    """Build the streaming query: doc stream -> per-batch accept/flag.

    Decisions output rows: (doc_id, dup_of, jaccard) per batch dir — one
    row per INCOMING doc; accepted docs carry dup_of NULL. The signature
    store under ``store_dir`` accumulates accepted docs only.

    One checkpoint per store, enforced (_guard_store_checkpoint): batch
    ids are only unique within a checkpoint, so pairing an existing
    store with a fresh checkpoint fails fast instead of silently
    overwriting committed store batches on replay."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _guard_store_checkpoint(store_dir, checkpoint)
        with cache_scope():
            shingled = cached(with_shingles(batch_df, text_col, id_col, n))
            new_sigs = shingled.select("id", "shingles")
            new_bands = cached(band_keys(minhash_signature(shingled, k), k, bands))
            store_sigs, band_slices = read_signature_store_slices(
                spark, store_dir, new_sigs, new_bands, exclude_batch=batch_id
            )
            decisions = cached(dedup_batch_against_store(
                new_sigs, new_bands, store_sigs, band_slices, threshold,
                max_bucket,
            ))
            write_batch(decisions, decisions_dir, batch_id)
            accepted = decisions.filter(F.col("dup_of").isNull()).select(
                F.col("doc_id").alias("id")
            )
            for sub, new in (("sigs", new_sigs), ("bands", new_bands)):
                write_batch(
                    new.join(accepted, "id"), os.path.join(store_dir, sub),
                    batch_id,
                )

    return (
        doc_stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


# --------------------------------------------------------------------------
# Incremental distinct-count: a streaming HLL register store.
#
# The streaming answer to "distinct users per day so far" without keeping
# the key domain in state: each micro-batch contributes its own per-group
# register table (<= 64 rows per group — sketch-sized, not data-sized),
# written idempotently under batch={id}; the estimate at read time is
# finalize(cell-wise max over every committed batch). Because HLL merge
# is associative/commutative and the register math is engine-portable
# (operators/sketches.py), the read-side estimate is EXACTLY what a
# single batch pass over the union of all batches would produce — replay
# a batch and the overwrite changes nothing.
# --------------------------------------------------------------------------

from ..operators.sketches import hll_finalize, hll_registers  # noqa: E402


# --------------------------------------------------------------------------
# Incremental suffix-span dedup: the streaming twin of the batch
# suffix family (operators/dedup.py suffix_span_pairs) — "which exact
# token substrings does this NEW doc share with anything ingested so
# far", the Lee-et-al.-grade signal in the growing-corpus operating
# mode of a training-data pipeline.
#
# Store layout (all batch={id} subdirs, idempotent on replay):
#   anchors/  (doc_id, pos, g)  — every accepted doc's k-gram anchors;
#   gramdf/   (g, n)            — per-batch gram occurrence counts, so
#                                 the df-cap at batch b is computed by
#                                 SUMMING sketch-sized per-gram rows
#                                 instead of re-counting the O(corpus)
#                                 anchor table.
# Every incoming doc is accepted (span dedup scrubs spans, it does not
# reject documents), so the store is simply the corpus-so-far.
#
# 100 TB notes: the per-batch cost is O(new docs' anchors + the store
# slices sharing a gram with the new batch) — each store slice is
# pruned by its gram equi-join against the batch's capped anchors (one
# cached frame per batch, so the cap's aggregates run once) BEFORE
# anything wide, and at rest anchors/ should be written bucketed by g
# so that join co-locates without shuffling the store. The df-cap is
# evaluated on the prefix corpus (store + this batch), so it is
# PREFIX-df: a gram under the cap at batch 3 may exceed it by batch 30,
# so early batches can report spans on grams a full-corpus batch run
# would have capped away; that asymmetry is inherent to sequential
# ingest (the batch run knows the future, the stream does not) and is
# exactly replayed by the x_suffix_stream oracle.
# --------------------------------------------------------------------------

from ..operators.dedup import suffix_anchors, suffix_runs_to_spans  # noqa: E402


def read_anchor_store(
    spark, store_dir: str, like_anchors: DataFrame, like_gramdf: DataFrame,
    exclude_batch: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(anchors, gramdf) of every doc ingested so far; empty frames with
    the incoming batch's schemas before the first committed batch.
    ``exclude_batch``: see _tail (phantom-dir replay guard —
    without it a replayed batch's docs would span-match THEMSELVES and
    the sketch-summed df would count the batch twice).

    Flat-union convenience wrapper over read_anchor_store_slices — use
    the slices form in per-batch joins so the compacted bucketed slice
    keeps its co-location. The wrapper requests PLAIN generation reads
    (bucketed=False): the slices get unioned here, and a union of
    identically-bucketed scans mis-plans downstream (see _gen_df)."""
    anchor_slices, gramdf = read_anchor_store_slices(
        spark, store_dir, like_anchors, like_gramdf, exclude_batch,
        bucketed=False,
    )
    return _union(anchor_slices, like_anchors), gramdf


# --------------------------------------------------------------------------
# At-rest compaction for the suffix anchor store (VERDICT r12 #2).
#
# The streaming sink appends one plain parquet dir per micro-batch; at a
# 5 s trigger that is ~17k dirs/day, and the per-batch store-side join
# shuffles the whole anchor history every batch once the pruned slice
# stops being broadcastable. compact_suffix_store folds every committed
# batch dir into ONE bucketed-by-g table (anchors bucketed+sorted on g;
# gramdf pre-summed per g and bucketed the same way), so the store side
# of the per-batch gram join co-locates with NO Exchange — only the
# micro-batch side repartitions to the bucket count. Decisions are
# IDENTICAL before and after: the fold is a pure union for anchors and
# an associative re-sum for gramdf, and read_anchor_store_slices keeps
# the compacted slice separate from the tail so run-merging sees the
# exact same match set (a given (store doc, new doc) pair's anchors
# live in exactly one slice).
#
# Crash discipline (the sinks.py protocol; this store's manifest is
# _compaction.json, which records bucketed generations): write the new
# generation to its own path, THEN commit the manifest (sinks.
# atomic_write: tmp, fsync, os.replace), THEN sweep folded batch dirs
# (sinks.sweep_batches) and dead generations. A crash before the commit
# leaves the old state authoritative; a crash after it leaves stale
# dirs that every read ignores (batch_ids prunes at the horizon) and
# the next compaction sweeps. MUST run while the stream is stopped or
# only over batches the checkpoint has committed: replaying a
# compacted-away batch id is a contract violation and the read path
# fails fast on it.
# --------------------------------------------------------------------------


def _manifest_path(store_dir: str) -> str:
    return os.path.join(store_dir, "_compaction.json")


def read_compaction_manifest(store_dir: str) -> dict | None:
    """The store's current compaction state, or None if never
    compacted. Full-fold shape (the default): {"through_batch",
    "buckets", "tables": {sub: {"name", "path", "bucket_cols"}}} — one
    generation. Leveled shape (``fanout`` set): {"through_batch",
    "buckets", "fanout", "next_gen", "last_run_rows_written",
    "generations": [{"gen", "through", "rows", "tables": {...}}]}.
    Written atomically by _compact_store; consume via
    _manifest_generations, which normalizes both."""
    import json

    path = _manifest_path(store_dir)
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return json.load(f)


def _manifest_generations(manifest: dict) -> list[dict]:
    """Normalize a manifest to its list of compacted generations. A
    full-fold manifest is one generation (gen 0, rows unknown until a
    leveled compaction needs to tier it); a leveled manifest carries
    the list explicitly.

    Table entries written before per-entry "buckets" existed get it
    stamped from the manifest's top-level value HERE — while the
    matching top-level value is still in hand. A later compaction run
    with a different ``buckets`` that keeps such a generation live
    would otherwise re-register it under the NEW manifest's count, and
    a bucketed table declared with the wrong count silently DROPS join
    rows."""
    gens = manifest.get("generations") or [{
        "gen": 0,
        "through": manifest["through_batch"],
        "rows": None,
        "tables": manifest["tables"],
    }]
    for g in gens:
        for entry in g["tables"].values():
            entry.setdefault("buckets", manifest["buckets"])
    return gens


def _bucketed_slice(
    spark, manifest: dict, entry: dict, live_names: set[str] | None = None,
) -> DataFrame:
    """The compacted bucketed table for one generation's sub-store
    ``entry`` ({"name", "path", "bucket_cols"[, "buckets"]}),
    re-registered in this session's catalog if absent (the bucketing
    spec lives in catalog metadata, not the files — a fresh session
    re-creates the external table entry over the same LOCATION).

    On a registration miss, catalog tables from SUPERSEDED generations
    of the same (store, sub) family — same name up to the final
    ``_b{N}``/``_g{N}`` segment, absent from ``live_names`` — are
    dropped: a session that only READS a store another process has
    re-compacted would otherwise accumulate one dead external-table
    entry per superseded generation (metadata only, the files are
    swept, but unbounded in a long-lived session cycling many
    stores)."""
    name = entry["name"]
    path = entry["path"]
    if not spark.catalog.tableExists(name):
        if live_names:
            family = name.rsplit("_", 1)[0] + "_"
            for t in spark.catalog.listTables():
                if t.name.startswith(family) and t.name not in live_names:
                    spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
        schema = _gen_df(spark, entry).schema
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        bcols = ", ".join(f"`{c}`" for c in entry["bucket_cols"])
        buckets = entry.get("buckets", manifest["buckets"])
        spark.sql(
            f"CREATE TABLE `{name}` ({cols}) USING PARQUET "
            f"CLUSTERED BY ({bcols}) SORTED BY ({bcols}) INTO "
            f"{buckets} BUCKETS LOCATION '{path}'"
        )
    return spark.table(name)


def _write_generation(
    spark, store_dir: str, prefix: str, digest: str, subs: list[tuple],
    sources: dict, gid: int, through: int, buckets: int,
) -> dict:
    """Write one bucketed generation (one table per sub-store) and
    return its manifest entry. ``rows`` is the first sub's row count —
    the size-tiering key; a count over freshly written parquet, served
    from footer statistics."""
    tables = {}
    for sub, bucket_cols, fold in subs:
        df = sources[sub]
        if fold is not None:
            df = fold(df)
        name = f"{prefix}_store_{digest}_{sub}_g{gid}"
        path = os.path.join(store_dir, f"{sub}_compact", f"gen={gid}")
        (
            df.write.bucketBy(buckets, *bucket_cols).sortBy(*bucket_cols)
            .option("path", path).mode("overwrite").saveAsTable(name)
        )
        tables[sub] = {"name": name, "path": path,
                       "bucket_cols": list(bucket_cols), "buckets": buckets,
                       "schema": df.schema.json()}
    rows = spark.table(tables[subs[0][0]]["name"]).count()
    return {"gen": gid, "through": through, "rows": rows, "tables": tables}


def _gen_df(spark, entry: dict) -> DataFrame:
    """A generation's sub-table as a PLAIN parquet read — no bucketing
    claim. MANDATORY in any plan that UNIONS generations (compaction
    folds/merges, the flat gramdf/sigs reads): Spark 4.1.2 lets a Union
    of identically-bucketed scans claim their common HashPartitioning,
    and a downstream aggregate then skips its Exchange — but the same
    key lives in a DIFFERENT partition of each child, so the aggregate
    is silently WRONG (two output rows per duplicated key; pinned by
    tests/test_incremental_dedup.py::test_union_of_bucketed_
    generations_aggregates_correctly). The bucketed catalog scan
    (_bucketed_slice) is reserved for PER-SLICE joins, where one
    bucketed table per join side is exactly what the layout is for.

    Reads with the schema the manifest recorded at write time (a
    generation can legitimately be EMPTY — e.g. a signature-store batch
    where every doc was flagged — and an empty parquet dir cannot infer
    its own schema); v1 manifests without one fall back to
    inference."""
    import json

    from pyspark.sql.types import StructType

    if "schema" in entry:
        schema = StructType.fromJson(json.loads(entry["schema"]))
        return spark.read.schema(schema).parquet(entry["path"])
    return spark.read.parquet(entry["path"])


def _tier(rows: int, fanout: int) -> int:
    """Size tier of a generation: floor(log_fanout(rows)), integer
    arithmetic. Generations in the same tier are within a fanout factor
    of each other — merging a full tier lands the result at least one
    tier up, which is what bounds the generation count at
    O(log_fanout(store))."""
    t, r = 0, max(int(rows or 0), 1)
    while r >= fanout:
        r //= fanout
        t += 1
    return t


def _gen_rows(spark, gen: dict, first_sub: str) -> int:
    """The tiering key for a generation, counting (and caching on the
    gen dict) when a v1 full-fold manifest didn't record it."""
    if gen.get("rows") is None:
        gen["rows"] = _gen_df(spark, gen["tables"][first_sub]).count()
    return gen["rows"]


def _compact_store(
    spark, store_dir: str, prefix: str, subs: list[tuple], buckets: int,
    fanout: int | None = None,
) -> dict:
    """Shared compaction body; returns the new manifest. ``subs``
    entries are (sub_dir, bucket_cols, fold) with ``fold`` an optional
    DataFrame->DataFrame reducer applied after each union (pre-summing
    additive sketches — safe to re-apply at every merge because the
    reduction is associative).

    ``fanout=None`` (default) is the FULL fold: every prior generation
    plus the batch-dir tail re-written into ONE bucketed generation.
    Cost O(store) per run — fine at a daily/cron cadence, and the shape
    the serving read prefers (one slice per sub). Also the major
    compaction for a leveled store: it collapses all generations.

    ``fanout=k`` (>= 2) is the LEVELED (size-tiered, LSM-style) mode
    for cadences where O(store) per fold is too hot: the tail folds
    into a NEW small generation — cost O(tail), independent of store
    size — and whenever ``k`` generations share a size tier
    (floor(log_k(rows))) they merge into one a tier up. Amortized write
    cost O(N log N) over the store's life vs O(N^2) for full folds at
    the same cadence, at most O(log_k(store)) live generations, and
    every generation is bucketed on the join key, so the per-batch
    store-side join stays Exchange-free per slice (the read paths
    return one slice per generation).

    Idempotent and incremental in both modes: re-running with no new
    batch dirs (and, leveled, no tier violation) only re-sweeps stale
    files. The caller guarantees every folded batch id is committed to
    the checkpoint (run while the stream is stopped, or lag the
    horizon)."""
    import hashlib
    import json
    import shutil

    if fanout is not None and fanout < 2:
        raise ValueError(f"fanout must be >= 2, got {fanout}")
    manifest = read_compaction_manifest(store_dir)
    prev_through = manifest["through_batch"] if manifest else -1
    prev_gens = _manifest_generations(manifest) if manifest else []
    new_ids = batch_ids(os.path.join(store_dir, subs[0][0]), prev_through)
    digest = hashlib.md5(
        os.path.abspath(store_dir).encode()
    ).hexdigest()[:12]
    first_sub = subs[0][0]

    if fanout is None:
        if not new_ids and len(prev_gens) <= 1 and (
            manifest is None or "generations" not in manifest
        ):
            if manifest is None:
                raise ValueError(
                    f"{prefix} store is empty — nothing to compact"
                )
            _sweep_folded(store_dir, manifest)
            return manifest
        through = max(new_ids) if new_ids else prev_through
        tables = {}
        for sub, bucket_cols, fold in subs:
            parts = [
                _gen_df(spark, g["tables"][sub]) for g in prev_gens
            ]
            parts += _tail(spark, store_dir, sub, prev_through)
            df = reduce(DataFrame.unionByName, parts)
            if fold is not None:
                df = fold(df)
            name = f"{prefix}_store_{digest}_{sub}_b{through}"
            path = os.path.join(
                store_dir, f"{sub}_compact", f"through={through}"
            )
            (
                df.write.bucketBy(buckets, *bucket_cols)
                .sortBy(*bucket_cols)
                .option("path", path).mode("overwrite").saveAsTable(name)
            )
            # per-entry "buckets" (like _write_generation): a later
            # run with a DIFFERENT buckets value must never cause this
            # generation to be re-registered with the wrong count —
            # declaring N buckets over files written with M silently
            # DROPS join rows (no error), so the files' own count
            # travels with the entry, never the manifest top-level.
            tables[sub] = {"name": name, "path": path,
                           "bucket_cols": list(bucket_cols),
                           "buckets": buckets,
                           "schema": df.schema.json()}
        new_manifest = {
            "through_batch": through,
            "buckets": buckets,
            "tables": tables,
        }
        dead_gens = prev_gens
    else:
        gens = [dict(g) for g in prev_gens]
        next_gen = (
            manifest.get("next_gen", max(g["gen"] for g in gens) + 1)
            if gens else (manifest or {}).get("next_gen", 0)
        )
        dead_gens = []
        rows_written = 0
        if new_ids:
            sources = {
                sub: _tail(spark, store_dir, sub, prev_through)[0]
                for sub, _c, _f in subs
            }
            gens.append(_write_generation(
                spark, store_dir, prefix, digest, subs, sources,
                next_gen, max(new_ids), buckets,
            ))
            rows_written += gens[-1]["rows"]
            next_gen += 1
        if not gens:
            raise ValueError(f"{prefix} store is empty — nothing to compact")
        while True:
            by_tier: dict[int, list[dict]] = {}
            for g in gens:
                by_tier.setdefault(
                    _tier(_gen_rows(spark, g, first_sub), fanout), []
                ).append(g)
            violating = sorted(
                t for t, gs in by_tier.items() if len(gs) >= fanout
            )
            if not violating:
                break
            group = by_tier[violating[0]]
            sources = {
                sub: reduce(DataFrame.unionByName, [
                    _gen_df(spark, g["tables"][sub]) for g in group
                ])
                for sub, _cols, _fold in subs
            }
            merged = _write_generation(
                spark, store_dir, prefix, digest, subs, sources,
                next_gen, max(g["through"] for g in group), buckets,
            )
            rows_written += merged["rows"]
            next_gen += 1
            dead_gens.extend(group)
            gens = [g for g in gens if g not in group] + [merged]
        through = max(prev_through, max(new_ids) if new_ids else -1)
        if not new_ids and not dead_gens:
            if manifest is not None:
                _sweep_folded(store_dir, manifest)
                return manifest
        new_manifest = {
            "through_batch": through,
            "buckets": buckets,
            "fanout": fanout,
            "next_gen": next_gen,
            # cost observability: first-sub rows written by THIS run
            # (tail gen + every cascade merge, including intermediates
            # that merged away within the run) — the O(tail)-amortized
            # quantity a deployment's compaction dashboard should plot.
            "last_run_rows_written": rows_written,
            "generations": sorted(gens, key=lambda g: g["gen"]),
        }

    atomic_write(_manifest_path(store_dir), json.dumps(new_manifest))
    for g in dead_gens:
        for sub, _cols, _fold in subs:
            spark.sql(
                f"DROP TABLE IF EXISTS `{g['tables'][sub]['name']}`"
            )
            shutil.rmtree(g["tables"][sub]["path"], ignore_errors=True)
    _sweep_folded(store_dir, new_manifest)
    return new_manifest


def compact_suffix_store(
    spark, store_dir: str, buckets: int = 8, fanout: int | None = None,
) -> dict:
    """Fold the suffix anchor store into its bucketed-by-g at-rest
    layout: anchors as a pure union, gramdf pre-summed to one row per
    gram (counts are additive, so the per-generation pre-sum plus the
    read path's cross-slice sum equals the flat sum). ``fanout=None``
    is the full O(store) fold; ``fanout=k`` the leveled size-tiered
    mode — O(tail) per run, <= log_k(store) bucketed generations, for
    sub-hour compaction cadences. See _compact_store for the crash and
    checkpoint-horizon discipline."""
    return _compact_store(
        spark, store_dir, "suffix",
        [
            ("anchors", ["g"], None),
            ("gramdf", ["g"],
             lambda df: df.groupBy("g").agg(F.sum("n").alias("n"))),
        ],
        buckets,
        fanout,
    )


def compact_minhash_store(
    spark, store_dir: str, buckets: int = 8, fanout: int | None = None,
) -> dict:
    """Fold the MinHash signature store into its bucketed at-rest
    layout: bands bucketed by (band, key) — the candidate equi-join's
    key, so the store side of every per-batch join AND the hot-bucket
    size aggregate run with no Exchange — and sigs bucketed by id (the
    verify join's key; candidates are cap-bounded so they broadcast,
    but the bucketed layout keeps the store side shuffle-free even if
    a pathological batch defeats the broadcast — realized whenever the
    compacted sigs generation stands alone, i.e. one generation and no
    post-horizon tail; with union partners the read path deliberately
    drops the bucketing claim, see read_signature_store_slices).
    ``fanout``: None = full fold, k = leveled size-tiered mode (see
    _compact_store)."""
    return _compact_store(
        spark, store_dir, "minhash",
        [
            ("sigs", ["id"], None),
            ("bands", ["band", "key"], None),
        ],
        buckets,
        fanout,
    )


def _sweep_folded(store_dir: str, manifest: dict) -> None:
    """Delete batch dirs the manifest says are folded, and compacted
    generation dirs the manifest no longer references — the post-flip
    cleanup, re-run on every compaction so a crash between flip and
    sweep is self-healing."""
    import glob
    import shutil

    gens = _manifest_generations(manifest)
    referenced = {
        os.path.abspath(e["path"])
        for g in gens for e in g["tables"].values()
    }
    for sub in gens[0]["tables"]:
        sweep_batches(os.path.join(store_dir, sub), manifest["through_batch"])
        for p in glob.glob(os.path.join(store_dir, f"{sub}_compact", "*")):
            if os.path.abspath(p) not in referenced:
                shutil.rmtree(p, ignore_errors=True)


def read_anchor_store_slices(
    spark, store_dir: str, like_anchors: DataFrame, like_gramdf: DataFrame,
    exclude_batch: int | None = None,
    bucketed: bool = True,
) -> tuple[list[DataFrame], DataFrame]:
    """(anchor slices, combined gramdf) of every doc ingested so far.

    Anchors come back as SLICES — [compacted bucketed table, tail of
    post-horizon batch dirs], either possibly absent — so the per-batch
    join can run per-slice and keep the compacted side's bucket
    co-location (unioning first would erase its output partitioning).
    gramdf is returned flat: it is sketch-sized and only feeds a
    per-gram sum, where partitioning provenance doesn't matter.

    Fails fast if ``exclude_batch`` (a replaying batch id) is at or
    below the compaction horizon: that means a compaction folded a
    batch the checkpoint had not committed — the one misuse that would
    silently double-count, so it must not proceed."""
    manifest = read_compaction_manifest(store_dir)
    min_batch = manifest["through_batch"] if manifest else None
    if (
        exclude_batch is not None
        and min_batch is not None
        and exclude_batch <= min_batch
    ):
        raise ValueError(
            f"batch {exclude_batch} is replaying but the store at "
            f"{store_dir} was compacted through batch {min_batch}: "
            "compaction folded an uncommitted batch (it must lag the "
            "checkpoint horizon). Restore from the pre-compaction store."
        )
    anchor_slices: list[DataFrame] = []
    gram_slices: list[DataFrame] = []
    if manifest is not None:
        gens = _manifest_generations(manifest)
        live = {g["tables"]["anchors"]["name"] for g in gens}
        for g in gens:
            # anchors: bucketed catalog scan — consumed ONE SLICE PER
            # JOIN, where the bucket co-location pays. gramdf: PLAIN
            # parquet read — it is flat-unioned downstream, and a union
            # of identically-bucketed scans mis-plans its aggregate
            # (see _gen_df).
            anchor_slices.append(
                _bucketed_slice(spark, manifest, g["tables"]["anchors"],
                                live)
                if bucketed else _gen_df(spark, g["tables"]["anchors"])
            )
            gram_slices.append(_gen_df(spark, g["tables"]["gramdf"]))
    anchor_slices += _tail(
        spark, store_dir, "anchors", min_batch, exclude_batch
    )
    gram_slices += _tail(spark, store_dir, "gramdf", min_batch, exclude_batch)
    return anchor_slices, _union(gram_slices, like_gramdf)


def capped_batch_anchors(
    new_anchors: DataFrame,
    store_gramdf: DataFrame,
    max_df: int | None = 64,
) -> DataFrame:
    """The batch's anchors (g, doc_id, pos) whose gram passes the
    df-cap, the batch operator's rule evaluated on the PREFIX corpus:
    total gram occurrences across store + this batch <= ``max_df``
    (None: no cap, the anchors as given). Store-side df comes from
    summing the gramdf sketch rows for grams PRESENT in the new batch
    (a semi-join-pruned aggregate, never an O(corpus) recount).

    Every later branch of the per-batch plan (each store slice and the
    in-batch self-join) reads this frame, so a caller that cuts it
    (``cached()``) plans and runs the cap's aggregates once per batch
    (suffix_ingest_batch does)."""
    if max_df is None:
        return new_anchors
    new_g = new_anchors.groupBy("g").agg(F.count(F.lit(1)).alias("n_new"))
    store_g = (
        store_gramdf.join(new_g.select("g"), "g")
        .groupBy("g")
        .agg(F.sum("n").alias("n_store"))
    )
    keep = (
        new_g.join(store_g, "g", "left")
        .filter(
            F.col("n_new") + F.coalesce(F.col("n_store"), F.lit(0)) <= max_df
        )
        .select("g")
    )
    return new_anchors.join(keep, "g")


def capped_batch_spans(
    capped: DataFrame,
    store_anchors: DataFrame | list[DataFrame],
    k: int = 8,
    min_len: int = 16,
) -> DataFrame:
    """Spans of the capped batch anchors (capped_batch_anchors) against
    the store and against their own batch siblings: one row per maximal
    shared span touching a NEW doc — (doc_a, doc_b, a_start, a_end,
    b_start, b_end, span_len) with doc_a the incumbent (already
    ingested, or the smaller-id batch sibling) and doc_b the new doc.
    Every candidate comes from a gram equi-join, never a cartesian; the
    inner join on the capped batch side is what drops capped grams from
    the store side too.

    ``store_anchors`` may be a list of slices (the
    read_anchor_store_slices contract: compacted bucketed tables +
    post-horizon tail, any absent). Each slice joins the batch
    separately and the match streams union BEFORE run-merging — exactly
    equivalent to the flat-union join (a given (store doc, new doc)
    pair's anchors live in exactly one slice), but a bucketed slice
    keeps its co-location: its side of the gram join has NO Exchange
    (plan contract tests/test_incremental_dedup.py)."""
    slices = (
        store_anchors if isinstance(store_anchors, list) else [store_anchors]
    )

    def against(a: DataFrame, doc_cmp: str) -> DataFrame:
        return a.alias("a").join(
            capped.alias("b"),
            F.expr(f"a.g = b.g AND a.doc_id {doc_cmp} b.doc_id"),
        ).selectExpr(
            "a.doc_id AS doc_a", "b.doc_id AS doc_b", "a.pos AS pa",
            "b.pos AS pb", "a.pos - b.pos AS diag",
        )

    # store side: doc-id inequality is defense-in-depth against a doc
    # appearing on both sides (phantom store dir, upstream re-send)
    # self-matching into a full-length span
    matches = [against(sl, "!=") for sl in slices] + [against(capped, "<")]
    return suffix_runs_to_spans(
        reduce(DataFrame.unionByName, matches), k, min_len,
        ["doc_a", "doc_b"],
    )


def suffix_batch_against_store(
    new_anchors: DataFrame,
    store_anchors: DataFrame | list[DataFrame],
    store_gramdf: DataFrame,
    k: int = 8,
    min_len: int = 16,
    max_df: int | None = 64,
) -> DataFrame:
    """The per-batch span decision as one pure plan:
    capped_batch_spans over capped_batch_anchors. Nothing in it is
    cached, so every branch re-plans the cap; the ingest body
    (suffix_ingest_batch) cuts the capped frame between the two steps
    instead."""
    return capped_batch_spans(
        capped_batch_anchors(new_anchors, store_gramdf, max_df),
        store_anchors, k, min_len,
    )


def suffix_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    decisions_dir: str,
    clean_dir: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_len: int = 16,
    max_df: int | None = 64,
) -> None:
    """One micro-batch of suffix-span ingest: the foreachBatch body of
    streaming_suffix_dedup (``clean_dir`` None) and
    streaming_suffix_scrub, also run directly by the catalog's
    sequential-ingest replay, the ingest/compaction probes and tests.

    Writes, each under ``batch={batch_id}`` (overwritten on replay):
    the spans to ``decisions_dir``; with ``clean_dir``, the batch's
    scrubbed text (scrub_coverage of the b-side intervals: the newcomer
    loses); then the batch's ORIGINAL (uncapped) anchors and gram df to
    the store, so a later copy still matches the full incumbent text.
    The store read excludes ``batch_id`` (the phantom-dir replay guard
    of _tail).

    The batch's ``cache_scope`` owns at most two cuts, both released
    before return: the capped batch anchors, which the df-cap
    aggregates fill once and every store slice and the sibling
    self-join read; and, with ``clean_dir``, the spans, which feed both
    the decisions and the scrub. The store writes re-derive the anchors from ``batch_df``
    (one narrow tokenize pass) rather than cache a third frame."""
    from ..operators.dedup import scrub_coverage

    new_anchors = suffix_anchors(batch_df, text_col, id_col, k)
    new_gramdf = new_anchors.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    anchor_slices, store_gramdf = read_anchor_store_slices(
        batch_df.sparkSession, store_dir, new_anchors, new_gramdf,
        exclude_batch=batch_id,
    )
    with cache_scope():
        capped = cached(capped_batch_anchors(new_anchors, store_gramdf, max_df))
        spans = capped_batch_spans(capped, anchor_slices, k, min_len)
        if clean_dir is not None:
            spans = cached(spans)
        write_batch(spans, decisions_dir, batch_id)
        if clean_dir is not None:
            removable = spans.select(
                F.col("doc_b").alias("doc_id"), "b_start", "b_end"
            )
            write_batch(
                scrub_coverage(batch_df, text_col, id_col, removable),
                clean_dir, batch_id,
            )
        write_batch(new_anchors, os.path.join(store_dir, "anchors"), batch_id)
        write_batch(new_gramdf, os.path.join(store_dir, "gramdf"), batch_id)


def streaming_suffix_dedup(
    doc_stream: DataFrame,
    store_dir: str,
    decisions_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_len: int = 16,
    max_df: int | None = 64,
):
    """Build the streaming query: doc stream -> per-batch shared-span
    report vs the corpus-so-far, anchors appended to the store. Each
    trigger runs suffix_ingest_batch without a clean output.

    Decisions output rows per batch dir: (doc_a, doc_b, a_start, a_end,
    b_start, b_end, span_len) — the suffix_span_pairs contract with
    doc_b always the newly ingested doc. Scrub-on-ingest is
    streaming_suffix_scrub.

    One checkpoint per store, enforced (_guard_store_checkpoint): the
    first batch stamps the query id; a restart against a FRESH
    checkpoint fails fast instead of replaying batch ids over committed
    store dirs. Run compact_suffix_store periodically (stream stopped,
    or lagging the commit horizon) to fold the per-batch dir sprawl
    into the bucketed at-rest layout — decisions are unchanged."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        _guard_store_checkpoint(store_dir, checkpoint)
        suffix_ingest_batch(
            batch_df, batch_id, store_dir, decisions_dir, None,
            text_col, id_col, k, min_len, max_df,
        )

    return (
        doc_stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def streaming_suffix_scrub(
    doc_stream: DataFrame,
    store_dir: str,
    decisions_dir: str,
    clean_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_len: int = 16,
    max_df: int | None = 64,
):
    """Scrub-on-ingest: streaming_suffix_dedup PLUS the suffix_scrub
    apply step per micro-batch (suffix_ingest_batch with ``clean_dir``)
    — each incoming doc is written to ``clean_dir/batch={id}`` with
    every token span it shares with the corpus-so-far (or with a
    smaller-id batch sibling) REMOVED, the newcomer-loses policy: the
    incumbent's copy survives, exactly the batch suffix_scrub ownership
    rule evaluated in arrival order. The anchor store accumulates the
    ORIGINAL (pre-scrub) anchors, so a later third copy still matches
    the full incumbent text rather than the already-scrubbed second
    copy's remnants.

    Output contract per batch dir: decisions = the suffix_span_pairs
    row shape; clean = (doc_id, clean_text, n_tokens, n_removed), one
    row per incoming doc (docs with no shared spans pass through with
    n_removed = 0). Cost: the scrub adds only the output-sized
    position explode and one doc_id-keyed list join on top of the
    detection plan — the batch text never shuffles."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        _guard_store_checkpoint(store_dir, checkpoint)
        suffix_ingest_batch(
            batch_df, batch_id, store_dir, decisions_dir, clean_dir,
            text_col, id_col, k, min_len, max_df,
        )

    return (
        doc_stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def streaming_hll_distinct(
    stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    key_col: str,
    group_cols: list[str] | None = None,
):
    """Build the streaming query: per micro-batch, write the batch's
    per-group HLL register table under ``batch={id}`` (idempotent on
    replay — same input batch, same registers, overwrite)."""
    group_cols = group_cols or []

    def write(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(
            hll_registers(batch_df, key_col, group_cols), store_dir, batch_id
        )

    return (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def read_hll_estimate(
    spark, store_dir: str, group_cols: list[str] | None = None
) -> DataFrame:
    """Per-group distinct estimate over everything committed so far
    (``read_sink``: the compacted generation plus newer batch register
    tables): cell-wise max, finalize."""
    group_cols = group_cols or []
    regs = (
        read_sink(spark, store_dir)
        .groupBy(*group_cols, "reg")
        .agg(F.max("mx").alias("mx"))
    )
    return hll_finalize(regs, group_cols)


# --------------------------------------------------------------------------
# Incremental ANN index maintenance: a streaming IVF ingest store.
#
# The embedding-side analog of the MinHash store above: vectors arrive
# continuously, each micro-batch is assigned to its IVF inverted list by
# the broadcast centroid MODEL (a narrow projection — no shuffle, no
# training on the hot path) and appended cell-partitioned. Queries probe
# the store without touching the stream. Centroid (re)training stays a
# batch job (operators/similarity.ivf_centroids) over the store.
# --------------------------------------------------------------------------

from ..operators.similarity import (  # noqa: E402
    _attach,
    _cell_expr,
    _cents_col,
    _dot,
    _probe_expr,
    as_double_vec,
    cosine_prenormed,
    norm_col,
)


def streaming_ivf_ingest(
    vec_stream: DataFrame,
    centroids: list[list[float]],
    store_dir: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Streaming IVF index maintenance.

    Each batch lands under ``batch=<id>/cell=<cid>/`` — idempotent on
    replay (a restarted batch rewrites its own directory), and the cell
    partition key means a probe prunes to n_probe cell directories per
    committed batch instead of scanning the corpus; at 100 TB the same
    layout on object storage keeps probe I/O independent of store size,
    and compact_ivf_store folds the batch dirs into one committed
    generation with the same cell layout."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        assigned = _attach(
            batch_df.select(
                F.col(id_col).alias("id"), as_double_vec(vec_col).alias("v")
            ),
            _cents_col(spark, centroids),
        ).select("id", "v", _cell_expr(F.col("v")).alias("cell"))
        write_batch(assigned, store_dir, batch_id, partition_by="cell")

    return (
        vec_stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def query_ivf_store(
    spark,
    store_dir: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 3,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the ingested store: same scoring contract as
    operators.similarity.ivf_topk (query_id, cid, neighbor_id, rank,
    sim) — cell assignment used the same model at ingest time, so the
    result is identical to running ivf_topk over the store's vectors."""
    store = (
        read_sink(spark, store_dir)
        .select(
            F.col("id").alias("neighbor_id"),
            F.col("v").alias("cv"),
            F.col("cell").cast("int").alias("cid"),
        )
        .withColumn("cn", norm_col(F.col("cv")))
    )
    q = (
        _attach(
            queries.select(
                F.col(id_col).alias("query_id"),
                as_double_vec(vec_col).alias("qv"),
            ),
            _cents_col(spark, centroids),
        )
        .select(
            "query_id",
            "qv",
            norm_col(F.col("qv")).alias("qn"),
            F.explode(_probe_expr(F.col("qv"), n_probe)).alias("cid"),
        )
    )
    scored = (
        store.join(F.broadcast(q), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim",
            cosine_prenormed(
                _dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")
            ),
        )
    )
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "cid", "neighbor_id", "rank",
            F.round("sim", 4).alias("sim"),
        )
    )


# --------------------------------------------------------------------------
# Incremental frequency store: a streaming count-min register table.
#
# The CMS analog of the HLL store above — per-batch d x w cell tables
# (sketch-sized, never key-domain-sized) written idempotently under
# batch={id}; CMS merge is cell-wise SUM (vs HLL's max), so the
# read-side estimate over all committed batches is exactly the sketch a
# single pass over the union would build — batch replay overwrites its
# own cells and changes nothing.
# --------------------------------------------------------------------------

from ..operators.sketches import cms_estimate, cms_sketch  # noqa: E402


def streaming_cms_counts(
    stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    key_col: str,
    d: int = 4,
    w: int = 256,
):
    """Maintain a streaming count-min sketch of key occurrences."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(cms_sketch(batch_df, key_col, d=d, w=w), store_dir, batch_id)

    return (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def read_cms_estimate(
    spark, store_dir: str, keys: DataFrame, key_col: str, d: int = 4, w: int = 256
) -> DataFrame:
    """Point-estimate keys against everything committed so far: cell-wise
    SUM across batch sketches, then the standard min-over-d probe."""
    merged = (
        read_sink(spark, store_dir)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return cms_estimate(keys, merged, key_col, d=d, w=w)


# --------------------------------------------------------------------------
# Incremental aggregate maintenance (IVM-lite): the generic mergeable
# per-key aggregate store. HLL/CMS above maintain SKETCH state; this one
# maintains EXACT per-key (count, sum, min, max) — the materialized-view
# pattern behind every "running totals" dashboard table: each micro-batch
# contributes one partial-aggregate delta, reads merge the deltas.
# --------------------------------------------------------------------------


def streaming_agg_store(
    stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    key_cols: list[str],
    value_col: str,
):
    """Build the streaming query: per micro-batch, write the batch's
    per-key partial aggregate (cnt/sum/min/max over ``value_col``) under
    ``batch={id}``. Idempotent on replay: the same input batch produces
    the same partial, overwritten in place — the sinks.py discipline.

    Scale shape: each batch's delta is one map-side-partial groupBy of
    JUST that batch (never a rescan of history); the store grows one
    small partial table per trigger. Merging partials is associative +
    commutative, so reads need no ordering and a periodic compaction
    (compact_agg_store: re-aggregating batch dirs into one committed
    generation) changes no answer — the same contract as the HLL
    register store above."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        agg_write_batch(batch_df, batch_id, store_dir, key_cols, value_col)

    return (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def agg_write_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    key_cols: list[str],
    value_col: str,
) -> None:
    """One batch's partial-aggregate delta write — the foreachBatch body
    of :func:`streaming_agg_store`, module-level so a batch replay
    (catalog exposure, backfill) runs the identical code path."""
    part = batch_df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col(value_col).cast("decimal(18,6)")).alias("sm"),
        F.min(value_col).alias("mn"),
        F.max(value_col).alias("mx"),
    )
    write_batch(part, store_dir, batch_id)


def read_agg_totals(spark, store_dir: str, key_cols: list[str]) -> DataFrame:
    """Exact per-key totals over everything committed so far: union the
    batch partials and merge (sum of cnt/sum — decimal, so the merged
    sum is partition-order-free — min of min, max of max; avg derived).
    Equal by construction to a full groupBy over all input ever seen —
    the parity a test asserts against a batch recompute."""
    return (
        read_sink(spark, store_dir)
        .groupBy(*key_cols)
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sm").alias("sm"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
        .select(
            *key_cols,
            F.col("cnt").cast("long").alias("cnt"),
            F.col("sm").cast("double").alias("sm"),
            "mn",
            "mx",
            (F.col("sm").cast("double") / F.col("cnt")).alias("avg"),
        )
    )


# --------------------------------------------------------------------------
# Streaming ingestion decontamination guard: the bloom-bitmap gram filter
# (operators/joins.bloom_bitmap, built ONCE over the benchmark set) applied
# to every arriving micro-batch — the online complement to the batch
# decontaminate/contamination_overlap audits: keep a contaminated doc from
# ever ENTERING the corpus, instead of scrubbing it later.
# --------------------------------------------------------------------------


def streaming_decontaminate(
    stream: DataFrame,
    out_root: str,
    checkpoint: str,
    model,
    text_col: str = "text",
    n: int = 3,
    max_hits: int = 0,
):
    """Route each arriving document by its benchmark n-gram bloom hits:
    docs with more than ``max_hits`` POSSIBLY-shared grams go to
    ``quarantine/``, the rest to ``clean/``. ``model`` is a
    ``joins.BloomModel`` — the bitmap travels WITH the m_bits/k_hashes
    it was built with, so a parameter mismatch (which would silently
    read absent bits and produce false NEGATIVES) cannot happen.

    One-sided error holds ONLY at ``max_hits=0``: a bloom miss is never
    wrong, so every exactly-contaminated doc lands in quarantine/ (the
    subset property the test asserts) and clean/ needs no second look;
    quarantined docs are re-checked exactly offline. ``max_hits > 0``
    trades that guarantee away for bloom-noise tolerance — a doc with
    <= max_hits REAL shared grams then reaches clean/ — which is why 0
    is the default and anything else should feed a downstream exact
    check.

    Scale shape: the hit-count Column (a plan literal embedding the
    bitmap words — model-sized metadata, like the IVF centroid arrays)
    is built ONCE per job, outside the per-batch callback, so frequent
    small triggers don't pay expression construction per batch; per
    batch the only work is tokenize + fold, no join, no shuffle. The
    benchmark set is read once per job, not once per trigger. Routing
    reuses sinks.split_writer's persist/route/overwrite discipline
    (batch-id dirs, idempotent on replay)."""
    from ..operators.dedup import shingles_from_tokens, tokens_expr
    from ..streaming.sinks import split_writer

    hits_col = F.size(
        F.filter(
            shingles_from_tokens("__t", n),
            lambda g: model.might_contain(g),
        )
    )
    route = split_writer(
        {
            "clean": lambda df: df.filter(F.col("n_bloom_hits") <= max_hits),
            "quarantine": lambda df: df.filter(F.col("n_bloom_hits") > max_hits),
        },
        out_root,
    )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        scored = (
            batch_df.withColumn("__t", tokens_expr(text_col))
            .withColumn("n_bloom_hits", hits_col)
            .drop("__t")
        )
        route(scored, batch_id)

    return (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


# --------------------------------------------------------------------------
# Streaming ingestion drift guard: per-micro-batch PSI against a FIXED
# reference distribution — the online complement to the batch
# validate.drift_report, the way streaming_decontaminate complements the
# batch contamination audits: flag a shifted batch BEFORE it enters the
# corpus instead of discovering the drift in the next offline report.
# --------------------------------------------------------------------------


def streaming_drift_guard(
    stream: DataFrame,
    out_root: str,
    checkpoint: str,
    reference: DataFrame,
    numeric=None,
    categorical=None,
    eps: float = 1e-6,
    psi_threshold: float = 0.25,
):
    """Write one (batch_id, feature, psi, n_ref, n_cur, breach) row per
    feature per micro-batch to ``out_root/batch={id}`` (idempotent on
    replay — same batch id overwrites the same dir).

    The reference's bin counts are computed ONCE per job and carried as
    a driver-side list (bins-sized — the PSI analog of model-as-data;
    the reference TABLE is never re-scanned per trigger). Per batch the
    work is one explode + one bins-sized aggregate + the PSI fold —
    no join against the reference data, no shuffle beyond the count.

    Batch-twin contract (tested): a batch's psi here equals
    ``validate.drift_report(reference UNION batch)`` exactly — same
    binning expressions (validate.bin_entries), same decimal-accumulated
    fold (validate.psi_from_counts)."""
    from ..operators.validate import bin_entries, psi_from_counts

    entries = bin_entries(numeric, categorical)
    spark = reference.sparkSession
    ref_counts = [
        (r["feature"], r["bin"], r["n"])
        for r in reference.select(F.explode(F.array(*entries)).alias("fb"))
        .groupBy(F.col("fb.feature").alias("feature"), F.col("fb.bin").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]

    def write(batch_df: DataFrame, batch_id: int) -> None:
        report = drift_batch_report(
            spark, ref_counts, entries, batch_df, batch_id, eps, psi_threshold
        )
        write_batch(report, out_root, batch_id)

    return (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def drift_batch_report(
    spark,
    ref_counts: list,
    entries: list,
    batch_df: DataFrame,
    batch_id: int,
    eps: float = 1e-6,
    psi_threshold: float = 0.25,
) -> DataFrame:
    """One micro-batch's PSI report vs the fixed reference bin counts —
    the exact foreachBatch body of streaming_drift_guard, exposed so the
    catalog's shard-replay exposure (x_psi_stream) runs the identical
    code path the sink runs."""
    from ..operators.validate import psi_from_counts

    ref = spark.createDataFrame(
        ref_counts, "feature string, bin string, n_ref_bin long"
    )
    cur = (
        batch_df.select(F.explode(F.array(*entries)).alias("fb"))
        .groupBy(
            F.col("fb.feature").alias("feature"),
            F.col("fb.bin").alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n_cur_bin"))
    )
    counts = (
        ref.join(cur, ["feature", "bin"], "full_outer")
        .select(
            "feature",
            "bin",
            F.coalesce("n_ref_bin", F.lit(0)).alias("n_ref_bin"),
            F.coalesce("n_cur_bin", F.lit(0)).alias("n_cur_bin"),
        )
    )
    return psi_from_counts(counts, eps).select(
        F.lit(batch_id).alias("batch_id"),
        "feature",
        "psi",
        "n_ref",
        "n_cur",
        (F.col("psi") > psi_threshold).cast("int").alias("breach"),
    )


# --------------------------------------------------------------------------
# Streaming embedding moment store: per-micro-batch (n, sum x, X^T X)
# partials — the sufficient statistic for covariance/PCA — appended as
# idempotent batch-id rows. A current PCA/covariance model is derivable
# from the store at ANY time without touching the vectors again: the
# streaming counterpart of operators.similarity.pca_model, the way the
# IVM-lite agg store is the counterpart of a batch groupBy.
# --------------------------------------------------------------------------


def streaming_moment_store(
    stream: DataFrame,
    store_root: str,
    checkpoint: str,
    vec_col: str = "embedding",
):
    """Maintain per-batch embedding moment partials under
    ``store_root/batch={id}`` (one d + d^2 + 1 row per batch — moment
    rows are MODEL-sized, never data-sized; replaying a batch overwrites
    its own dir, so the store stays exactly-once under restarts).

    The vectors never accumulate anywhere: each batch is reduced to its
    sufficient statistic and dropped — state is O(batches) single-row
    dirs (each batch's partials merge executor-side to exactly one row
    before the write), and `compact_moment_store` sums the dirs into
    one generation whenever the dir count itself gets annoying."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.similarity import (
            MOMENT_SCHEMA,
            as_double_vec,
            reduced_moments,
        )

        src = batch_df.select(as_double_vec(vec_col).alias("v"))
        # the SAME partials+merge definition pca_model uses — batch-twin
        # equality with the one-pass trainer is definitional
        write_batch(reduced_moments(src), store_root, batch_id)

    return (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def moments_from_store(spark, store_root: str):
    """Reduce the moment store's committed state (``read_sink``) to
    (n, s, ss) — feed ``similarity.pca_from_moments`` for a current PCA
    model, or divide out for the covariance. The store rows merge on
    the EXECUTORS (per-partition sums, then one model-sized row to a
    single task), so the driver collects ≤ 1 row no matter how many
    batch dirs have accumulated — at 10⁵⁺ micro-batches the old
    collect-every-row read was gigabytes of partials on the driver."""
    from ..operators.similarity import (
        MOMENT_SCHEMA,
        moment_reduce_fn,
        sum_moment_rows,
    )

    rows = (
        read_sink(spark, store_root)
        .select("n", "s", "ss")
        .mapInPandas(moment_reduce_fn(), MOMENT_SCHEMA)
        .repartition(1)
        .mapInPandas(moment_reduce_fn(), MOMENT_SCHEMA)
        .collect()
    )
    if not rows:
        raise ValueError("moment store is empty")
    return sum_moment_rows(rows)


def _compact_sketch_store(
    spark, store_root: str, fold, partition_by: str | None = None,
) -> str:
    """Compaction for the mergeable sketch stores on the one batch-store
    protocol (sinks.fold_generation): ``fold`` is the store's OWN
    read-side merge over the committed state — max for HLL registers,
    sum for CMS cells, agg partials and moments, counter-add +
    re-truncate for MG, union for IVF — and its result is committed as
    the next ``gen=`` dir by one atomic manifest rename, then the folded
    batch dirs are swept. Because each merge is associative and
    commutative, every read-path result is IDENTICAL before and after.

    A crash before the rename leaves the previous state readable; a
    crash in the sweep leaves dirs every reader ignores and the next
    compaction removes. A batch id at or below the manifest's
    ``through_batch`` is ignored by the readers, so a replay of a
    folded batch does not double-count: the folded copy already counts
    it once. Still compact while the stream is stopped or only over
    batches the checkpoint has committed — a replay whose input differs
    from the folded attempt is dropped. Returns the live generation
    dir; a re-run with no new batch dir only re-sweeps."""
    gen_dir = fold_generation(spark, store_root, fold, partition_by)
    if gen_dir is None:
        raise ValueError(f"store {store_root} is empty — nothing to compact")
    return gen_dir


def compact_moment_store(spark, store_root: str) -> str:
    """Sum the moment store into one row (moments are additive, so
    summing rows is itself just a moment add; `moments_from_store`
    returns the same state before and after modulo ulp-scale double
    reorder, which the model's 1e-6 rounding absorbs). See
    _compact_sketch_store for the commit and crash contract."""
    from ..operators.similarity import MOMENT_SCHEMA, moment_reduce_fn

    return _compact_sketch_store(
        spark, store_root,
        lambda df: df.select("n", "s", "ss").repartition(1).mapInPandas(
            moment_reduce_fn(), MOMENT_SCHEMA
        ),
    )


def compact_ivf_store(spark, store_root: str) -> str:
    """Fold the streaming IVF index's batch dirs into one generation,
    keeping the cell partition layout (the fold is a pure union of
    vectors — no merge semantics — so query_ivf_store results are
    identical by construction). Turns B x n_cells probe directories into
    n_cells, the 'periodic compaction of batch dirs' the ingest
    docstring promises; see _compact_sketch_store for the commit and
    crash contract."""
    return _compact_sketch_store(
        spark, store_root, lambda df: df.drop("batch"), partition_by="cell"
    )


def compact_hll_store(
    spark, store_root: str, group_cols: list[str] | None = None
) -> str:
    """Fold the HLL register store: cell-wise max over every committed
    batch's registers — exactly read_hll_estimate's merge, so the
    estimate is bit-identical before/after."""
    group_cols = group_cols or []
    return _compact_sketch_store(
        spark, store_root,
        lambda df: df.groupBy(*group_cols, "reg")
        .agg(F.max("mx").alias("mx"))
        .coalesce(1),
    )


def compact_cms_store(spark, store_root: str) -> str:
    """Fold the count-min store: cell-wise sum — read_cms_estimate's
    merge; point estimates are bit-identical before/after."""
    return _compact_sketch_store(
        spark, store_root,
        lambda df: df.groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .coalesce(1),
    )


def compact_agg_store(
    spark, store_root: str, key_cols: list[str]
) -> str:
    """Fold the IVM-lite exact-aggregate store: per-key partial merge
    (sum of cnt/sm, min of mn, max of mx) with the sum cast back to the
    store's own sm type (decimal(28,6) — sum-of-decimal(18,6) as
    agg_write_batch stores it) so later batch partials union with an
    unchanged parquet schema. read_agg_totals is identical
    before/after."""

    def fold(df):
        sm_type = df.schema["sm"].dataType.simpleString()
        return df.groupBy(*key_cols).agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sm").cast(sm_type).alias("sm"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )

    return _compact_sketch_store(spark, store_root, fold)


def compact_mg_store(spark, store_root: str, m: int = 64) -> str:
    """Fold the Misra-Gries summary store into ONE valid summary: sum
    kept counters per key, re-truncate to the m largest (the standard
    mergeable-summaries merge), and write a single eps row carrying
    sum(batch eps) + the merged (m+1)-th counter. read_mg_topk output
    — est, upper_bound, and ranking — is IDENTICAL before/after: est
    sums are associative, and the pre-compaction read's
    (sum eps + re-truncation cut) is exactly the folded eps row."""
    from pyspark.sql.window import Window

    def fold(df):
        merged = (
            df.filter(F.col("kind") == "k")
            .groupBy("key")
            .agg(F.sum("cnt").alias("cnt"))
        )
        w = Window.orderBy(F.col("cnt").desc(), F.col("key"))
        ranked = merged.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= m + 1
        )
        kept = ranked.filter(F.col("rn") <= m).select(
            "key", "cnt", F.lit("k").alias("kind")
        )
        tcut = ranked.filter(F.col("rn") == m + 1).agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("t")
        )
        etot = df.filter(F.col("kind") == "e").agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("e")
        )
        eps = (
            tcut.crossJoin(etot)
            .select(
                F.lit(None).cast(df.schema["key"].dataType).alias("key"),
                (F.col("t") + F.col("e")).alias("cnt"),
                F.lit("e").alias("kind"),
            )
            .filter(F.col("cnt") > 0)
        )
        return kept.unionByName(eps).coalesce(1)

    return _compact_sketch_store(spark, store_root, fold)


# --------------------------------------------------------------------------
# Streaming heavy hitters: a Misra-Gries summary store. Each micro-batch
# IS a row shard of the stream, so it writes ONE summary — its exact
# top-m counters plus the truncation bound — and reads merge summaries
# by counter addition + re-truncation, the Agarwal et al. mergeable-
# summaries operation. State is m+1 rows per batch no matter how many
# distinct keys stream past, and the answer carries a per-key error
# certificate instead of silent approximation.
# --------------------------------------------------------------------------


def streaming_mg_topk(
    stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    key_col: str,
    m: int = 64,
):
    """Maintain per-batch Misra-Gries summaries of key occurrences.

    Each batch writes TWO row kinds under its idempotent batch dir:
    kind='k' — the kept counters (key, cnt: the batch's exact counts of
    its top-m keys by (count DESC, key)), and kind='e' — the truncation
    bound (NULL key, eps = the batch's (m+1)-th count; absent when the
    batch had <= m distinct keys). Counters are exact WITHIN the batch,
    so every batch summary satisfies the mergeable-summary contract:
    kept_cnt <= true_batch_cnt <= kept_cnt + eps for every key."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        mg_write_batch(batch_df, batch_id, store_dir, key_col, m)

    return (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def mg_write_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    key_col: str,
    m: int = 64,
) -> None:
    """One batch's Misra-Gries summary write — the foreachBatch body of
    :func:`streaming_mg_topk`, module-level so a batch replay (catalog
    exposure, backfill over a day of row shards) runs the identical
    code path the stream does."""
    from pyspark.sql.window import Window

    counts = (
        batch_df.select(F.col(key_col).alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("key"))
    # rank-filter adjacent to the window: WindowGroupLimit turns the
    # batch-wide top-(m+1) into per-partition partial limits before
    # the single merge task — the sort never sees the key domain
    ranked = counts.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= m + 1
    )
    kept = ranked.filter(F.col("rn") <= m).select(
        "key", "cnt", F.lit("k").alias("kind")
    )
    eps = ranked.filter(F.col("rn") == m + 1).select(
        F.lit(None).cast(ranked.schema["key"].dataType).alias("key"),
        F.col("cnt"),
        F.lit("e").alias("kind"),
    )
    write_batch(kept.unionByName(eps), store_dir, batch_id)


def read_mg_topk(spark, store_dir: str, k: int, m: int = 64) -> DataFrame:
    """Merge everything committed so far: sum kept counters per key,
    re-truncate to the m largest merged counters (recording the merged
    (m+1)-th counter t as additional truncation error), and emit the
    top-``k`` with the certificate

        est <= true <= upper_bound = est + sum of batch eps + t

    — a key's merged counter misses at most eps_b in every batch that
    dropped it (conservatively summed over ALL batches), plus t if the
    re-truncation could have cut a sibling just below it. Output
    (rank, key, est, upper_bound); the read is summary-sized
    (batches x (m+1) rows), never key-domain-sized. The per-batch
    window in the writer is over an already-folded count frame; the
    merge here is one summary-sized aggregate + window. Lazy: nothing
    runs and nothing is cached until the caller acts on the result."""
    from pyspark.sql.window import Window

    raw = read_sink(spark, store_dir)
    merged = (
        raw.filter(F.col("kind") == "k")
        .groupBy("key")
        .agg(F.sum("cnt").alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("key"))
    ranked = (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= m + 1)  # WindowGroupLimit partial top-k
    )
    kept = ranked.filter(F.col("rn") <= m)
    tcut = ranked.filter(F.col("rn") == m + 1).agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("__t")
    )
    etot = raw.filter(F.col("kind") == "e").agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("__etot")
    )
    wk = Window.orderBy(F.col("cnt").desc(), F.col("key"))
    return (
        kept.crossJoin(F.broadcast(etot))
        .crossJoin(F.broadcast(tcut))
        .select(
            "key",
            F.col("cnt").cast("long").alias("est"),
            (F.col("cnt") + F.col("__etot") + F.col("__t"))
            .cast("long")
            .alias("upper_bound"),
            F.row_number().over(wk).alias("rank"),
        )
        .filter(F.col("rank") <= k)
        .select("rank", "key", "est", "upper_bound")
    )
