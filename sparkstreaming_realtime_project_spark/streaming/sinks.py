"""Streaming sinks and the one batch-store commit protocol (SURVEY §2.2
K1-K7).

The reference's delivery contract is at-least-once + idempotent sink
(ES doc-id upsert absorbs replays; offsets committed after write,
MyOffsetsUtils.scala:10-21). Structured Streaming upgrades this to
exactly-once per sink: the checkpoint records the batch id atomically
with offsets, and the foreachBatch writer here is idempotent on batch id
(replayed batches overwrite their own output, never duplicate).

One batch-store protocol, implemented only here. Every batch store in
the package — the dashboard sinks, the sketch stores (HLL, CMS, agg, MG,
IVF, moments), the suffix/MinHash dedup stores and the SCD2 history —
uses these helpers:

- a micro-batch lands in its own ``batch=<id>`` dir (:func:`write_batch`,
  overwritten in place on replay); :func:`batch_ids` lists them,
  optionally only those after a compaction horizon; :func:`read_batches`
  unions them;
- compaction of a sink or sketch store folds the committed state into a
  ``gen=<G+1>`` dir and commits it with ONE atomic rename of
  ``_MANIFEST`` = ``{"gen", "through_batch"}`` (:func:`commit_generation`,
  the only writer of ``gen=`` dirs and manifests). That rename is THE
  commit point: before it a reader resolves the old generation plus its
  batches, after it the new one. Batch ids at or below
  ``through_batch`` are ignored by every reader (:func:`read_sink`), so
  a replayed folded batch cannot double-count;
- the sweep (:func:`sweep_batches`) deletes what the manifest already
  excludes — pure garbage collection, safe to skip or repeat.

Small metadata files are committed by :func:`atomic_write` (tmp file,
fsync, ``os.replace``): the manifests, the checkpoint stamp, and the
suffix/MinHash stores' ``_compaction.json`` — those stores record
bucketed (and leveled) generations there instead of in ``_MANIFEST``,
over the same batch helpers.

Local sinks are parquet directories; on a cluster the same writers point
at object storage + a table format with real MERGE (Delta/Iceberg). The
upsert key discipline (mid / detail_id — DwdDauApp.scala:211,
DwdOrderApp.scala:260) is preserved by in-batch key dedup + per-batch
idempotent writes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.caching import cache_scope, cached


def batch_dir(root: str, batch_id: int) -> str:
    return os.path.join(root, f"batch={batch_id}")


def batch_ids(root: str, after: int | None = None) -> list[int]:
    """Sorted ids of the ``batch=<int>`` dirs under ``root`` (none for a
    missing root), only those STRICTLY after ``after`` when given (a
    compaction horizon: folded dirs are pruned before any reader is
    built, so a lagging sweep never re-reads them)."""
    if not os.path.isdir(root):
        return []
    ids = sorted(
        int(d[6:]) for d in os.listdir(root)
        if d.startswith("batch=") and d[6:].isdigit()
    )
    return ids if after is None else [b for b in ids if b > after]


def _write_parquet(df: DataFrame, path: str, partition_by: str | None) -> None:
    writer = df.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)


def write_batch(
    df: DataFrame, root: str, batch_id: int, partition_by: str | None = None,
) -> None:
    """Write one micro-batch to ``root/batch=<id>`` (``/<part>=V/`` below
    it when ``partition_by`` is given). ``mode("overwrite")`` makes a
    replay of the same id rewrite its own dir — in place, not an atomic
    rename (see :func:`idempotent_partitioned_writer`)."""
    _write_parquet(df, batch_dir(root, batch_id), partition_by)


def read_batches(spark, root: str, ids: list[int]) -> DataFrame:
    """Union of ``root``'s ``batch=<id>`` dirs for ``ids``, their
    ``batch`` partition column included (callers drop it or order by
    it). Raises ValueError when ``ids`` is empty — a caller with a
    schema to fall back on returns ``like.limit(0)`` instead, which
    the optimizer folds to an empty LocalRelation."""
    return _read_batch_dirs(spark.read, root, ids)


def _read_batch_dirs(reader, root: str, ids: list[int]) -> DataFrame:
    if not ids:
        raise ValueError(f"{root}: no committed batch or generation")
    return reader.option("basePath", root).parquet(
        *[batch_dir(root, b) for b in ids]
    )


def atomic_write(path: str, text: str) -> None:
    """Commit a small metadata file: write a tmp file beside it, fsync,
    then ``os.replace`` onto the live name — POSIX rename within a
    directory is atomic, so a reader sees the old content or the new,
    never a torn file."""
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def sweep_batches(root: str, through: int) -> None:
    """Delete ``root``'s batch dirs with id <= ``through`` (already folded
    into a committed generation)."""
    for b in batch_ids(root):
        if b <= through:
            shutil.rmtree(batch_dir(root, b), ignore_errors=True)


def idempotent_partitioned_writer(
    out_dir: str,
    key_cols: list[str],
    partition_col: str | None = "dt",
    order_col: str | None = None,
):
    """K3+K4: idempotent upsert into a date-partitioned table.

    Per batch: dedup on key, then write to a batch-id-suffixed subdir
    with ``mode("overwrite")``. Replaying a batch id rewrites the same
    subdir — exactly-once downstream once the write completes. The write
    is IN PLACE, not an atomic rename: overwrite first deletes the
    subdir, then the job commit moves files in and writes ``_SUCCESS``.
    A reader listing during a write can see a partial batch, and during
    a replay it can see no batch at all. (``read_sink``'s snapshot
    fingerprint changes when such a write completes, so the next read
    after it lists the finished batch.)

    ``order_col`` picks the in-batch winner deterministically: the row with
    the greatest order_col per key survives (the ES bulk last-write-wins of
    MyEsUtils.scala:69-79, where "last" is the newest event). Without it,
    dropDuplicates keeps an arbitrary row — fine only when duplicates are
    exact copies.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if order_col is not None:
            w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
            deduped = (
                batch_df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            deduped = batch_df.dropDuplicates(key_cols)
        write_batch(deduped, out_dir, batch_id, partition_col)

    return write


_MANIFEST = "_MANIFEST"


def _read_manifest(out_dir: str) -> dict | None:
    """The committed table state, or None for a never-compacted sink.
    One small JSON file: {"gen": N, "through_batch": M} — generation
    dir ``gen=N`` holds the compacted rows of every batch id <= M."""
    path = os.path.join(out_dir, _MANIFEST)
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def _commit_manifest(out_dir: str, manifest: dict) -> None:
    """The ONE atomic step of the protocol: :func:`atomic_write` of the
    live manifest, so a reader resolves either the old generation or
    the new one, never a torn mix. (On a cluster this is the table
    format's commit — Delta's _delta_log entry, Iceberg's metadata
    swap; reference contract: per-doc atomic upsert,
    MyEsUtils.scala:69-79.)"""
    text = json.dumps(manifest)
    atomic_write(os.path.join(out_dir, _MANIFEST), text)
    # immutable per-generation copy AFTER the live commit (additive
    # metadata for time travel; written after so a crash can never
    # leave a version file naming an uncommitted generation — a lost
    # copy for the LIVE generation falls back to the live manifest)
    atomic_write(os.path.join(out_dir, f"{_MANIFEST}.v{manifest['gen']}"), text)


def _committed_generations(out_dir: str) -> list[int]:
    """Generation ids with a committed snapshot still cataloged:
    versioned manifests plus the live manifest's generation."""
    gens = set()
    if os.path.isdir(out_dir):
        for d in os.listdir(out_dir):
            if d.startswith(f"{_MANIFEST}.v") and not d.endswith(".tmp"):
                gens.add(int(d[len(_MANIFEST) + 2:]))
    man = _read_manifest(out_dir)
    if man is not None:
        gens.add(man["gen"])
    return sorted(gens)


# Committed-snapshot reuse for read_sink: absolute sink dir ->
# (applicationId, fingerprint, DataFrame). Building the DataFrame lists
# the batch dirs and runs a parquet schema-inference job (~0.1 s
# locally); a sink's contents change only when a write or a commit
# lands, so an unchanged fingerprint serves the DataFrame already built.
# One entry per sink dir; an entry from another application (a restarted
# context) is replaced, never returned — the keying of
# sources.batch._RELATION_CACHE.
_SNAPSHOTS: dict[str, tuple[str, tuple, DataFrame]] = {}


def _snapshot_fingerprint(out_dir: str) -> tuple | None:
    """Name, inode and mtime of every entry of the sink dir, plus the
    same for the entries of each ``gen=N``/``batch=N`` dir. Any commit
    changes it: a new batch or generation dir, a manifest rename, a
    sweep, and the end of an in-place write (``_temporary`` goes,
    ``_SUCCESS`` appears; a replay recreates its batch dir). None when
    the dir is missing or changes under the listing — the read is then
    built and not kept."""

    def entries(d: str) -> tuple:
        with os.scandir(d) as it:
            return tuple(sorted(
                (e.name, e.inode(), e.stat(follow_symlinks=False).st_mtime_ns)
                for e in it
            ))

    try:
        top = entries(out_dir)
        return top, tuple(
            entries(os.path.join(out_dir, name))
            for name, _, _ in top
            if name.startswith(("gen=", "batch="))
        )
    except OSError:
        return None


def read_sink(spark, out_dir: str, at_gen: int | None = None) -> DataFrame:
    """Read the committed state of a sink directory: the manifest's
    live generation (if the sink has ever been compacted) plus every
    batch dir NEWER than the generation's high-water batch. Uncommitted
    generation dirs, superseded generations and already-compacted batch
    dirs awaiting cleanup are all invisible — the manifest alone
    decides what is part of the table, so a replayed batch id at or
    below ``through_batch`` cannot double-count. Every batch store reads
    through here: the dashboard sinks and the sketch stores (their
    readers merge the rows). A dir with nothing committed raises
    ValueError.

    Snapshot reuse: the DataFrame built for a sink dir is kept with a
    fingerprint of its committed file set (see
    :func:`_snapshot_fingerprint`). A later call whose fingerprint is
    equal, in the same Spark application, returns that SAME DataFrame —
    no file listing, no schema-inference job. Anything that
    changes the file set invalidates it: a new ``batch=N`` dir, the
    completion of an in-place write or replay of one (see
    :func:`idempotent_partitioned_writer`), ``compact_sink`` and
    ``merge_into`` (new generation, manifest rename, sweep). The next
    call then rebuilds and replaces the entry. A read racing an
    unfinished write can see a partial batch, exactly as an uncached
    read can; the write's completion changes the fingerprint, so the
    following read lists the finished batch.

    ``at_gen``: TIME TRAVEL — read exactly the snapshot generation N
    committed (no later batches; the table format's VERSION AS OF).
    Available while the generation is inside compact_sink's
    ``retain_generations`` window; a vacuumed generation raises with
    the list of still-readable ones. Time-travel reads are not kept."""
    if at_gen is not None:
        avail = _committed_generations(out_dir)
        gen_dir = os.path.join(out_dir, f"gen={at_gen}")
        if at_gen not in avail or not os.path.isdir(gen_dir):
            raise RuntimeError(
                f"read_sink: generation {at_gen} is not readable (vacuumed "
                f"or never committed); retained generations: "
                f"{[g for g in avail if os.path.isdir(os.path.join(out_dir, f'gen={g}'))]}"
            )
        return spark.read.parquet(gen_dir)
    key = os.path.abspath(out_dir)
    app = spark.sparkContext.applicationId
    # fingerprint BEFORE the build: a commit landing during the build
    # leaves a stale fingerprint, which only costs one extra rebuild.
    # No lock: concurrent readers (the threaded publisher) may each
    # rebuild and overwrite the entry, but every stored DataFrame is at
    # least as new as its fingerprint, so none is served stale.
    fp = _snapshot_fingerprint(key)
    hit = _SNAPSHOTS.get(key)
    if fp is not None and hit is not None and hit[:2] == (app, fp):
        return hit[2]
    df = _read_committed(spark, out_dir, fp)
    if fp is not None:
        _SNAPSHOTS[key] = (app, fp, df)
    return df


def _read_committed(spark, out_dir: str, fingerprint: tuple | None = None) -> DataFrame:
    """Build the DataFrame over the sink's committed state (read_sink
    without snapshot reuse), tagged with the fingerprint it was built
    under (see :func:`_committed_state`)."""
    tag = None if fingerprint is None else hashlib.sha1(repr(fingerprint).encode()).hexdigest()
    return _committed_state(spark, out_dir, _read_manifest(out_dir), tag).drop("batch")


def _committed_state(
    spark, out_dir: str, man: dict | None, tag: str | None = None
) -> DataFrame:
    """The live generation (its rows tagged ``batch`` = -1) plus every
    batch dir above its ``through_batch`` (tagged with their own id) —
    what a reader sees, with the arrival order a compaction needs.
    allowMissingColumns: a batch landed after a schema ADDED a column
    must still read alongside an older generation (and vice versa) —
    the missing side null-fills, the standard additive-evolution
    contract of a parquet table.

    Every build reads under a ``sinkSnapshot`` read option: ``tag``
    (read_sink passes a digest of the fingerprint it built under), else
    a fresh id. Parquet ignores it, but it is part of the file relation,
    so two builds are ``sameSemantics`` only when built from one
    fingerprint — never across a batch rewritten in place over the same
    dirs (a replay, or a read mid-write). A cache cut from one snapshot
    is then neither served for another by its owner nor substituted
    into another by Spark's cache lookup, while readers racing to build
    one unchanged snapshot still agree."""
    tag = tag or uuid.uuid4().hex

    def reader():
        return spark.read.option("sinkSnapshot", tag)

    live = batch_ids(out_dir, None if man is None else man["through_batch"])
    if man is None:
        return _read_batch_dirs(reader(), out_dir, live)
    gen = reader().parquet(os.path.join(out_dir, f"gen={man['gen']}"))
    if not live:
        return gen.withColumn("batch", F.lit(-1))
    return gen.withColumn("batch", F.lit(-1)).unionByName(
        _read_batch_dirs(reader(), out_dir, live), allowMissingColumns=True
    )


def _sweep_sink(out_dir: str, live: dict, retain_generations: int) -> None:
    """Reclaim anything the committed manifest already excludes:
    compacted batch dirs, uncommitted generations, and committed
    generations older than the retention window (vacuum). Pure garbage
    collection — crash-safe to skip or repeat."""
    sweep_batches(out_dir, live["through_batch"])
    committed = _committed_generations(out_dir)
    keep = set(committed[-max(retain_generations, 1):])
    keep.add(live["gen"])
    for d in os.listdir(out_dir):
        if d.startswith("gen=") and int(d.split("=", 1)[1]) not in keep:
            shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
        elif (
            d.startswith(f"{_MANIFEST}.v")
            and not d.endswith(".tmp")
            and int(d[len(_MANIFEST) + 2:]) not in keep
        ):
            os.remove(os.path.join(out_dir, d))


def commit_generation(
    out_dir: str,
    df: DataFrame,
    through_batch: int,
    partition_by: str | None = None,
    retain_generations: int = 1,
) -> str:
    """THE generation commit — the only writer of ``gen=`` dirs and
    manifests, used by compact_sink, merge_into and every sketch-store
    compaction:

    1. write ``df`` into a NEW ``gen=<G+1>`` dir (a crash here leaves an
       uncommitted dir no reader resolves — a later run overwrites it);
    2. commit ``{"gen": G+1, "through_batch"}`` by one atomic manifest
       rename (:func:`_commit_manifest`) — before it readers see the old
       state, after it the new, never a torn table;
    3. sweep what the new manifest excludes (:func:`_sweep_sink`) — a
       crash here leaves garbage every reader already ignores, swept by
       the next commit.

    ``retain_generations``: how many committed snapshots stay readable
    for time travel (``read_sink(at_gen=...)``). Returns the new
    generation dir."""
    man = _read_manifest(out_dir)
    gen = 0 if man is None else man["gen"] + 1
    gen_dir = os.path.join(out_dir, f"gen={gen}")
    _write_parquet(df, gen_dir, partition_by)
    committed = {"gen": gen, "through_batch": through_batch}
    _commit_manifest(out_dir, committed)
    # -- committed; everything below is reclaim, crash-safe to skip --
    _sweep_sink(out_dir, committed, retain_generations)
    return gen_dir


def fold_generation(
    spark,
    out_dir: str,
    fold,
    partition_by: str | None = None,
    retain_generations: int = 1,
) -> str | None:
    """Compaction on the protocol: ``fold`` maps the committed state
    (live generation rows with ``batch`` = -1, then every newer batch
    dir's rows with their id in ``batch``) to the next generation's
    rows, which :func:`commit_generation` commits through the newest
    batch id. Batches landing during the fold (ids above that
    high-water mark) stay visible before and after the commit.

    With no batch dir above the horizon this only re-sweeps (recovering
    from a crash between an earlier commit and its sweep) and returns
    the live generation dir; None for a store with nothing committed."""
    man = _read_manifest(out_dir)
    live = batch_ids(out_dir, None if man is None else man["through_batch"])
    if not live:
        if man is None:
            return None
        _sweep_sink(out_dir, man, retain_generations)
        return os.path.join(out_dir, f"gen={man['gen']}")
    return commit_generation(
        out_dir, fold(_committed_state(spark, out_dir, man)), max(live),
        partition_by, retain_generations,
    )


def merge_into(
    spark,
    out_dir: str,
    source: DataFrame,
    key_cols: list[str],
    delete_col: str | None = None,
    partition_col: str | None = None,
    retain_generations: int = 1,
) -> dict:
    """Declarative MERGE INTO the manifest-committed sink (the Delta /
    Iceberg ``MERGE`` subset a CDC-fed table needs):

      matched target row, source delete flag false -> UPDATED (replaced
        by the source row);
      matched target row, delete flag true          -> DELETED;
      unmatched source row, delete flag false       -> INSERTED;
      unmatched source row, delete flag true        -> no-op (a delete
        of a row that doesn't exist);
      unmatched target row                          -> kept as-is.

    ``delete_col`` names a boolean column on ``source`` (dropped from
    the table schema); None means pure upsert. Source rows must be
    UNIQUE on ``key_cols`` — duplicate keys make "the" matched update
    ambiguous, so the merge fails loudly instead of picking one.

    Protocol (:func:`commit_generation`, like :func:`compact_sink`): the
    merged table is written to a NEW ``gen=<g+1>`` dir folding in any
    live batch dirs (their high-water batch id moves into the
    manifest), then ONE atomic manifest rename commits — readers see
    the pre-merge table until that instant, the post-merge table after,
    never a torn mix. Crash before the rename leaves an uncommitted dir
    no reader resolves. Time travel (``read_sink(at_gen=...)``) keeps
    the pre-merge snapshot readable within ``retain_generations``.

    Execution shape: ONE full-outer equi-join of target and source on
    the key — the copy-on-write MERGE every table format runs. At
    cluster scale the rewrite narrows to the partitions that contain
    matched keys (file-level manifests); this local layout rewrites the
    table, which is the honest local[32] analog, and the COMMIT
    protocol — the part that matters for correctness — is identical.

    Returns {"gen", "updated", "deleted", "inserted", "kept"}.

    A merge into a NEVER-WRITTEN table bootstraps it: nothing can
    match, so the non-delete-flagged source rows become generation 0
    (Delta's MERGE-creates-table semantics) — this is what lets a CDC
    stream's very first micro-batch use the same writer as every later
    one.
    """
    data_cols_src = [c for c in source.columns if c != delete_col]
    man = _read_manifest(out_dir)
    if man is None and not batch_ids(out_dir):
        keep = (
            source.filter(
                ~F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False))
            )
            if delete_col is not None
            else source
        ).select(*data_cols_src)
        # duplicate check on the UNFILTERED source — the existing-table
        # path below checks the full source, and first-batch semantics
        # must agree (a source carrying both a delete row and an upsert
        # row for one key must fail on batch 0, not only on batch 1+)
        dupes = (
            source.groupBy(*key_cols).count().filter(F.col("count") > 1).count()
        )
        if dupes:
            raise ValueError(
                f"merge_into: {dupes} duplicate source key(s) — dedup the "
                f"source first (an ambiguous matched update is a silent "
                f"wrong answer)"
            )
        n_ins = keep.count()
        commit_generation(out_dir, keep, -1, partition_col)
        return {
            "gen": 0, "updated": 0, "deleted": 0,
            "inserted": n_ins, "kept": 0,
        }
    tgt = read_sink(spark, out_dir)
    data_cols = [c for c in source.columns if c != delete_col]
    if set(data_cols) != set(tgt.columns):
        raise ValueError(
            f"merge_into: source columns {sorted(data_cols)} != target "
            f"columns {sorted(tgt.columns)}"
        )
    dupes = (
        source.groupBy(*key_cols).count().filter(F.col("count") > 1).count()
    )
    if dupes:
        raise ValueError(
            f"merge_into: {dupes} duplicate source key(s) — dedup the "
            f"source first (an ambiguous matched update is a silent "
            f"wrong answer)"
        )
    val_cols = [c for c in data_cols if c not in key_cols]
    s = source.select(
        *key_cols,
        *[F.col(c).alias(f"__src_{c}") for c in val_cols],
        (
            F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False))
            if delete_col is not None
            else F.lit(False)
        ).alias("__del"),
        F.lit(True).alias("__s"),
    )
    t = tgt.withColumn("__t", F.lit(True))
    with cache_scope():
        j = cached(t.join(s, on=key_cols, how="full_outer"))
        stats = j.groupBy().agg(
            F.sum(F.when(F.col("__t") & F.col("__s") & ~F.col("__del"), 1)
                  .otherwise(0)).alias("updated"),
            F.sum(F.when(F.col("__t") & F.col("__s") & F.col("__del"), 1)
                  .otherwise(0)).alias("deleted"),
            F.sum(F.when(F.col("__t").isNull() & ~F.col("__del"), 1)
                  .otherwise(0)).alias("inserted"),
            F.sum(F.when(F.col("__s").isNull(), 1).otherwise(0)).alias("kept"),
        ).collect()[0]
        merged = j.filter(
            # survivors: kept targets, updates, inserts — not deletes, not
            # delete-flagged non-matches
            F.col("__s").isNull() | ~F.col("__del")
        ).select(
            *key_cols,
            *[
                F.when(F.col("__s").isNotNull(), F.col(f"__src_{c}"))
                .otherwise(F.col(c))
                .alias(c)
                for c in val_cols
            ],
        )
        through = -1 if man is None else man["through_batch"]
        high = max(batch_ids(out_dir, through), default=through)
        gen_dir = commit_generation(
            out_dir, merged, high, partition_col, retain_generations
        )
    return {
        "gen": int(gen_dir.rsplit("=", 1)[1]),
        "updated": int(stats.updated),
        "deleted": int(stats.deleted),
        "inserted": int(stats.inserted),
        "kept": int(stats.kept),
    }


def merge_stream_writer(
    out_dir: str,
    key_cols: list[str],
    delete_col: str | None = None,
    order_col: str | None = None,
    partition_col: str | None = None,
    retain_generations: int = 1,
):
    """foreachBatch writer: every CDC micro-batch MERGEs INTO the
    manifest-committed table (the streaming half of :func:`merge_into`
    — upsert + delete semantics from a change stream, with the same
    single-atomic-rename commit per batch).

    ``order_col`` picks the in-batch winner per key deterministically
    (greatest order_col survives) BEFORE the merge, since a CDC batch
    can legally carry several versions of one key but merge_into
    rightly refuses ambiguous sources. Without it, duplicate in-batch
    keys fail loud.

    Exactly-once without an idempotent batch-id trick: CDC rows carry
    ABSOLUTE row states (not increments), so replaying a micro-batch
    after a crash re-merges identical values — updates rewrite the same
    bytes, deletes of deleted keys no-op, inserts of present keys
    become same-value updates. The committed table is a pure function
    of the applied prefix of the stream. The very first micro-batch
    bootstraps the table (merge_into's create-on-merge path).
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        src = batch_df
        if order_col is not None:
            # deterministic tiebreak for equal order_col: a payload hash
            # over the remaining columns (asof_join's equal-timestamp
            # discipline) — otherwise a crash-replay of the batch can
            # pick a different winner and break replay idempotency
            others = [
                c for c in batch_df.columns
                if c not in key_cols and c != order_col
            ]
            tiebreak = (
                F.md5(F.to_json(F.struct(*sorted(others))))
                if others
                else F.lit("")  # no payload cols -> ties are identical rows
            )
            w = Window.partitionBy(*key_cols).orderBy(
                F.col(order_col).desc(), tiebreak
            )
            src = (
                batch_df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        merge_into(
            batch_df.sparkSession,
            out_dir,
            src,
            key_cols,
            delete_col=delete_col,
            partition_col=partition_col,
            retain_generations=retain_generations,
        )

    return write


def compact_sink(
    spark,
    out_dir: str,
    key_cols: list[str],
    partition_col: str | None = "dt",
    order_col: str | None = None,
    retain_generations: int = 1,
) -> None:
    """Compact a batch-dir sink into one clean partitioned generation
    (the OPTIMIZE/compaction step a MERGE-capable table format runs
    natively), committed by a SINGLE atomic manifest rename.

    Cross-batch winner per key = greatest (order_col, batch) when
    order_col is given, else greatest batch (later batch wins — the ES
    doc-id overwrite semantics, MyEsUtils.scala:69-79). The previous
    generation's rows lose ties to ANY batch row (they carry batch -1):
    they were batch rows once, and re-compaction must not flip a winner
    that a later batch already overwrote.

    Protocol: :func:`fold_generation` over :func:`commit_generation` —
    winners go to a new ``gen=<g+1>`` dir, ONE atomic manifest rename
    commits them, then the sweep. Batches landing DURING compaction
    (ids above the captured high-water mark) stay visible before and
    after the commit; with nothing new it only re-sweeps.

    ``retain_generations``: how many committed snapshots stay readable
    for time travel (``read_sink(at_gen=...)``) — the VACUUM retention
    knob. Default 1 keeps only the live generation; older snapshots'
    dirs and versioned manifests are reclaimed by the sweep."""
    order = [F.col("batch").desc()]
    if order_col is not None:
        order.insert(0, F.col(order_col).desc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    fold_generation(
        spark,
        out_dir,
        lambda df: df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "batch"),
        partition_col,
        retain_generations,
    )


def split_writer(outputs: dict[str, "DataFrameFn"], out_root: str):
    """K1/P11 local equivalent of the 5-topic split sink: one foreachBatch
    computing all routed outputs from the cached batch and writing each to
    its own directory (OdsBaseLogApp.scala:93-208 wrote 5 Kafka topics).

    ``outputs`` maps name -> function(batch_df) -> DataFrame. The batch is
    cached once per trigger and reused — the reference's
    pageLogDStream.cache() idiom (DwdDauApp.scala:70,81, P14)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        with cache_scope():
            batch_df = cached(batch_df)
            for name, fn in outputs.items():
                write_batch(fn(batch_df), os.path.join(out_root, name), batch_id)

    return write


def current_dims(spark, out_root: str) -> DataFrame:
    """K5: current-state dim snapshot across all committed batches.

    The reference's Redis ``SET DIM:<TABLE>:<id>`` is a cross-batch
    last-write-wins upsert (OdsBaseDbApp.scala:144-163); the parquet dim
    store keeps every batch's latest rows, so "current row for (table,
    id)" = max by (ts, batch) over all batches. One window over the dim
    store — at scale this is the compaction read a MERGE-capable table
    format does natively."""
    root = os.path.join(out_root, "dims")
    dims = read_batches(spark, root, batch_ids(root))
    w = Window.partitionBy("table", "id").orderBy(
        F.col("ts").desc(), F.col("batch").desc()
    )
    return (
        dims.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "batch")
    )


def kafka_frame(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """K2+F7: shape a routed DataFrame for the Kafka sink.

    - ``value``: if the frame has no string ``value`` column already, the
      whole row is serialized with ``to_json(struct(*))`` — the reference's
      bean->JSON step before every topic send (OdsBaseLogApp.scala:144,
      163,181,199; MyEsUtils.scala:73).
    - ``key``: optional hash-partitioning key (MyKafkaUtils.scala:98-100);
      cast to string and passed through so Kafka keeps per-key ordering.
      The key column stays IN the serialized value too — the reference
      serializes the full bean including mid into every topic
      (OdsBaseLogApp.scala:144,163,181,199), so downstream consumers
      (e.g. the DAU app parsing PageLog) must not lose it; the Kafka key
      is routing metadata, not a substitute for the field.
    """
    cols = df.columns
    out = df
    if "value" not in cols:
        payload = [c for c in cols if c != "topic"]
        out = out.withColumn("value", F.to_json(F.struct(*payload)))
    selected = ["topic", F.col("value").cast("string").alias("value")]
    if key_col is not None:
        selected.insert(1, F.col(key_col).cast("string").alias("key"))
    return out.select(*selected)


# The reference's five DWD topic names, verbatim (OdsBaseLogApp.scala:93-97).
# Derived names would silently strand a drop-in consumer of the reference
# topics (display/action do NOT follow the <NAME>_LOG_TOPIC pattern).
SPLIT_TOPICS = {
    "page": "DWD_PAGE_LOG_TOPIC",
    "display": "DWD_PAGE_DISPLAY_TOPIC",
    "action": "DWD_PAGE_ACTION_TOPIC",
    "start": "DWD_START_LOG_TOPIC",
    "error": "DWD_ERROR_LOG_TOPIC",
}


def kafka_split_frames(
    outputs: dict[str, DataFrame],
    topics: dict[str, str] | None = None,
    key_col: str | None = "mid",
) -> DataFrame:
    """K1+F7 for the 5-way split: union the routed outputs into ONE
    (topic, key, value) frame for the dynamic-topic Kafka sink — each
    record JSON-serialized (the reference serializes every bean before
    sending, OdsBaseLogApp.scala:144,163,181,199) and keyed by mid so a
    device's events keep per-partition order.

    One sink query instead of five: the topic column does the routing
    (MyKafkaUtils routes by explicit topic name per send; the Kafka sink
    does the same from the column). Topic names come from SPLIT_TOPICS
    (the reference's exact strings) unless overridden."""
    topic_map = SPLIT_TOPICS if topics is None else topics
    frames = []
    for name, df in outputs.items():
        topic = topic_map[name]
        shaped = kafka_frame(
            df.withColumn("topic", F.lit(topic)),
            key_col=key_col if key_col in df.columns else None,
        )
        if "key" not in shaped.columns:
            shaped = shaped.select(
                "topic", F.lit(None).cast("string").alias("key"), "value"
            )
        frames.append(shaped)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def kafka_topic_writer(
    df: DataFrame, brokers: str, checkpoint: str, key_col: str | None = None
):
    """K1/K2 production path: dynamic-topic Kafka sink — rows routed by
    their ``topic`` column, hash-partitioned by ``key`` when given.
    Untestable without a broker/connector jar in this container; the frame
    shape (kafka_frame) is unit-tested."""
    return (
        kafka_frame(df, key_col)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("checkpointLocation", checkpoint)
    )
