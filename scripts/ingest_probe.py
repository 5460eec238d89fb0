"""Sequential-ingest scaling probe for the streaming MinHash dedup
store AND the streaming suffix-span store (r12): per-batch wall-clock
as the store grows, on two corpus shapes.

Usage: python scripts/ingest_probe.py [sf_dir] [n_batches]

Env knobs: SPARK_GRAFT_INGEST=minhash,suffix selects the twins;
SPARK_GRAFT_INGEST_SCRUB=1 runs the full scrub-on-ingest body on the
suffix twin (n_clean must equal the batch doc count every batch);
SPARK_GRAFT_INGEST_COMPACT_EVERY=N folds the suffix store into its
bucketed generation after every Nth batch (the round-13 at-rest
layout under sustained ingest); SPARK_GRAFT_INGEST_COMPACT_FANOUT=k
makes those folds LEVELED (size-tiered) — the probe then also answers
the read-amplification question: does the per-batch body joining
<= log_k(store) generation slices instead of one cost anything
measurable?

- DISJOINT batches (scale_probe's disjoint-vocab copies): every batch
  is all-new content, the store grows linearly, and no batch collides
  with the store — per-batch cost should stay ~flat (the new-vs-store
  join probes only the new docs' band buckets, which stay empty).
- IDENTICAL-COPY batches (each batch is the same base corpus with
  shifted ids): every batch collides with batch 0's accepted docs —
  the adversarial bucket-pressure case. Accepted docs stay ~constant
  (everything past batch 0 is flagged dup), so the store does not grow
  and the hot buckets are governed by max_bucket; per-batch cost should
  stay ~flat here too, with every non-first doc flagged.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from sparkstreaming_realtime_project_spark.operators.dedup import (
    band_keys,
    minhash_signature,
    with_shingles,
)
from sparkstreaming_realtime_project_spark.session import get_spark
from sparkstreaming_realtime_project_spark.streaming.incremental import (
    dedup_batch_against_store,
    read_signature_store,
)
from scripts.scale_probe import scaled_documents


def ingest(spark, batches, label: str):
    root = tempfile.mkdtemp(prefix="spark_ingest_probe_")
    store = os.path.join(root, "store")
    rows = []
    try:
        for b, batch in enumerate(batches):
            t0 = time.perf_counter()
            shingled = with_shingles(batch, "text", "doc_id", 3)
            new_sigs = shingled.select("id", "shingles")
            new_bands = band_keys(minhash_signature(shingled, 16), 16, 4)
            store_sigs, store_bands = read_signature_store(
                spark, store, new_sigs, new_bands
            )
            decisions = dedup_batch_against_store(
                new_sigs, new_bands, store_sigs, store_bands,
                threshold=0.8, max_bucket=50,
            ).persist()
            n_new = decisions.count()
            n_dup = decisions.filter(F.col("dup_of").isNotNull()).count()
            accepted = decisions.filter(F.col("dup_of").isNull()).select(
                F.col("doc_id").alias("id")
            )
            new_sigs.join(accepted, "id").write.mode("overwrite").parquet(
                os.path.join(store, "sigs", f"batch={b}")
            )
            new_bands.join(accepted, "id").write.mode("overwrite").parquet(
                os.path.join(store, "bands", f"batch={b}")
            )
            decisions.unpersist()
            spark.catalog.clearCache()
            rows.append(
                {
                    "corpus": label,
                    "batch": b,
                    "n_docs": n_new,
                    "n_flagged": n_dup,
                    "wall_s": round(time.perf_counter() - t0, 2),
                }
            )
            print(json.dumps(rows[-1]))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return rows


def ingest_suffix(
    spark, batches, label: str,
    scrub: bool = False, compact_every: int | None = None,
    compact_fanout: int | None = None,
):
    """Per-batch wall for the suffix-span twin. Expectation differs by
    corpus: DISJOINT batches never collide with the store, so the
    gram-pruned store join touches nothing and per-batch cost stays
    ~flat as the anchor store grows; IDENTICAL-COPY batches are the
    output-bound case — every doc in batch b genuinely shares its full
    text with its b earlier copies (all docs enter the store; span
    dedup scrubs spans, it does not reject documents), so span OUTPUT
    rows grow ~linearly with b and honest per-batch wall tracks that —
    the figure to watch is wall per emitted span, which should stay
    ~flat.

    ``scrub=True`` runs the full scrub-on-ingest body (the
    streaming_suffix_scrub composition): each batch's docs are written
    back with shared spans removed — n_clean must equal the batch's
    doc count exactly (every doc passes through, scrubbed or verbatim).
    ``compact_every=N`` folds the store into its bucketed generation
    after every Nth batch (compact_suffix_store), so later batches read
    through the compacted table + tail — the production at-rest layout
    under sustained ingest. ``compact_fanout=k`` makes those folds
    leveled (size-tiered): later batches then join one slice per live
    generation (<= log_k(store)) — the read-amplification case.

    Each batch runs the stream's own body (suffix_ingest_batch);
    ``wall_s`` covers it and any compaction after it, and n_spans /
    n_clean are counted from the written dirs outside that window."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        compact_suffix_store,
        suffix_ingest_batch,
    )

    root = tempfile.mkdtemp(prefix="spark_suffix_ingest_probe_")
    store = os.path.join(root, "store")
    rows = []
    try:
        for b, batch in enumerate(batches):
            t0 = time.perf_counter()
            suffix_ingest_batch(
                batch, b, store, os.path.join(root, "decisions"),
                os.path.join(root, "clean") if scrub else None,
            )
            if compact_every and (b + 1) % compact_every == 0:
                compact_suffix_store(spark, store, buckets=8,
                                     fanout=compact_fanout)
            wall = time.perf_counter() - t0
            spark.catalog.clearCache()
            row = {
                "corpus": label,
                "batch": b,
                "n_spans": spark.read.parquet(
                    os.path.join(root, "decisions", f"batch={b}")
                ).count(),
                "wall_s": round(wall, 2),
            }
            if scrub:
                row["n_clean"] = spark.read.parquet(
                    os.path.join(root, "clean", f"batch={b}")
                ).count()
            rows.append(row)
            print(json.dumps(rows[-1]))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return rows


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = get_spark(app_name="ingest-probe")
    spark.sparkContext.setLogLevel("ERROR")

    # disjoint: copy k's docs only (disjoint vocab per copy)
    from sparkstreaming_realtime_project_spark.sources.batch import load_table

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = base.agg(F.max("doc_id")).first()[0] + 1
    all_copies = scaled_documents(spark, sf_dir, n_batches).persist()
    all_copies.count()
    disjoint = [
        all_copies.filter(
            (F.col("doc_id") >= k * n) & (F.col("doc_id") < (k + 1) * n)
        )
        for k in range(n_batches)
    ]
    which = os.environ.get("SPARK_GRAFT_INGEST", "minhash,suffix").split(",")
    scrub = os.environ.get("SPARK_GRAFT_INGEST_SCRUB", "") == "1"
    compact_every = int(
        os.environ.get("SPARK_GRAFT_INGEST_COMPACT_EVERY", "0")
    ) or None
    compact_fanout = int(
        os.environ.get("SPARK_GRAFT_INGEST_COMPACT_FANOUT", "0")
    ) or None
    r1 = r2 = s1 = s2 = []
    if "minhash" in which:
        r1 = ingest(spark, disjoint, "disjoint")
    if "suffix" in which:
        s1 = ingest_suffix(spark, disjoint, "suffix_disjoint",
                           scrub=scrub, compact_every=compact_every,
                           compact_fanout=compact_fanout)
    all_copies.unpersist()

    # identical copies: same text, shifted ids
    ident = [
        base.select((F.col("doc_id") + F.lit(k * n)).alias("doc_id"), "text")
        for k in range(n_batches)
    ]
    if "minhash" in which:
        r2 = ingest(spark, ident, "identical")
    if "suffix" in which:
        s2 = ingest_suffix(spark, ident, "suffix_identical",
                           scrub=scrub, compact_every=compact_every,
                           compact_fanout=compact_fanout)
    print(json.dumps({"ingest_scaling": r1 + r2 + s1 + s2}))


if __name__ == "__main__":
    main()
