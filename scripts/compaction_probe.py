"""Compaction-cost probe: measure compact_suffix_store's fold wall as
the store grows — the evidence behind the ADVICE watch-item that each
generation re-writes the FULL folded table (O(store) per compaction),
which sets the sane cadence (daily/cron, not per-trigger).

Ingests n_batches disjoint-content shards of documents through the
production per-batch body, compacting every ``every`` batches and
timing each fold against the store's anchor-row count at that moment.

Leveled mode (``fanout`` set, e.g. SPARK_GRAFT_COMPACT_FANOUT=2):
same ingest, but each fold is the O(tail) size-tiered compaction —
the probe's question becomes whether fold wall stays flat against
store growth where the full fold's O(store) term would eventually
show, and how many generations stay live (bounded by log_fanout).

Usage: python scripts/compaction_probe.py [sf_dir] [n_batches] [every]
       SPARK_GRAFT_COMPACT_FANOUT=k for the leveled mode
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

from sparkstreaming_realtime_project_spark.session import get_spark
from sparkstreaming_realtime_project_spark.sources.batch import load_table
from sparkstreaming_realtime_project_spark.streaming import (
    incremental as inc,
)
from sparkstreaming_realtime_project_spark.streaming.incremental import (
    compact_suffix_store,
    suffix_ingest_batch,
)
from scripts.scale_probe import scaled_documents


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    every = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    fanout = (
        int(os.environ["SPARK_GRAFT_COMPACT_FANOUT"])
        if os.environ.get("SPARK_GRAFT_COMPACT_FANOUT") else None
    )
    spark = get_spark(app_name="compaction-probe")
    spark.sparkContext.setLogLevel("ERROR")

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = base.agg(F.max("doc_id")).first()[0] + 1
    copies = scaled_documents(spark, sf_dir, n_batches).persist()
    copies.count()

    root = tempfile.mkdtemp(prefix="spark_compaction_probe_")
    store = os.path.join(root, "store")
    rows = []
    try:
        for b in range(n_batches):
            batch = copies.filter(
                (F.col("doc_id") >= b * n) & (F.col("doc_id") < (b + 1) * n)
            )
            suffix_ingest_batch(batch, b, store, os.path.join(root, "dec"))
            if (b + 1) % every == 0:
                prev_man = inc.read_compaction_manifest(store)
                prev_names = {
                    g["tables"]["anchors"]["name"]: g.get("rows")
                    for g in (
                        inc._manifest_generations(prev_man)
                        if prev_man else []
                    )
                }
                t0 = time.perf_counter()
                man = compact_suffix_store(
                    spark, store, buckets=8, fanout=fanout
                )
                wall = round(time.perf_counter() - t0, 2)
                gens = inc._manifest_generations(man)
                n_rows = sum(
                    inc._gen_rows(spark, g, "anchors") for g in gens
                )
                # leveled manifests record the exact per-run write cost
                # (incl. cascade intermediates merged away within the
                # run); full-fold runs re-write the whole store.
                rewritten = man.get("last_run_rows_written")
                if rewritten is None:
                    rewritten = sum(
                        g["rows"] for g in gens
                        if g["tables"]["anchors"]["name"] not in prev_names
                    )
                rows.append(
                    {"after_batch": b, "store_anchor_rows": n_rows,
                     "compact_wall_s": wall, "fanout": fanout,
                     "live_generations": len(gens),
                     "anchor_rows_rewritten": rewritten,
                     "gen_rows": [g["rows"] for g in gens]}
                )
                print(json.dumps(rows[-1]))
            spark.catalog.clearCache()
    finally:
        copies.unpersist()
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"compaction_scaling": rows}))


if __name__ == "__main__":
    main()
