"""Capture .explain("formatted") for the bench headline queries into
plans/$SPARK_GRAFT_PLANS_ROUND/<name>_<tag>.txt (tag = before/after;
round defaults to r14).

Usage: python scripts/capture_plans.py <tag> [name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

from sparkstreaming_realtime_project_spark.operators.caching import (
    release_persisted,
)
from sparkstreaming_realtime_project_spark.plans import catalog
from sparkstreaming_realtime_project_spark.session import get_spark

HEADLINE = [
    "o_dedup_first_per_day", "o_session_window",
    "x_dedup_ngram_jaccard", "x_dedup_minhash_lsh",
    "x_knn_bruteforce", "q1_pricing_summary", "j_order_wide",
    "a_dau_compare", "a_stats_by_item_segment", "x_suffix_span_pairs",
]


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rnd = os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"capture-plans-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    by_name = {s.name: s for s in catalog.registry()}
    for name in names:
        df = by_name[name].spark(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_exch = plan.count("Exchange")
        n_reuse = plan.count("ReusedExchange")
        print(f"{name:28s} -> {path}  Exchange={n_exch} (reused {n_reuse})")
        spark.catalog.clearCache()
        release_persisted()


if __name__ == "__main__":
    main()
