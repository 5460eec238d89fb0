"""Driver-replica correctness check: run every catalog entry's Spark plan
and DuckDB oracle SQL at a given sf dir and report mismatches.

Usage: python scripts/check_oracle.py [sf_dir] [entry_name ...]
(with entry names, checks only those — targeted re-verification after
touching an operator; without, the full registry)
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from sparkstreaming_realtime_project_spark.operators.caching import (
    release_persisted,
)
from sparkstreaming_realtime_project_spark.plans import catalog
from sparkstreaming_realtime_project_spark.session import get_spark
from tests.oracle import compare, duck_connection


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(sf_dir)
    bad = []
    specs = [s for s in catalog.registry() if not only or s.name in only]
    for spec in specs:
        t0 = time.time()
        try:
            df = spec.spark(spark, sf_dir)
            if spec.sql is None:
                n = df.count()
                status, msg = True, f"rows_only n={n}"
            else:
                status, msg = compare(df, con, spec.sql)
        except Exception as e:  # noqa: BLE001 - report, keep going
            status, msg = False, f"EXC {type(e).__name__}: {e}"
        dt = time.time() - t0
        # Builders leave their cuts cached for the consuming action;
        # drop them so cached blocks don't accumulate across the 290
        # entries of a full run. release_persisted also empties the
        # registry of cuts taken outside a scope (it pins plan objects
        # even after clearCache).
        spark.catalog.clearCache()
        release_persisted()
        print(f"{'ok ' if status else 'FAIL'} {spec.name:32s} {dt:6.2f}s {msg if not status else ''}")
        sys.stdout.flush()
        if not status:
            bad.append((spec.name, msg))
    print(json.dumps({"failed": [b[0] for b in bad], "n": len(specs)}))
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
