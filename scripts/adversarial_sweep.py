"""Adversarial-conf correctness sweep: every catalog entry's oracle
parity re-checked under a session deliberately hostile to latent
planning assumptions —

- ``spark.sql.shuffle.partitions = 7`` (weird prime, not the default slot count):
  catches anything keyed on partition counts or ids;
- ``spark.sql.exchange.reuse = false``: catches plans that silently
  rely on exchange dedup for two branches to see the same data (the
  prefix_sums hazard class — guarded there by a cached() cut);
- ``spark.sql.autoBroadcastJoinThreshold = 1KB``: every broadcast-hash
  join the planner would pick on its own becomes a sort-merge join, so
  results must not depend on join STRATEGY (explicit F.broadcast hints
  still apply — those are contracts, not hopes).

Those three confs form the ``hostile`` set. A second set, ``no_aqe``,
turns AQE off (``spark.sql.adaptive.enabled = false``). Builders cut
frames with lazy caches (operators/caching.py): under AQE a cache stage
fills a cut before its consumers read it; without AQE plain RDD block
caching fills it from whichever consumer runs first. So every cut's
shared-read assumption (prefix_sums' one range partitioning above all)
is checked under both fill paths. A third set, ``escaped_literals``, turns on
``spark.sql.parser.escapedStringLiterals``: the parser then keeps a string
literal's backslashes as written, and a raw ``r'…'`` literal keeps its
opening quote, so every builder that splices a literal or a regex into
parsed SQL (``dedup.tokens_expr`` and the other ``sqltext``-guarded
fragments) must spell it for the session's setting. Each set runs in a fresh
interpreter, so no session state or process-level memo of one set leaks
into the others.

Run once per round after registry changes:
``python scripts/adversarial_sweep.py [sf_dir] [entry ...]``.
"""

from __future__ import annotations

import json
import subprocess
import sys

sys.path.insert(0, ".")

from pyspark.sql import SparkSession

CONF_SETS = {
    "hostile": {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.exchange.reuse": "false",
        "spark.sql.autoBroadcastJoinThreshold": "1KB",
    },
    "no_aqe": {"spark.sql.adaptive.enabled": "false"},
    "escaped_literals": {"spark.sql.parser.escapedStringLiterals": "true"},
}


def sweep(conf_set: str, sf_dir: str, only: set[str]) -> None:
    builder = SparkSession.builder.master("local[8]").config(
        "spark.sql.session.timeZone", "UTC"
    )
    for k, v in CONF_SETS[conf_set].items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from sparkstreaming_realtime_project_spark.operators.caching import (
        release_persisted,
    )
    from sparkstreaming_realtime_project_spark.plans import catalog
    from tests.oracle import compare, duck_connection

    con = duck_connection(sf_dir)
    bad = []
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
        release_persisted()
        if not ok:
            bad.append(spec.name)
            print("FAIL", conf_set, spec.name, str(msg)[:200], flush=True)
    print(json.dumps({
        "conf_set": conf_set, "adversarial_confs_failed": bad, "n": len(specs),
    }), flush=True)
    spark.stop()
    if bad:
        sys.exit(1)


def main() -> None:
    args = sys.argv[1:]
    if args[:1] == ["--set"]:
        conf_set, args = args[1], args[2:]
        sf_dir = args[0] if args else "/root/testdata/sf0.01"
        sweep(conf_set, sf_dir, set(args[1:]))
        return
    failed = [
        name for name in CONF_SETS
        if subprocess.run([sys.executable, __file__, "--set", name, *args]).returncode
    ]
    if failed:
        sys.exit(f"adversarial conf sets with failures: {failed}")


if __name__ == "__main__":
    main()
