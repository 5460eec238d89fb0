"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_replay --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints one human-readable detail line
(the per-app / per-query breakdown, the host calibration probe, sample
counts) and, as the LAST line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.getcwd()
SETUPS = 3  # set-ups per run; setup_s is their median
WORKLOADS = ("ingest_replay", "dedup_catalog")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "sparkstreaming_realtime_project_spark")):
        print("perfbench: run from the root of a checkout of the project", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every file Spark, the JVM and Python write stays inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"

    from perfbench import common as C

    cores = len(os.sched_getaffinity(0))
    sess = C.Session(work, cores)
    try:
        if args.workload == "ingest_replay":
            from perfbench import ingest as W
        else:
            from perfbench import dedup_catalog as W
        out = W.run(sess, args.seed, args.seconds, bool(args.trace), work, SETUPS)
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)

    detail = {"workload": args.workload, "seed": args.seed, "cores": cores, **out["detail"]}
    if args.trace:
        layers = dict(out["layers"])
        detail["breakdown"] = layers.pop("breakdown")
        # traced end-to-end figures: minus an untraced run's, the overhead
        detail["traced_end_to_end"] = out["e2e"]
        metrics = {k: {"value": v, "unit": C.UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": C.UNITS[k]} for k, v in out["e2e"].items()}
    print("detail " + json.dumps(detail, ensure_ascii=False, default=str))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
