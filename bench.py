"""Benchmark harness: runs the headline catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query executes through the ``noop`` sink so the full plan
materializes (a bare count() would let Catalyst prune the projections
away and under-report).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparkstreaming_realtime_project_spark.operators.caching import (
    release_persisted,
)
from sparkstreaming_realtime_project_spark.plans import catalog
from sparkstreaming_realtime_project_spark.session import get_spark

# queries measured per round: all catalog entries flagged bench=True plus
# the stateful-semantics heavyweights.
EXTRA_BENCH = ["o_dedup_first_per_day", "o_session_window", "a_dau_compare"]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    specs = [s for s in catalog.registry() if s.bench or s.name in EXTRA_BENCH]
    # FIXED execution order (round 9): registry() once rotated entries
    # for the driver's correctness window (that order is now derived in
    # __spark_entry__ and registry() is registration order), which
    # silently rotated WHICH bench query ran first each round — and the
    # first query absorbs residual session JIT/first-touch cost even
    # past its warm pass
    # (the o_dedup_first_per_day +31% "regression" in the r8 driver
    # table was exactly this: the r8 rotation put it FIRST; measured
    # 0.60 s first vs 0.38-0.49 s when not first, identical plan).
    # Pin the de-facto r8 order so per-query columns stay comparable
    # across rounds.
    _ORDER = [
        "o_dedup_first_per_day", "o_session_window",
        "x_dedup_ngram_jaccard", "x_dedup_minhash_lsh",
        "x_knn_bruteforce", "q1_pricing_summary", "j_order_wide",
        "a_dau_compare", "a_stats_by_item_segment",
        # r12 additions append at the END so the existing per-query
        # columns keep their position (and JIT-neighborhood) across
        # rounds: x_suffix_span_pairs is the repo's most expensive
        # graded operator (VERDICT r11 #5).
        "x_suffix_span_pairs",
    ]
    rank = {n: i for i, n in enumerate(_ORDER)}
    specs = sorted(specs, key=lambda s: (rank.get(s.name, len(_ORDER)), s.name))

    def _calib() -> float:
        """Fixed-cost CPU-bound probe (no I/O, constant work): its
        wall-clock moves ONLY with host contention, so a round where
        every query AND the calibration inflate together is a loaded
        host, not a plan regression. One untimed warm pass (the probe
        must measure the host, not its own JIT — unwarmed, the
        session's first calib read 1.5-2x its steady state), then
        median of 3."""
        runs = []
        for i in range(4):
            start = time.perf_counter()
            spark.range(0, 64_000_000, 1, 32).selectExpr(
                "sum(id * 2654435761 % 1000003) AS s"
            ).collect()
            if i:
                runs.append(time.perf_counter() - start)
        return round(sorted(runs)[1], 3)

    # Quiet-host reference for the WARM probe (the steady state every
    # mid-run/after probe sees; the FIRST probe of a session reads
    # ~2x this because JVM-global warm-in is still completing — r10/r11
    # driver "after" values on this probe: 0.125/0.100; local quiet
    # triplicates 0.10-0.13). Provenance measured in-repo: BASELINE.md
    # "Round-13: CALIB_REF provenance" + scripts/calib_probe.py (cold
    # first probe 4-4.7 s, early-session warm-in 0.2-0.55 s — the old
    # "~0.55 s quiet reference" comment was THAT state — fully-warm
    # floor 0.103-0.146). Used ONLY to compute the calib-normalized
    # secondary total below; the raw figures stay the primary metric,
    # and each bar must be met RAW on a quiet host once per round.
    CALIB_REF = float(os.environ.get("SPARK_GRAFT_CALIB_REF", "0.115"))

    calib_before = _calib()
    # Per query: warm pass (JIT, file listing), then n_runs timed
    # passes that REBUILD the plan so eager materialization inside
    # operators is paid in-measure; the reported figure is the MEDIAN.
    # Back-to-back repeats are deliberate: C2 JIT of a query's
    # generated code warms over ~3 consecutive executions (measured on
    # j_order_wide: 0.94 -> 0.51 s back-to-back, stuck at 0.73-0.95 s
    # when other queries run in between and evict/deopt its compiled
    # code), and steady-state-hot is the honest figure for an engine
    # whose production executions run minutes, warming within
    # themselves. n_runs=5 (r10, was 3) so a transient host spike must
    # cover 3 of 5 runs to move the median; SUSTAINED load is what the
    # calib probe adjudicates. Cache is cleared between passes: queries
    # that persist intermediates must pay their own materialization,
    # and entries left behind by earlier queries can't skew (or
    # destabilize, via eviction churn) later ones.
    timings: dict[str, float] = {}
    # one constant-work probe after EVERY query's timed block: probes
    # flanking a query localize host load to the queries it actually
    # hit (the r11 driver run was front-loaded: before=0.644 yet
    # after=0.100 — a single before/after pair can't say WHICH query
    # columns were inflated; VERDICT r11 #2 asks for a normalization
    # that doesn't need narrative adjudication).
    probes: list[float] = [calib_before]
    for pos, spec in enumerate(specs):
        # the FIRST query additionally absorbs whatever session-global
        # warm-in its own warm pass doesn't cover (background JIT
        # compilation threads, first shuffle-service touch): give it a
        # second warm pass. Measured on o_dedup_first_per_day in first
        # position: 0.57-1.00 s single-warm vs 0.47-0.54 s elsewhere in
        # the order, identical plan.
        for _ in range(2 if pos == 0 else 1):
            spec.spark(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            spark.catalog.clearCache()
        runs = []
        for _ in range(n_runs):
            start = time.perf_counter()
            spec.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - start)
            spark.catalog.clearCache()
        timings[spec.name] = round(sorted(runs)[len(runs) // 2], 3)
        release_persisted()  # drop the builders' cuts with the cache
        probes.append(_calib())
    calib_after = probes[-1]

    # Calib-normalized secondary figures (BASELINE.md "Calib-normalized
    # totals"): query i's load evidence is the SMALLER of its two
    # flanking probes (if either side of it the host was quiet, the
    # 5-run median was mostly quiet too — min under-states load, so the
    # normalization is conservative: it never scales a query below what
    # a genuinely quiet host would have read, and a quiet run is left
    # untouched since factors clamp at 1). The first query's leading
    # probe is the session-cold "before" reading, which is why the min
    # matters there even on a quiet host.
    queries_norm = {}
    for i, name in enumerate(timings):
        load = min(probes[i], probes[i + 1])
        factor = min(1.0, CALIB_REF / load) if load > 0 else 1.0
        queries_norm[name] = round(timings[name] * factor, 3)

    total = round(sum(timings.values()), 3)
    total_norm = round(sum(queries_norm.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline-query wall-clock (noop sink, warm)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                # host-load evidence: constant-work probes flanking every
                # query. First-of-session reference ~0.20-0.33 s, warm
                # steady-state reference ~0.10-0.13 s (local[32]); a
                # probe far above that means its neighbors' columns are
                # inflated by contention, not by plan changes.
                "calib_sec": {
                    "before": calib_before,
                    "after": calib_after,
                    "per_query": probes,
                    "ref": CALIB_REF,
                },
                # secondary, load-adjusted figures (see BASELINE.md
                # "Calib-normalized totals"): conservative per-query
                # scaling by min(flanking probes) vs the warm reference
                "queries_norm": queries_norm,
                "value_norm": total_norm,
            }
        )
    )


if __name__ == "__main__":
    main()
