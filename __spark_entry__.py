"""Driver contract: entry/queries/oracle_sql wired to the engine's query
catalog (sparkstreaming_realtime_project_spark/plans/catalog.py).

Every implemented SURVEY.md §2 operator has a catalog entry pairing the
Spark plan with its DuckDB-oracle SQL; entries whose semantics aren't
SQL-expressible (streaming-only paths) register with ``sql=None`` and get
the driver's rows-only check.

The driver re-checks only the first 50 names, so ``queries()`` and
``oracle_sql()`` are ordered from the committed ``CORRECTNESS_r<N>.json``
files beside this module (rounds in numeric order; a missing round is
absent). Each entry's newest row decides: red first, then entries with no
row, then greens by oldest newest-green round; registration order within
a group. A row is green when ``err`` is null, ``rows_match`` holds and
``hash_match`` is true or null (rows-only).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable, Mapping
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from sparkstreaming_realtime_project_spark.plans import catalog


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: pricing-summary aggregate over sf0.001 lineitem."""
    return catalog.q1_pricing_summary(spark, "/root/testdata/sf0.001")


def _green(row: dict) -> bool:
    return row.get("err") is None and bool(row.get("rows_match")) and (
        row.get("hash_match") in (True, None)
    )


def window_order(names: Iterable[str], rounds: Mapping[int, Mapping[str, dict]]) -> list[str]:
    """``names`` (registration order) in driver order, given each round's
    rows keyed by round number."""
    newest = {n: (rnd, _green(row)) for rnd in sorted(rounds) for n, row in rounds[rnd].items()}

    def place(name: str) -> tuple[int, int]:
        if name not in newest:
            return (1, 0)
        rnd, green = newest[name]
        return (2, rnd) if green else (0, 0)

    return sorted(names, key=place)


def _committed_rounds() -> dict[int, dict]:
    paths = Path(__file__).resolve().parent.glob("CORRECTNESS_r*.json")
    return {
        int(m[1]): json.loads(p.read_text())
        for p in paths if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name))
    }


def _ordered_specs() -> list[catalog.QuerySpec]:
    specs = {spec.name: spec for spec in catalog.registry()}
    return [specs[n] for n in window_order(specs, _committed_rounds())]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {spec.name: spec.spark for spec in _ordered_specs()}


def oracle_sql() -> dict[str, str]:
    return {
        spec.name: spec.sql for spec in _ordered_specs() if spec.sql is not None
    }
