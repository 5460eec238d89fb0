"""Every catalog entry with an oracle must hash-match DuckDB at sf0.001
(fast); the driver re-checks at sf0.01. This is the t2 gate run locally."""

from __future__ import annotations

import numpy as np
import pytest

from sparkstreaming_realtime_project_spark.plans import catalog

from .oracle import compare, duck_connection

SPECS = [s for s in catalog.registry() if s.sql is not None]
ROWS_ONLY = [s for s in catalog.registry() if s.sql is None]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("spec", SPECS, ids=[s.name for s in SPECS])
def test_oracle_parity(spark, sf_dir, duck, spec):
    df = spec.spark(spark, sf_dir)
    ok, msg = compare(df, duck, spec.sql)
    assert ok, f"{spec.name}: {msg}"


@pytest.mark.parametrize(
    "spec", ROWS_ONLY or [None], ids=[s.name for s in ROWS_ONLY] or ["none"]
)
def test_rows_only_runs(spark, sf_dir, spec):
    if spec is None:
        pytest.skip("no rows-only specs")
    df = spec.spark(spark, sf_dir)
    assert df.count() >= 0


_GREEN = {"rows_match": True, "hash_match": True, "err": None}
_RED = {"rows_match": True, "hash_match": False, "err": None}


def test_window_order_rule():
    """Newest row decides: red, then no row, then green by oldest
    newest-green round; registration order within a group. Rounds arrive
    unsorted (r10 before r9) and round 4 is missing."""
    from __spark_entry__ import window_order

    rows_only = {"rows_match": True, "hash_match": None, "err": None}
    rounds = {
        10: {"fixed": _GREEN, "broke": {**_GREEN, "err": "boom"}, "late": _GREEN},
        9: {"fixed": _RED, "broke": _GREEN, "late": _GREEN, "mid": rows_only},
        5: {"old": _GREEN, "late": _RED},
        3: {"oldest": _GREEN, "old": _RED, "mid": _GREEN},
    }
    names = ["late", "fresh", "fixed", "oldest", "broke", "old", "mid", "new"]
    assert window_order(names, rounds) == [
        "broke",  # green in r9, red in r10
        "fresh", "new",  # no row
        "oldest", "old", "mid",  # newest green r3, r5 (after a red), r9
        "late", "fixed",  # newest green r10 (fixed: after a red in r9)
    ]
    assert window_order(["b", "a"], {1: {"a": _GREEN}, 2: {"a": _RED}}) == ["a", "b"]


def test_driver_window_skips_the_newest_round():
    """On the committed files the driver's first 50 names share none with
    the newest round, and its greens are the stalest greens."""
    import __spark_entry__ as E

    rounds = E._committed_rounds()
    assert sorted(rounds)[:4] == [1, 2, 3, 5]
    first50 = list(E.queries())[:50]
    assert not set(first50) & set(rounds[max(rounds)])
    newest = {n: r for r in sorted(rounds) for n in rounds[r]}
    green = {n: r for n, r in newest.items() if E._green(rounds[r][n])}
    shown = sorted(green[n] for n in first50 if n in green)
    assert shown == sorted(green.values())[: len(shown)]


def test_driver_contract(spark):
    """queries() names every entry once; oracle_sql() holds exactly the
    entries with SQL, in the same order; entry() builds a plan."""
    import __spark_entry__ as E

    names = list(E.queries())
    assert sorted(names) == sorted(s.name for s in catalog.registry())
    with_sql = {s.name for s in SPECS}
    assert list(E.oracle_sql()) == [n for n in names if n in with_sql]
    assert E.entry(spark).collect()


def _flat_duck_types(con, sql):
    rel = con.sql(sql)
    return list(zip(rel.columns, [str(t).upper() for t in rel.types]))


def test_registry_driver_canon_lint(spark, sf_dir, duck):
    """Registry-wide lint replicating the round-5 driver failures at the
    TYPE level. (Mostly plan-only: reading .schema builds the plan
    lazily for most entries, but entries with eager internal
    materialization — trained models, cluster labels, persisted pair
    tables — do execute; their persisted frames are released and the
    caches cleared at the end so nothing leaks into the shared session.)
    The three lint rules:

    - oracle SQL must not emit HUGEINT (DuckDB's integer-sum result
      type): pandas widens it to float64 while the Spark twin is int64 —
      hash mismatch (4 of 5 r5 reds). `CAST(sum(...) AS BIGINT)`.
    - neither side may emit list/struct/map-typed output columns: the
      driver's pandas row sort crashes on them (5th r5 red).
    - neither side may emit DECIMAL outputs: Spark->pandas keeps Decimal
      objects, DuckDB->pandas gives float64 — hash mismatch. Aggregate
      in decimal if exactness matters, cast out to double.
    """
    bad = []
    for spec in SPECS:
        for col, t in _flat_duck_types(duck, spec.sql):
            if "HUGEINT" in t:
                bad.append(f"{spec.name}.{col}: oracle {t} (uncast int sum)")
            if t.endswith("[]") or t.startswith(("STRUCT", "MAP", "LIST")):
                bad.append(f"{spec.name}.{col}: oracle {t} (unsortable)")
            if t.startswith("DECIMAL"):
                bad.append(f"{spec.name}.{col}: oracle {t} (decimal out)")
        df = spec.spark(spark, sf_dir)
        for field in df.schema.fields:
            tn = field.dataType.typeName()
            if tn in ("array", "struct", "map"):
                bad.append(f"{spec.name}.{field.name}: spark {tn} (unsortable)")
            if tn.startswith("decimal"):
                bad.append(f"{spec.name}.{field.name}: spark {tn} (decimal out)")
        df.unpersist()  # entries that return persisted frames
    spark.catalog.clearCache()
    assert not bad, "driver-canon lint failures:\n" + "\n".join(bad)


def test_date_queries_tz_robust(spark, sf_dir):
    """The loader pins spark.sql.session.timeZone=UTC on every call
    (sources/batch.py), so date/hour-string outputs cannot drift with
    the host or session timezone. Probe: poison the session tz, run the
    most tz-sensitive entries through the loader, assert the pin put
    UTC back and the dt/hr values match the UTC goldens."""
    from sparkstreaming_realtime_project_spark.plans.catalog import registry

    reg = {s.name: s for s in registry()}
    tz_key = "spark.sql.session.timeZone"
    spark.conf.set(tz_key, "America/New_York")
    try:
        poisoned = sorted(
            tuple(r) for r in reg["a_dau_hourly"].spark(spark, sf_dir).collect()
        )
        assert spark.conf.get(tz_key) == "UTC"  # loader re-pinned
        clean = sorted(
            tuple(r) for r in reg["a_dau_hourly"].spark(spark, sf_dir).collect()
        )
        # identical hour-bucket rows whether or not the session tz was
        # poisoned before the load — the UTC pin, not the ambient tz,
        # decides the output
        assert poisoned == clean and len(clean) > 0
        compact = reg["p_cdc_compact"].spark(spark, sf_dir)
        assert compact.count() > 0  # epoch-us output, tz-free by contract
    finally:
        spark.conf.set(tz_key, "UTC")


def test_ansi_sql_surface_matches_dataframe_plans(spark, sf_dir):
    """The engine's SQL front door: ANSI-dialect catalog oracles run
    through spark.sql() on temp views must return exactly what the
    DataFrame plans return — the same declarative query planable either
    way (a reference user can keep writing SQL). Only dialect-portable
    entries qualify (no strftime/epoch_us/list_* DuckDB-isms)."""
    from sparkstreaming_realtime_project_spark.plans.catalog import registry
    from sparkstreaming_realtime_project_spark.sources.batch import load_table

    reg = {s.name: s for s in registry()}
    for t in ("customer", "orders", "lineitem", "supplier", "part"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    try:
        for name in (
            "q13_order_count_dist",
            "q22_idle_rich_customers",
            "q19_disjunctive_predicates",
            "q21_waiting_suppliers",
            "q11_important_parts",
        ):
            via_sql = sorted(tuple(r) for r in spark.sql(reg[name].sql).collect())
            via_df = sorted(
                tuple(r) for r in reg[name].spark(spark, sf_dir).collect()
            )
            assert via_sql == via_df, f"{name}: spark.sql != DataFrame plan"
    finally:
        for t in ("customer", "orders", "lineitem", "supplier", "part"):
            spark.catalog.dropTempView(t)


def test_canon_reproduces_r5_driver_failures():
    """The hardened canon must catch all three round-5 driver failure
    modes that the old Python-value compare waved through:

    1. int64 vs float64 (DuckDB HUGEINT widening) — same values, kind
       mismatch;
    2. a list-typed cell — 'not driver-canonicalizable';
    3. Decimal objects vs float64 — kind mismatch.

    And identical frames still compare equal after pandas round-trip."""
    import decimal

    import pandas as pd

    from .oracle import _canon_cell, _canon_frame

    # kind-strict: int != float even when == in Python
    assert _canon_cell(4990) != _canon_cell(4990.0)
    assert _canon_cell(4990) == _canon_cell(np.int32(4990))  # width-blind
    assert _canon_cell(decimal.Decimal("4990.00")) != _canon_cell(4990.0)
    # representation noise collapses; NaN and None unify like pandas
    assert _canon_cell(0.1 + 0.2) == _canon_cell(0.3)
    assert _canon_cell(float("nan")) == _canon_cell(None)
    # list cells raise the same class the driver's sort does
    with pytest.raises(TypeError):
        _canon_cell([1, 2])
    lf = pd.DataFrame({"a": [1], "v": [[1.0, 2.0]]})
    with pytest.raises(TypeError):
        _canon_frame(lf)
    # order-insensitive equality on scalar frames, column order ignored
    f1 = pd.DataFrame({"a": [2, 1], "b": [2.0, 1.0]})
    f2 = pd.DataFrame({"b": [1.0, 2.0], "a": [1, 2]})
    assert _canon_frame(f1) == _canon_frame(f2)

