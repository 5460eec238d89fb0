"""Distributed prefix-sum primitive + exact two-sample KS."""

from __future__ import annotations

import math

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparkstreaming_realtime_project_spark.operators.distributed import (
    ks_two_sample,
    prefix_sums,
)


def test_prefix_sums_matches_global_window(spark):
    df = spark.createDataFrame(
        [(i * 7 % 101, 1, i % 5) for i in range(101)], "k int, one int, x int"
    ).repartition(13)  # scramble the physical layout first
    got = {
        r["k"]: (r["one_cum"], r["x_cum"])
        for r in prefix_sums(df, ["k"], ["one", "x"]).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["k"]: (r["oc"], r["xc"])
        for r in df.select(
            "k", F.sum("one").over(w).alias("oc"), F.sum("x").over(w).alias("xc")
        ).collect()
    }
    assert got == want
    assert got[max(got)] == (101, sum(i % 5 for i in range(101)))


def test_prefix_sums_no_global_single_task_window(spark):
    df = spark.createDataFrame([(i, 1) for i in range(50)], "k int, one int")
    plan = (
        prefix_sums(df, ["k"], ["one"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the data-sized window must be partitioned by _pid (parallel); the
    # only unpartitioned window runs over the partitions-sized totals
    assert "rangepartitioning" in plan.lower()
    assert "partitionBy=[_pid]" in plan.replace(" ", "") or "_pid" in plan


def test_ks_two_sample_hand_computed(spark):
    # a: {1,2,3,4}, b: {3,4,5,6} -> D = 1/2 at v=2 (F_a=0.5, F_b=0)
    rows = [(float(v), "a") for v in [1, 2, 3, 4]] + [
        (float(v), "b") for v in [3, 4, 5, 6]
    ]
    df = spark.createDataFrame(rows, "value double, side string")
    out = ks_two_sample(df, "value", "side", "a", "b").collect()
    assert len(out) == 1
    r = out[0]
    assert r["d_stat"] == 0.5
    assert r["at_value"] == 2.0  # smallest argmax
    assert r["n_a"] == 4 and r["n_b"] == 4


def test_ks_identical_distributions_zero(spark):
    rows = [(float(v), s) for v in range(10) for s in ("a", "b")]
    df = spark.createDataFrame(rows, "value double, side string")
    r = ks_two_sample(df, "value", "side", "a", "b").collect()[0]
    assert r["d_stat"] == 0.0


def test_ks_matches_scipy_style_reference(spark):
    # deterministic pseudo-samples; compare against a direct Python ECDF
    a = [math.sin(i) * 10 for i in range(1, 80)]
    b = [math.sin(i * 1.3 + 0.5) * 12 + 1 for i in range(1, 60)]
    rows = [(v, "a") for v in a] + [(v, "b") for v in b]
    df = spark.createDataFrame(rows, "value double, side string")
    r = ks_two_sample(df, "value", "side", "a", "b").collect()[0]
    vals = sorted(set(a) | set(b))
    best = 0.0
    for v in vals:
        fa = sum(1 for x in a if x <= v) / len(a)
        fb = sum(1 for x in b if x <= v) / len(b)
        best = max(best, abs(fa - fb))
    assert r["d_stat"] == math.floor(best * 1e6 + 0.5) / 1e6


def test_exact_quantiles_hand_computed(spark):
    from sparkstreaming_realtime_project_spark.operators.distributed import (
        exact_quantiles,
    )

    # values 1..100, one each: type-1 pth quantile = ceil(p * 100)
    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 101)], "x double"
    )
    rows = {
        r["p"]: r for r in exact_quantiles(df, "x", [0.5, 0.9, 0.999]).collect()
    }
    assert rows[0.5]["value"] == 50.0 and rows[0.5]["target_rank"] == 50
    assert rows[0.9]["value"] == 90.0
    # ceil(0.999 * 100) = 100 -> the max
    assert rows[0.999]["value"] == 100.0 and rows[0.999]["target_rank"] == 100


def test_exact_quantiles_with_heavy_ties(spark):
    from sparkstreaming_realtime_project_spark.operators.distributed import (
        exact_quantiles,
    )

    # 90 copies of 1.0 and 10 copies of 2.0: p90 lands on 1.0 exactly
    df = spark.createDataFrame(
        [(1.0,)] * 90 + [(2.0,)] * 10, "x double"
    )
    rows = {r["p"]: r for r in exact_quantiles(df, "x", [0.9, 0.91]).collect()}
    assert rows[0.9]["value"] == 1.0  # rank 90 is still inside the ties
    assert rows[0.91]["value"] == 2.0


def test_prefix_sums_consistent_without_exchange_reuse(spark):
    """Round-9 regression (ADVICE): the range-partitioned frame fans out
    to two consumers whose _pid labels must agree. With exchange reuse
    disabled, only the internal persist keeps both branches on the same
    physical partitioning — without it the branches can sample different
    range boundaries and corrupt the cumulative sums silently."""
    prev = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        df = spark.createDataFrame(
            [((i * 37) % 1009, 1, i % 7) for i in range(1009)],
            "k int, one int, x int",
        ).repartition(17)
        got = {
            r["k"]: (r["one_cum"], r["x_cum"])
            for r in prefix_sums(df, ["k"], ["one", "x"]).collect()
        }
        w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
        want = {
            r["k"]: (r["oc"], r["xc"])
            for r in df.select(
                "k",
                F.sum("one").over(w).alias("oc"),
                F.sum("x").over(w).alias("xc"),
            ).collect()
        }
        assert got == want
    finally:
        spark.conf.set("spark.sql.exchange.reuse", prev)
        spark.catalog.clearCache()


def test_ks_two_sample_empty_side_raises(spark):
    """Round-9 regression (ADVICE): a side with zero rows after the side
    filter must fail LOUDLY, not return a NaN d_stat that a downstream
    `d_stat > threshold` drift alert silently never fires on."""
    import pytest

    df = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a")], "value double, side string"
    )
    with pytest.raises(Exception, match="zero rows"):
        ks_two_sample(df, "value", "side", "a", "b").collect()
    # both sides empty (no matching side values at all) also raises
    with pytest.raises(Exception, match="zero rows"):
        ks_two_sample(df, "value", "side", "x", "y").collect()


def test_ntile_exact_matches_sql_ntile(spark):
    """ntile_exact must reproduce SQL ntile(k) bit-for-bit under the
    same total order, for every n mod k case including n < k."""
    for n, k in [(23, 5), (7, 5), (100, 4), (3, 5), (40, 5)]:
        from sparkstreaming_realtime_project_spark.operators.distributed import (
            ntile_exact,
        )

        df = spark.createDataFrame(
            [((i * 13) % n, i) for i in range(n)], "v int, id int"
        ).repartition(7)
        got = {
            r["id"]: r["b"]
            for r in ntile_exact(df, ["v", "id"], k, "b").collect()
        }
        w = Window.orderBy("v", "id")
        want = {
            r["id"]: r["b"]
            for r in df.select("id", F.ntile(k).over(w).alias("b")).collect()
        }
        assert got == want, f"n={n} k={k}"
        spark.catalog.clearCache()


def test_ntile_exact_no_keyless_window_over_data(spark):
    """The executed plan must range-partition and must NOT contain the
    ntile window function (whose keyless form is one task)."""
    from sparkstreaming_realtime_project_spark.operators.distributed import (
        ntile_exact,
    )

    df = spark.createDataFrame([(i, i) for i in range(50)], "v int, id int")
    plan = (
        ntile_exact(df, ["v", "id"], 5, "b")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in plan
    assert "ntile" not in plan
    spark.catalog.clearCache()
