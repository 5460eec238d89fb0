"""The one materialization policy (operators/caching.py): who owns a
cut, when it is released, and that the catalog's heaviest builders
return lazy plans."""

from __future__ import annotations

import threading

import pytest

from sparkstreaming_realtime_project_spark.operators.caching import (
    cache_scope,
    cached,
    release_persisted,
)
from sparkstreaming_realtime_project_spark.operators.distributed import (
    prefix_sums,
)


def is_cached(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def frame(spark, tag: int):
    # a distinct plan per tag: the Spark cache is keyed by plan
    return spark.range(20).selectExpr("id", f"id * {tag} AS v")


def test_scope_releases_its_caches_on_exit(spark):
    with cache_scope():
        df = cached(frame(spark, 2))
        assert is_cached(df)
        assert df.count() == 20
    assert not is_cached(df)


def test_scope_releases_its_caches_when_the_body_raises(spark):
    with pytest.raises(RuntimeError):
        with cache_scope():
            df = cached(frame(spark, 3))
            df.count()
            raise RuntimeError("trigger failed")
    assert not is_cached(df)


def test_release_persisted_releases_caches_taken_outside_a_scope(spark):
    release_persisted()  # drain what earlier modules left behind
    a = cached(frame(spark, 5))
    b = cached(frame(spark, 7))
    with cache_scope():
        scoped = cached(frame(spark, 11))
        # a scope's caches are the scope's: the process release leaves
        # them alone
        assert release_persisted() == 2
        assert is_cached(scoped)
    assert not is_cached(a) and not is_cached(b) and not is_cached(scoped)
    assert release_persisted() == 0  # idempotent


def test_prefix_sums_stay_exact_after_release(spark):
    """prefix_sums cuts its range-partitioned frame outside any scope;
    the process release frees it, and a consumer re-collecting after
    the release recomputes the same sums."""
    release_persisted()
    df = spark.createDataFrame([(i, 1) for i in range(40)], "k int, one int")
    out = prefix_sums(df, ["k"], ["one"])
    before = {r["k"]: r["one_cum"] for r in out.collect()}
    assert before == {k: k + 1 for k in range(40)}
    assert release_persisted() == 1
    assert {r["k"]: r["one_cum"] for r in out.collect()} == before


def test_thread_scopes_stay_apart(spark):
    """Two concurrent foreachBatch-style bodies: the thread whose scope
    exits first releases only its own cut, and neither scope's cut
    lands with the process."""
    release_persisted()
    entered, first_done = threading.Barrier(2), threading.Event()
    seen: dict[str, object] = {}

    def body(name: str, tag: int, exit_first: bool) -> None:
        with cache_scope():
            df = cached(frame(spark, tag))
            seen[name] = df
            entered.wait(timeout=60)
            if not exit_first:
                assert first_done.wait(timeout=60)
                seen["other_released"] = not is_cached(seen["a"])
                seen["mine_kept"] = is_cached(df)
        if exit_first:
            first_done.set()

    threads = [
        threading.Thread(target=body, args=("a", 13, True)),
        threading.Thread(target=body, args=("b", 17, False)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert seen["other_released"] and seen["mine_kept"]
    assert not is_cached(seen["b"])
    assert release_persisted() == 0


@pytest.mark.parametrize(
    "name",
    [
        "x_dedup_ngram_jaccard",
        "x_dedup_minhash_lsh",
        "x_suffix_span_pairs",
        "x_exact_quantiles",
    ],
)
def test_builders_launch_no_spark_job(spark, sf_dir, name):
    from sparkstreaming_realtime_project_spark.plans.catalog import registry

    spec = next(s for s in registry() if s.name == name)
    sc = spark.sparkContext
    group = f"construct-{name}"
    with cache_scope():
        # the session's first read of a table infers its parquet schema
        # with one job: that is the source's, not the builder's
        spec.spark(spark, sf_dir)
    sc.setJobGroup(group, "plan construction")
    try:
        with cache_scope():
            df = spec.spark(spark, sf_dir)
            df.schema
            jobs = list(sc.statusTracker().getJobIdsForGroup(group))
            assert jobs == [], f"{name} ran {len(jobs)} jobs while building"
            # the lazy plan still runs
            df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
