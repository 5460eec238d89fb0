"""Streaming incremental MinHash dedup (streaming/incremental.py): new
docs are checked against the accepted-corpus signature store per
micro-batch; near-dups are flagged, accepted docs extend the store."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from sparkstreaming_realtime_project_spark.operators import dedup as dd
from sparkstreaming_realtime_project_spark.sources.streams import file_stream
from sparkstreaming_realtime_project_spark.streaming.incremental import (
    dedup_batch_against_store,
    streaming_minhash_dedup,
)

from . import streaming_fixtures as fx

DOC_SCHEMA = "doc_id long, text string"

TEXT_A = " ".join(f"tok{i}" for i in range(40))
# one-token tail change: shingle jaccard 0.9487, collides in all 4 bands
TEXT_A_NEAR = " ".join(f"tok{i}" for i in range(39)) + " changed"
TEXT_B = " ".join(f"alpha{i}" for i in range(40))
TEXT_C = " ".join(f"beta{i}" for i in range(40))


def _doc(doc_id: int, text: str) -> str:
    return json.dumps({"doc_id": doc_id, "text": text})


def _run(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    fx._write_batches(
        in_dir,
        [
            [_doc(1, TEXT_A), _doc(2, TEXT_B)],
            # 3 near-dups batch-1's doc 1 (cross-batch, via the store);
            # 5 exactly dups 4 (in-batch, smaller id canonical)
            [_doc(3, TEXT_A_NEAR), _doc(4, TEXT_C), _doc(5, TEXT_C)],
        ],
    )
    stream = file_stream(
        spark, in_dir, DOC_SCHEMA, fmt="json", max_files_per_trigger=1
    )
    store = str(tmp_path / "store")
    decisions = str(tmp_path / "decisions")
    q = (
        streaming_minhash_dedup(
            stream, store, decisions, str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not finish in time"
    return store, decisions


def test_streaming_dedup_flags_cross_and_in_batch_dups(spark, tmp_path):
    store, decisions = _run(spark, tmp_path)
    got = {
        r["doc_id"]: (r["dup_of"], r["jaccard"])
        for r in spark.read.parquet(os.path.join(decisions, "batch=*")).collect()
    }
    assert got == {
        1: (None, None),
        2: (None, None),
        3: (1, 0.9487),  # cross-batch near-dup of accepted doc 1
        4: (None, None),
        5: (4, 1.0),  # in-batch exact dup; smaller id is canonical
    }
    # the store stays canonical: accepted docs only
    sig_ids = {
        r["id"]
        for r in spark.read.parquet(os.path.join(store, "sigs", "batch=*")).collect()
    }
    assert sig_ids == {1, 2, 4}
    band_rows = spark.read.parquet(os.path.join(store, "bands", "batch=*"))
    assert band_rows.filter(F.col("id").isin(3, 5)).count() == 0
    counts = band_rows.groupBy("id").count().select("count").distinct().collect()
    assert [r["count"] for r in counts] == [4]  # 4 band rows per accepted doc


def test_streaming_dedup_plan_is_bucket_equi_join(spark):
    """The per-batch decision plan: candidates come from (band, key)
    equi-joins — never a nested-loop/cartesian pair generator."""
    docs = spark.createDataFrame(
        [(1, TEXT_A), (2, TEXT_B)], DOC_SCHEMA
    )
    sh = dd.with_shingles(docs, "text", "doc_id", 3)
    sigs = sh.select("id", "shingles")
    bands = dd.band_keys(dd.minhash_signature(sh, 16), 16, 4)
    plan = (
        dedup_batch_against_store(sigs, bands, sigs, bands)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "band" in plan and "key" in plan

# ---------------------------------------------------------------------------
# Streaming HLL distinct: incremental mergeable-sketch maintenance
# ---------------------------------------------------------------------------

EVT_SCHEMA = "user_id long, dt string"


def _evt(uid: int, dt: str) -> str:
    return json.dumps({"user_id": uid, "dt": dt})


def test_streaming_hll_matches_batch_exactly(spark, tmp_path):
    """finalize(merge of per-batch registers) must equal hll_estimate
    over the union — exactly, not approximately (merge = cell-wise max
    is associative; identical float sequence at finalization)."""
    from sparkstreaming_realtime_project_spark.operators.sketches import hll_estimate
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        read_hll_estimate,
        streaming_hll_distinct,
    )

    in_dir = str(tmp_path / "in")
    batch1 = [_evt(u, "2024-01-01") for u in range(30)]
    batch2 = [_evt(u, "2024-01-01") for u in range(15, 45)] + [
        _evt(u, "2024-01-02") for u in range(7)
    ]
    fx._write_batches(in_dir, [batch1, batch2])
    stream = file_stream(
        spark, in_dir, EVT_SCHEMA, fmt="json", max_files_per_trigger=1
    )
    store = str(tmp_path / "hll")
    q = (
        streaming_hll_distinct(
            stream, store, str(tmp_path / "ck"), "user_id", ["dt"]
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = {
        r["dt"]: r["hll_estimate"]
        for r in read_hll_estimate(spark, store, ["dt"]).collect()
    }
    # batch twin over the union of all events, per dt
    rows = [(u, "2024-01-01") for u in range(45)] + [
        (u, "2024-01-02") for u in range(7)
    ]
    df = spark.createDataFrame(rows, ["user_id", "dt"])
    for dt in ("2024-01-01", "2024-01-02"):
        want = hll_estimate(df.filter(F.col("dt") == dt), "user_id").collect()[0][
            "hll_estimate"
        ]
        assert got[dt] == want
        true_n = 45 if dt == "2024-01-01" else 7
        assert abs(got[dt] - true_n) / true_n < 0.35  # m=64 error band


def test_streaming_hll_replay_idempotent(spark, tmp_path):
    """Re-running the whole input against a FRESH checkpoint (the
    worst-case replay) rewrites the same batch dirs with the same
    registers — the estimate is unchanged."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        read_hll_estimate,
        streaming_hll_distinct,
    )

    in_dir = str(tmp_path / "in")
    fx._write_batches(in_dir, [[_evt(u, "d1") for u in range(20)]])
    store = str(tmp_path / "hll")
    for ck in ("ck1", "ck2"):
        stream = file_stream(
            spark, in_dir, EVT_SCHEMA, fmt="json", max_files_per_trigger=1
        )
        q = (
            streaming_hll_distinct(
                stream, store, str(tmp_path / ck), "user_id", ["dt"]
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
    est = read_hll_estimate(spark, store, ["dt"]).collect()
    assert len(est) == 1 and est[0]["dt"] == "d1"


def test_streaming_ivf_ingest_matches_batch_ivf(spark, tmp_path):
    """Vectors ingested across two micro-batches, probed through the
    cell-partitioned store, must return EXACTLY what batch ivf_topk
    computes over the same vectors with the same centroid model — the
    store is an incremental materialization of the inverted lists, not
    an approximation of them. Replaying the ingest (same input, fresh
    checkpoint) must not change the store's answer (idempotent layout)."""
    from sparkstreaming_realtime_project_spark.operators import similarity as sim
    from sparkstreaming_realtime_project_spark.sources.streams import file_stream
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        query_ivf_store,
        streaming_ivf_ingest,
    )

    def vec(i):
        return [float((i * 7 + d * 3) % 11 - 5) for d in range(8)]

    rows = [(i, vec(i)) for i in range(40)]
    batch = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = sim.ivf_centroids(batch, n_centroids=3, iters=2)

    in_dir = str(tmp_path / "vin")
    fx._write_batches(
        in_dir,
        [
            [json.dumps({"vec_id": i, "embedding": vec(i)}) for i in range(20)],
            [json.dumps({"vec_id": i, "embedding": vec(i)}) for i in range(20, 40)],
        ],
    )
    stream = file_stream(
        spark, in_dir, "vec_id long, embedding array<double>",
        fmt="json", max_files_per_trigger=1,
    )
    store = str(tmp_path / "vstore")
    q = (
        streaming_ivf_ingest(stream, cents, store, str(tmp_path / "vck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "ingest did not finish in time"

    queries = batch.filter(F.col("vec_id") < 5)
    got = {
        tuple(r)
        for r in query_ivf_store(
            spark, store, queries, cents, k=3, n_probe=2
        ).collect()
    }
    ref = {
        tuple(r) for r in sim.ivf_topk(batch, queries, cents, k=3, n_probe=2).collect()
    }
    assert got == ref and got

    # replay with a fresh checkpoint: batch dirs rewritten, answer identical
    stream2 = file_stream(
        spark, in_dir, "vec_id long, embedding array<double>",
        fmt="json", max_files_per_trigger=1,
    )
    q2 = (
        streaming_ivf_ingest(stream2, cents, store, str(tmp_path / "vck2"))
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(180)
    again = {
        tuple(r)
        for r in query_ivf_store(
            spark, store, queries, cents, k=3, n_probe=2
        ).collect()
    }
    assert again == ref


def test_streaming_cms_matches_single_pass(spark, tmp_path):
    """CMS registers accumulated across two micro-batches, merged by
    cell-wise sum at read time, must estimate every key EXACTLY like a
    single batch sketch over the union (merge = sum is the associative
    property the store depends on)."""
    from sparkstreaming_realtime_project_spark.operators.sketches import (
        cms_estimate,
        cms_sketch,
    )
    from sparkstreaming_realtime_project_spark.sources.streams import file_stream
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        read_cms_estimate,
        streaming_cms_counts,
    )

    b1 = [json.dumps({"user_id": i % 7}) for i in range(50)]
    b2 = [json.dumps({"user_id": i % 5}) for i in range(30)]
    in_dir = str(tmp_path / "cin")
    fx._write_batches(in_dir, [b1, b2])
    stream = file_stream(
        spark, in_dir, "user_id long", fmt="json", max_files_per_trigger=1
    )
    store = str(tmp_path / "cstore")
    q = (
        streaming_cms_counts(stream, store, str(tmp_path / "cck"), "user_id")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    union = spark.createDataFrame(
        [(i % 7,) for i in range(50)] + [(i % 5,) for i in range(30)],
        "user_id long",
    )
    keys = spark.createDataFrame([(k,) for k in range(8)], "user_id long")
    got = {
        r["user_id"]: r["est"]
        for r in read_cms_estimate(spark, store, keys, "user_id").collect()
    }
    ref = {
        r["user_id"]: r["est"]
        for r in cms_estimate(keys, cms_sketch(union, "user_id"), "user_id").collect()
    }
    assert got == ref
    # unseen key estimates 0; sketch never underestimates a true count
    truth = {k: sum(1 for i in range(50) if i % 7 == k) + sum(1 for i in range(30) if i % 5 == k) for k in range(8)}
    assert got[7] == truth[7] == 0 or got[7] >= truth[7]
    assert all(got[k] >= truth[k] for k in range(8))


def _vevt(uid: int, dt: str, v: float) -> str:
    return json.dumps({"user_id": uid, "dt": dt, "value": v})


VEVT_SCHEMA = "user_id long, dt string, value double"


def test_streaming_agg_store_matches_batch_recompute(spark, tmp_path):
    """IVM-lite parity: merged per-batch partials must equal a full
    groupBy over ALL input ever seen — exactly (counts/mins/maxes are
    integers/raw values; sums merge in decimal, so no float
    order-dependence)."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        read_agg_totals,
        streaming_agg_store,
    )

    in_dir = str(tmp_path / "in")
    batch1 = [_vevt(u % 3, "2024-01-01", u * 1.25) for u in range(12)]
    batch2 = [_vevt(u % 3, "2024-01-01", -u * 0.5) for u in range(9)] + [
        _vevt(7, "2024-01-02", 42.0)
    ]
    fx._write_batches(in_dir, [batch1, batch2])
    stream = file_stream(
        spark, in_dir, VEVT_SCHEMA, fmt="json", max_files_per_trigger=1
    )
    store = str(tmp_path / "agg")
    q = (
        streaming_agg_store(
            stream, store, str(tmp_path / "ck"), ["user_id", "dt"], "value"
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = {
        (r["user_id"], r["dt"]): (r["cnt"], r["sm"], r["mn"], r["mx"], r["avg"])
        for r in read_agg_totals(spark, store, ["user_id", "dt"]).collect()
    }
    rows = [json.loads(s) for s in batch1 + batch2]
    df = spark.createDataFrame(
        [(r["user_id"], r["dt"], r["value"]) for r in rows],
        "user_id long, dt string, value double",
    )
    want = {
        (r["user_id"], r["dt"]): (r["cnt"], r["sm"], r["mn"], r["mx"], r["avg"])
        for r in df.groupBy("user_id", "dt")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sm"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .withColumn("avg", F.col("sm") / F.col("cnt"))
        .collect()
    }
    assert got == want


def test_streaming_agg_store_replay_idempotent(spark, tmp_path):
    """Killing the query and re-running availableNow over the same input
    must leave totals unchanged (batch dirs overwritten, not doubled)."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        read_agg_totals,
        streaming_agg_store,
    )

    in_dir = str(tmp_path / "in")
    fx._write_batches(
        in_dir, [[_vevt(1, "2024-01-01", 2.0), _vevt(1, "2024-01-01", 3.0)]]
    )
    stream = file_stream(
        spark, in_dir, VEVT_SCHEMA, fmt="json", max_files_per_trigger=1
    )
    store = str(tmp_path / "agg")

    def run():
        q = (
            streaming_agg_store(
                stream, store, str(tmp_path / "ck"), ["user_id"], "value"
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    run()
    first = read_agg_totals(spark, store, ["user_id"]).collect()
    run()  # same checkpoint, no new input: nothing re-emitted
    again = read_agg_totals(spark, store, ["user_id"]).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, again))
    assert first[0]["cnt"] == 2 and first[0]["sm"] == 5.0


def test_streaming_decontaminate_routes_and_agrees_with_batch(spark, tmp_path):
    """The per-batch bloom guard must (a) quarantine every doc the exact
    batch decontaminate flags (one-sided error at max_hits=0: no false
    negatives), (b) keep clean/quarantine disjoint and complete, and
    (c) overwrite idempotently when a batch actually RE-EXECUTES (the
    last checkpoint commit is deleted to force a genuine replay — a
    plain availableNow restart processes nothing and proves nothing)."""
    from sparkstreaming_realtime_project_spark.operators.corpus import decontaminate
    from sparkstreaming_realtime_project_spark.operators.dedup import word_shingles
    from sparkstreaming_realtime_project_spark.operators.joins import bloom_model
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        streaming_decontaminate,
    )

    bench_texts = [
        (100, " ".join(f"ev{i}" for i in range(20))),
        (101, "alpha beta gamma delta epsilon"),
    ]
    stream_docs = [
        (1, " ".join(f"tok{i}" for i in range(20))),        # clean
        (2, "alpha beta gamma something else entirely"),     # shares 1 gram
        (3, " ".join(f"ev{i}" for i in range(5, 15))),       # eval slice
        (4, "completely unrelated text body here"),          # clean
    ]
    bench = spark.createDataFrame(bench_texts, "doc_id long, text string")
    bench_grams = bench.select(
        F.explode(word_shingles("text", 3)).alias("g")
    ).distinct()
    model = bloom_model(bench_grams, "g", m_bits=1 << 13, k_hashes=5)

    in_dir = str(tmp_path / "in")
    fx._write_batches(
        in_dir,
        [
            [json.dumps({"doc_id": d, "text": t}) for d, t in stream_docs[:2]],
            [json.dumps({"doc_id": d, "text": t}) for d, t in stream_docs[2:]],
        ],
    )
    stream = file_stream(
        spark, in_dir, "doc_id long, text string", fmt="json",
        max_files_per_trigger=1,
    )
    out_root = str(tmp_path / "decon")
    ck = str(tmp_path / "ck")

    def run():
        q = (
            streaming_decontaminate(stream, out_root, ck, model, n=3)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    run()
    clean = {r["doc_id"] for r in
             spark.read.parquet(f"{out_root}/clean/batch=*").collect()}
    quar = {r["doc_id"] for r in
            spark.read.parquet(f"{out_root}/quarantine/batch=*").collect()}
    assert clean | quar == {1, 2, 3, 4} and not (clean & quar)
    # exact batch truth: every flagged doc must be quarantined (no false
    # negatives); quarantine may hold extra bloom false positives
    all_docs = spark.createDataFrame(stream_docs, "doc_id long, text string")
    truth = {
        r["doc_id"]
        for r in decontaminate(all_docs, bench, "text", "doc_id", 3)
        .filter(F.col("contaminated") == 1)
        .collect()
    }
    assert truth, "fixture should contain contaminated docs"
    assert truth <= quar
    # force a GENUINE replay of the last batch: drop its commit marker so
    # the restarted query re-executes it against the already-written dirs
    commits_dir = os.path.join(ck, "commits")
    newest = sorted(f for f in os.listdir(commits_dir) if f.isdigit())[-1]
    os.remove(os.path.join(commits_dir, newest))
    crc = os.path.join(commits_dir, f".{newest}.crc")
    if os.path.exists(crc):  # stale checksum breaks the re-commit rename
        os.remove(crc)
    run()
    again_clean = {r["doc_id"] for r in
                   spark.read.parquet(f"{out_root}/clean/batch=*").collect()}
    again_quar = {r["doc_id"] for r in
                  spark.read.parquet(f"{out_root}/quarantine/batch=*").collect()}
    assert again_clean == clean and again_quar == quar


# --- streaming drift guard -------------------------------------------------


def test_streaming_drift_guard_flags_shifted_batch(spark, tmp_path):
    """Batch 0 replays the reference's language mix (low PSI, no breach);
    batch 1 is all-one-language (high PSI, breach=1). And the batch-twin
    contract: each batch's psi equals validate.drift_report over
    reference UNION batch exactly — same binning, same decimal fold."""
    from sparkstreaming_realtime_project_spark.operators.validate import (
        drift_report,
    )
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        streaming_drift_guard,
    )

    def doc(i, lang, n_chars):
        return json.dumps({"doc_id": i, "lang": lang, "n_chars": n_chars})

    schema = "doc_id long, lang string, n_chars int"
    # reference: 40 docs, half en half de, lengths 100/300 alternating
    ref_rows = [
        (i, "en" if i % 2 else "de", 100 if i % 4 < 2 else 300)
        for i in range(40)
    ]
    batch0 = [doc(100 + i, "en" if i % 2 else "de", 100 if i % 4 < 2 else 300)
              for i in range(20)]
    batch1 = [doc(200 + i, "fr", 900) for i in range(20)]  # fully shifted
    # null feature values on BOTH sides: groupBy groups nulls but a join
    # key does not — the sentinel bin in bin_entries keeps the guard's
    # ref/cur join from splitting one null bin into two eps-scored rows
    # (r6 review finding); the twin equality below proves the fix
    ref_rows += [(90 + i, None, None) for i in range(4)]
    batch0 += [doc(190 + i, None, None) for i in range(2)]
    reference = spark.createDataFrame(ref_rows, schema)
    in_dir = str(tmp_path / "in")
    fx._write_batches(in_dir, [batch0, batch1])

    feats = dict(
        numeric={"len": (F.col("n_chars"), 200.0)},
        categorical={"lang": F.col("lang")},
    )
    out, ckpt = str(tmp_path / "report"), str(tmp_path / "ckpt")
    q = (
        streaming_drift_guard(
            file_stream(spark, in_dir, schema, fmt="json", max_files_per_trigger=1),
            out, ckpt, reference, **feats,
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    rep = {
        (r["batch_id"], r["feature"]): r
        for r in spark.read.parquet(os.path.join(out, "batch=*")).collect()
    }
    assert set(rep) == {(0, "len"), (0, "lang"), (1, "len"), (1, "lang")}
    for f in ("len", "lang"):
        assert rep[(0, f)]["breach"] == 0  # same mix as reference
        assert rep[(1, f)]["breach"] == 1  # disjoint values
        assert rep[(1, f)]["psi"] > rep[(0, f)]["psi"]
        assert rep[(0, f)]["n_ref"] == 44 and rep[(0, f)]["n_cur"] == 22

    # batch-twin: the guard's per-batch psi == drift_report(ref UNION batch)
    for bid, rows in ((0, batch0), (1, batch1)):
        batch_df = spark.createDataFrame(
            [tuple(json.loads(r).values()) for r in rows], schema
        ).withColumn("__cur", F.lit(True))
        union = reference.withColumn("__cur", F.lit(False)).unionByName(batch_df)
        twin = {
            r["feature"]: r["psi"]
            for r in drift_report(union, current=F.col("__cur"), **feats).collect()
        }
        for f in ("len", "lang"):
            assert twin[f] == rep[(bid, f)]["psi"], (bid, f)


# --- streaming moment store (incremental PCA) ------------------------------


def test_streaming_moment_store_batch_twin(spark, tmp_path):
    """The store accumulated over micro-batches must yield the same PCA
    model as one batch pass over the full table (moments are the
    sufficient statistic — float partial order differs at ulp scale, so
    components compare at 1e-5): the streaming counterpart of pca_model.
    Replaying with the same checkpoint adds nothing (idempotent)."""
    import numpy as np

    from sparkstreaming_realtime_project_spark.operators import similarity as sim
    from sparkstreaming_realtime_project_spark.sources.batch import load_table
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        moments_from_store,
        streaming_moment_store,
    )

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    rows = emb.collect()
    half = len(rows) // 2
    in_dir = str(tmp_path / "in")
    fx._write_batches(
        in_dir,
        [
            [json.dumps({"vec_id": r["vec_id"], "embedding": list(r["embedding"])})
             for r in rows[:half]],
            [json.dumps({"vec_id": r["vec_id"], "embedding": list(r["embedding"])})
             for r in rows[half:]],
        ],
    )
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")

    def run():
        q = (
            streaming_moment_store(
                file_stream(
                    spark, in_dir, "vec_id long, embedding array<double>",
                    fmt="json", max_files_per_trigger=1,
                ),
                store, ckpt,
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    run()
    n, s, ss = moments_from_store(spark, store)
    assert n == len(rows)
    streamed = sim.pca_from_moments(n, s, ss, k=3)
    batch = sim.pca_model(emb, k=3)
    assert np.allclose(streamed["mean"], batch["mean"], atol=1e-5)
    assert np.allclose(streamed["explained"], batch["explained"], atol=1e-5)
    for a, b in zip(streamed["components"], batch["components"]):
        assert np.allclose(a, b, atol=1e-4)
    run()  # replay with the same checkpoint: nothing new lands
    n2, s2, ss2 = moments_from_store(spark, store)
    assert n2 == n and np.allclose(s2, s) and np.allclose(ss2, ss)


def test_moment_store_compaction(spark, tmp_path):
    """`compact_moment_store` collapses all batch dirs into one committed
    generation whose summed moments equal the pre-compaction state
    (moment addition is associative — compaction IS a moment add), and
    a compacted store keeps serving `moments_from_store` unchanged."""
    import numpy as np

    from sparkstreaming_realtime_project_spark.operators.similarity import (
        MOMENT_SCHEMA,
    )
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        compact_moment_store,
        moments_from_store,
    )

    store = str(tmp_path / "store")
    rng = np.random.default_rng(7)
    for bid in range(5):
        x = rng.normal(size=(20, 4))
        spark.createDataFrame(
            [(len(x), x.sum(axis=0).tolist(), (x.T @ x).reshape(-1).tolist())],
            MOMENT_SCHEMA,
        ).write.mode("overwrite").parquet(store + f"/batch={bid}")
    before = moments_from_store(spark, store)
    kept = compact_moment_store(spark, store)
    _assert_manifest_layout(store, through=4, gen_dir=kept)
    after = moments_from_store(spark, store)
    assert after[0] == before[0] == 100
    assert np.allclose(after[1], before[1])
    assert np.allclose(after[2], before[2])
    # idempotent on a compacted store
    assert compact_moment_store(spark, store) == kept
    _assert_manifest_layout(store, through=4, gen_dir=kept)


def _assert_manifest_layout(store, through, gen_dir=None):
    """A compacted batch store: a ``_MANIFEST`` through ``through``, no
    batch dir at or below it, and exactly one live ``gen=`` dir (the
    returned one, when given)."""
    import json

    with open(os.path.join(store, "_MANIFEST")) as fh:
        man = json.load(fh)
    assert man["through_batch"] == through
    names = os.listdir(store)
    assert not [
        n for n in names
        if n.startswith("batch=") and int(n[6:]) <= through
    ], names
    assert [n for n in names if n.startswith("gen=")] == [f"gen={man['gen']}"]
    if gen_dir is not None:
        assert gen_dir == os.path.join(store, f"gen={man['gen']}")


def test_streaming_mg_topk_certificate_and_large_m_exactness(spark, tmp_path):
    """The merged MG store must (a) bracket every emitted key against
    the exact union counts (est <= true <= upper_bound), (b) put the
    stream's dominant key at rank 1, and (c) with m large enough to
    keep every batch's full count table, reproduce the exact counts
    with zero error (merge = counter addition, the associative core
    the store depends on)."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        read_mg_topk,
        streaming_mg_topk,
    )

    b1 = [json.dumps({"term": t}) for t in
          ["a"] * 40 + ["b"] * 12 + ["c"] * 5 + ["d", "e", "f", "g"]]
    b2 = [json.dumps({"term": t}) for t in
          ["a"] * 25 + ["c"] * 9 + ["b"] * 2 + ["h", "e", "e"]]
    in_dir = str(tmp_path / "min")
    fx._write_batches(in_dir, [b1, b2])
    true = {}
    for b in (b1, b2):
        for row in b:
            t = json.loads(row)["term"]
            true[t] = true.get(t, 0) + 1

    def run(m, store, ck):
        stream = file_stream(
            spark, in_dir, "term string", fmt="json", max_files_per_trigger=1
        )
        q = (
            streaming_mg_topk(stream, store, ck, "term", m=m)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        return read_mg_topk(spark, store, k=10, m=m)

    tight = run(3, str(tmp_path / "mg3"), str(tmp_path / "mgck3")).collect()
    assert tight, "tight summary emitted nothing"
    for r in tight:
        assert r["est"] <= true[r["key"]] <= r["upper_bound"], (
            r["key"], r["est"], true[r["key"]], r["upper_bound"],
        )
    assert next(r for r in tight if r["rank"] == 1)["key"] == "a"

    wide = {
        r["key"]: (r["est"], r["upper_bound"])
        for r in run(50, str(tmp_path / "mg50"), str(tmp_path / "mgck50"))
        .collect()
    }
    for t, c in sorted(true.items(), key=lambda kv: (-kv[1], kv[0]))[:10]:
        assert wide[t] == (c, c), (t, wide[t], c)


def test_minhash_xxhash64_fast_path_same_verified_pairs(spark):
    """Round-9: the production hash_fn="xxhash64" path must find the
    same VERIFIED pairs as the md5 oracle path on planted near-dups —
    the exact-Jaccard verify fixes precision under any hash family, and
    identical docs collide under any hash."""
    from sparkstreaming_realtime_project_spark.operators.dedup import (
        minhash_dedup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base) for i in range(4)] + [
        (10 + i, f"totally unrelated text number {i} with its own words {i}")
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for hf in ("md5", "xxhash64"):
        p = minhash_dedup_pairs(
            df, "text", "doc_id", n=3, k=16, bands=4, threshold=0.8,
            hash_fn=hf,
        )
        got[hf] = {(r["doc_a"], r["doc_b"]) for r in p.collect()}
        p.unpersist()
    want = {(a, b) for a in range(4) for b in range(4) if a < b}
    assert got["md5"] == want
    assert got["xxhash64"] == want


def test_streaming_hll_crash_restart_from_checkpoint(spark, tmp_path):
    """Round-9: kill/restart-from-checkpoint exactly-once check. A crash
    BETWEEN the store write and the checkpoint commit is the worst case:
    the batch dir exists but the engine doesn't know — on restart it
    re-runs the same input as the SAME batch id, the idempotent
    overwrite rewrites identical registers, and the merged estimate is
    unchanged. Simulated by hand-writing the uncommitted batch dir with
    the exact writer the sink runs, then restarting against the same
    checkpoint with the batch's input now visible."""
    from sparkstreaming_realtime_project_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        read_hll_estimate,
        streaming_hll_distinct,
    )

    in_dir = str(tmp_path / "in")
    store = str(tmp_path / "hll")
    ck = str(tmp_path / "ck")
    batch_a = [_evt(u, "d1") for u in range(30)]
    batch_b = [_evt(u, "d1") for u in range(15, 45)]

    # run 1: only batch A visible; commits batch_id=0
    fx._write_batches(in_dir, [batch_a])
    stream = file_stream(
        spark, in_dir, EVT_SCHEMA, fmt="json", max_files_per_trigger=1
    )
    q = (
        streaming_hll_distinct(stream, store, ck, "user_id", ["dt"])
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    # "crash": batch B's store dir was written (same writer code) but
    # the checkpoint never committed it
    rows_b = [(u, "d1") for u in range(15, 45)]
    phantom = hll_registers(
        spark.createDataFrame(rows_b, ["user_id", "dt"]), "user_id", ["dt"]
    )
    import os

    phantom.write.mode("overwrite").parquet(os.path.join(store, "batch=1"))
    est_before = read_hll_estimate(spark, store, ["dt"]).collect()[0][
        "hll_estimate"
    ]

    # restart from the SAME checkpoint with batch B's input now visible:
    # the engine re-runs it as batch_id=1 and overwrites the phantom dir
    fx._write_batches(in_dir, [batch_a, batch_b])
    stream2 = file_stream(
        spark, in_dir, EVT_SCHEMA, fmt="json", max_files_per_trigger=1
    )
    q2 = (
        streaming_hll_distinct(stream2, store, ck, "user_id", ["dt"])
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(180)

    est_after = read_hll_estimate(spark, store, ["dt"]).collect()[0][
        "hll_estimate"
    ]
    assert est_after == est_before  # the replayed overwrite changed nothing
    # and the recovered estimate equals the one-shot batch twin exactly
    union = spark.createDataFrame(
        [(u, "d1") for u in range(45)], ["user_id", "dt"]
    )
    want = hll_estimate(union, "user_id").collect()[0]["hll_estimate"]
    assert est_after == want


def test_streaming_cms_crash_restart_no_double_count(spark, tmp_path):
    """Round-9: the CMS restart case is SHARPER than HLL's — the merge
    is cell-wise SUM, so a replay that APPENDED instead of OVERWROTE
    would silently double-count (HLL's max would mask the bug). Crash
    between the store write and the checkpoint commit: the batch dir
    exists with full counts, the engine re-runs the same input as the
    same batch id, and the overwrite must leave every estimate exactly
    at the single-pass value."""
    from sparkstreaming_realtime_project_spark.operators.sketches import (
        cms_estimate,
        cms_sketch,
    )
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        read_cms_estimate,
        streaming_cms_counts,
    )

    in_dir = str(tmp_path / "cin")
    store = str(tmp_path / "cstore")
    ck = str(tmp_path / "cck")
    b1 = [json.dumps({"user_id": i % 7}) for i in range(50)]
    b2 = [json.dumps({"user_id": i % 5}) for i in range(30)]

    # run 1: only batch 1 visible; commits batch_id=0
    fx._write_batches(in_dir, [b1])
    stream = file_stream(
        spark, in_dir, "user_id long", fmt="json", max_files_per_trigger=1
    )
    q = (
        streaming_cms_counts(stream, store, ck, "user_id")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    # "crash": batch 2's sketch written (same writer code) but never
    # committed to the checkpoint
    import os

    phantom_src = spark.createDataFrame(
        [(i % 5,) for i in range(30)], "user_id long"
    )
    cms_sketch(phantom_src, "user_id").write.mode("overwrite").parquet(
        os.path.join(store, "batch=1")
    )

    # restart from the SAME checkpoint with batch 2's input visible:
    # re-run as batch_id=1, overwrite (NOT append) the phantom dir
    fx._write_batches(in_dir, [b1, b2])
    stream2 = file_stream(
        spark, in_dir, "user_id long", fmt="json", max_files_per_trigger=1
    )
    q2 = (
        streaming_cms_counts(stream2, store, ck, "user_id")
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(180)

    union = spark.createDataFrame(
        [(i % 7,) for i in range(50)] + [(i % 5,) for i in range(30)],
        "user_id long",
    )
    keys = spark.createDataFrame([(k,) for k in range(8)], "user_id long")
    got = {
        r["user_id"]: r["est"]
        for r in read_cms_estimate(spark, store, keys, "user_id").collect()
    }
    ref = {
        r["user_id"]: r["est"]
        for r in cms_estimate(
            keys, cms_sketch(union, "user_id"), "user_id"
        ).collect()
    }
    assert got == ref  # any double-count would overshoot the sum-merge


def test_minhash_stream_decisions_consistent(spark):
    """Structural invariants of the sequential-ingest exposure: every
    doc decided exactly once; a flagged doc's canonical is either an
    ACCEPTED doc from an earlier batch or a smaller-id batch sibling;
    no accepted doc names a canonical."""
    from sparkstreaming_realtime_project_spark.plans.catalog import (
        _REGISTRY,
    )

    spec = next(s for s in _REGISTRY if s.name == "x_minhash_stream")
    rows = spec.spark(spark, "/root/testdata/sf0.001").collect()
    by_doc = {}
    batch_of = {}
    for r in rows:
        assert r["doc_id"] not in by_doc, "doc decided twice"
        by_doc[r["doc_id"]] = r
        batch_of[r["doc_id"]] = r["batch_id"]
        assert r["batch_id"] == r["doc_id"] % 3  # shard assignment
    accepted = {d for d, r in by_doc.items() if r["dup_of"] is None}
    for d, r in by_doc.items():
        if r["dup_of"] is None:
            continue
        canon = r["dup_of"]
        assert canon in by_doc, "canonical is a known doc"
        if batch_of[canon] == r["batch_id"]:
            assert canon < d, "in-batch canonical must be the smaller id"
        else:
            assert batch_of[canon] < r["batch_id"], (
                "cross-batch canonical must come from an EARLIER batch"
            )
            assert canon in accepted, (
                "cross-batch canonical must be an accepted (store) doc"
            )
        assert r["jaccard"] is not None and r["jaccard"] >= 0.8


def test_streaming_ivf_crash_restart_partitioned_layout(spark, tmp_path):
    """Round-9: the IVF store's layout is batch=N/cell=C partitioned
    dirs — the third restart pattern after HLL (max-merge) and CMS
    (sum-merge). Crash between the partitioned store write and the
    checkpoint commit: on restart the engine re-runs the same input as
    the same batch id and the partitionBy overwrite of batch=N must
    leave probe answers exactly at the batch-twin values (no duplicate
    postings, no lost cells)."""
    from sparkstreaming_realtime_project_spark.operators import similarity as sim
    from sparkstreaming_realtime_project_spark.sources.streams import file_stream
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        query_ivf_store,
        streaming_ivf_ingest,
    )

    def vec(i):
        return [float((i * 7 + d * 3) % 11 - 5) for d in range(8)]

    rows = [(i, vec(i)) for i in range(40)]
    allv = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = sim.ivf_centroids(allv, n_centroids=3, iters=2)
    in_dir = str(tmp_path / "vin")
    store = str(tmp_path / "vstore")
    ck = str(tmp_path / "vck")

    # run 1: only batch A committed
    fx._write_batches(
        in_dir,
        [[json.dumps({"vec_id": i, "embedding": vec(i)}) for i in range(20)]],
    )
    stream = file_stream(
        spark, in_dir, "vec_id long, embedding array<double>",
        fmt="json", max_files_per_trigger=1,
    )
    q = (
        streaming_ivf_ingest(stream, cents, store, ck)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    # "crash": batch B's partitioned dir landed but was never committed —
    # write it CORRUPTED (only half the vectors) to prove the replay
    # truly overwrites rather than merges
    import os

    half = allv.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 30))
    from sparkstreaming_realtime_project_spark.operators.similarity import (
        _attach,
        _cell_expr,
        _cents_col,
        as_double_vec,
    )

    assigned = _attach(
        half.select(
            F.col("vec_id").alias("id"),
            as_double_vec("embedding").alias("v"),
        ),
        _cents_col(spark, cents),
    ).select("id", "v", _cell_expr(F.col("v")).alias("cell"))
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(store, "batch=1")
    )

    # restart from the SAME checkpoint with batch B visible
    fx._write_batches(
        in_dir,
        [
            [json.dumps({"vec_id": i, "embedding": vec(i)}) for i in range(20)],
            [json.dumps({"vec_id": i, "embedding": vec(i)}) for i in range(20, 40)],
        ],
    )
    stream2 = file_stream(
        spark, in_dir, "vec_id long, embedding array<double>",
        fmt="json", max_files_per_trigger=1,
    )
    q2 = (
        streaming_ivf_ingest(stream2, cents, store, ck)
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(180)

    queries = allv.filter(F.col("vec_id") < 5)
    got = {
        tuple(r)
        for r in query_ivf_store(
            spark, store, queries, cents, k=3, n_probe=2
        ).collect()
    }
    ref = {
        tuple(r)
        for r in sim.ivf_topk(allv, queries, cents, k=3, n_probe=2).collect()
    }
    assert got == ref and got


# ---------------------------------------------------------------------------
# Streaming suffix-span dedup: incremental new-docs-vs-corpus exact
# substring detection (the Lee-et-al.-grade span family's streaming twin)
# ---------------------------------------------------------------------------


def test_streaming_suffix_known_geometry(spark, tmp_path):
    """Known-geometry two-batch ingest: a 20-token block copied from an
    accepted batch-1 doc must come back as ONE maximal cross-batch span
    with exact positions (doc_a = the incumbent), and an 18-token block
    shared by two batch-2 siblings as ONE in-batch span (smaller id =
    doc_a); the anchor + gramdf store accumulates every ingested doc."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        streaming_suffix_dedup,
    )

    block_a = [f"a{i}" for i in range(30)]
    doc1 = " ".join(block_a)
    doc2 = " ".join(f"b{i}" for i in range(30))
    # doc3 embeds doc1's tokens a5..a24 (20 tokens) at position 4
    doc3 = " ".join(["c0", "c1", "c2"] + block_a[5:25] + ["c3", "c4"])
    shared_e = [f"e{i}" for i in range(18)]
    doc4 = " ".join([f"d{i}" for i in range(10)] + shared_e)
    doc5 = " ".join(["f0", "f1", "f2"] + shared_e + ["f3"])

    in_dir = str(tmp_path / "in")
    fx._write_batches(
        in_dir,
        [
            [_doc(1, doc1), _doc(2, doc2)],
            [_doc(3, doc3), _doc(4, doc4), _doc(5, doc5)],
        ],
    )
    stream = file_stream(
        spark, in_dir, DOC_SCHEMA, fmt="json", max_files_per_trigger=1
    )
    store = str(tmp_path / "store")
    decisions = str(tmp_path / "decisions")
    q = (
        streaming_suffix_dedup(
            stream, store, decisions, str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not finish in time"
    spans = {
        (r.doc_a, r.doc_b): (
            r.a_start, r.a_end, r.b_start, r.b_end, r.span_len
        )
        for r in spark.read.parquet(
            os.path.join(decisions, "batch=*")
        ).collect()
    }
    assert spans == {
        (1, 3): (6, 25, 4, 23, 20),   # cross-batch, incumbent is doc_a
        (4, 5): (11, 28, 4, 21, 18),  # in-batch, smaller id is doc_a
    }
    anchors = spark.read.parquet(os.path.join(store, "anchors", "batch=*"))
    assert {r.doc_id for r in anchors.select("doc_id").distinct().collect()} \
        == {1, 2, 3, 4, 5}  # span dedup accepts every doc into the corpus
    gramdf = spark.read.parquet(os.path.join(store, "gramdf", "batch=*"))
    # the sketch store's summed df equals the anchor table's df, per gram
    lhs = {(r.g, r.n) for r in gramdf.groupBy("g")
           .agg(F.sum("n").alias("n")).collect()}
    rhs = {(r.g, r.n) for r in anchors.groupBy("g")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert lhs == rhs


def test_streaming_suffix_matches_batch_when_cap_slack(spark, tmp_path):
    """Order-equivalence: when no gram approaches the df-cap and batch
    order follows doc id, the UNION of per-batch streaming spans must
    equal the batch operator's suffix_span_pairs on the full corpus —
    the incremental path finds exactly the same maximal spans."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        streaming_suffix_dedup,
    )

    texts = {}
    rows = []
    for d in range(1, 10):
        base = [f"w{d}_{i}" for i in range(25)]
        if d in (4, 7):  # share a 17-token block with doc 1
            base[3:20] = [f"s{i}" for i in range(17)]
        if d == 1:
            base[2:19] = [f"s{i}" for i in range(17)]
        texts[d] = " ".join(base)
        rows.append((d, texts[d]))
    in_dir = str(tmp_path / "in")
    fx._write_batches(
        in_dir,
        [
            [_doc(d, texts[d]) for d in (1, 2, 3)],
            [_doc(d, texts[d]) for d in (4, 5, 6)],
            [_doc(d, texts[d]) for d in (7, 8, 9)],
        ],
    )
    stream = file_stream(
        spark, in_dir, DOC_SCHEMA, fmt="json", max_files_per_trigger=1
    )
    decisions = str(tmp_path / "decisions")
    q = (
        streaming_suffix_dedup(
            stream, str(tmp_path / "store"), decisions, str(tmp_path / "ck")
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not finish in time"
    got = {
        tuple(r) for r in spark.read.parquet(
            os.path.join(decisions, "batch=*")
        ).select(
            "doc_a", "doc_b", "a_start", "a_end", "b_start", "b_end",
            "span_len",
        ).collect()
    }
    batch = dd.suffix_span_pairs(
        spark.createDataFrame(rows, DOC_SCHEMA), "text", "doc_id"
    )
    want = {
        tuple(r) for r in batch.select(
            "doc_a", "doc_b", "a_start", "a_end", "b_start", "b_end",
            "span_len",
        ).collect()
    }
    assert got == want and len(want) == 3  # (1,4), (1,7), (4,7)


def test_streaming_suffix_plan_is_gram_equi_join(spark):
    """The per-batch span plan: every candidate comes from an anchor
    gram-hash collision (equi-join) — never a nested-loop/cartesian —
    and the store-side df aggregate reads the gramdf SKETCH rows, not
    the anchor table."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        suffix_batch_against_store,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(30)))], DOC_SCHEMA
    )
    anchors = dd.suffix_anchors(docs, "text", "doc_id", 8)
    gramdf = anchors.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    plan = (
        suffix_batch_against_store(anchors, anchors, gramdf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def _plan_node_names(plan) -> list[str]:
    """Node names of a logical plan tree, NOT descending into a cached
    relation's own plan (InMemoryRelation is a leaf there)."""
    names = [plan.nodeName()]
    kids = plan.children()
    for i in range(kids.size()):
        names += _plan_node_names(kids.apply(i))
    return names


def test_suffix_spans_aggregate_only_in_the_capped_frame(spark, tmp_path):
    """On a one-slice store, the per-batch spans plan reads the capped
    batch anchors from the one cached frame in BOTH branches (store
    slice and sibling self-join); the only aggregate outside it is the
    run merge. The uncached composition re-plans the cap's aggregates
    in every branch."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        capped_batch_anchors,
        capped_batch_spans,
        read_anchor_store_slices,
        suffix_batch_against_store,
    )

    block = [f"a{i}" for i in range(30)]
    _suffix_batch_body(
        spark, str(tmp_path / "store"), str(tmp_path / "dec"),
        spark.createDataFrame([(1, " ".join(block))], DOC_SCHEMA), 0,
    )
    batch = spark.createDataFrame(
        [(2, " ".join(["c0"] + block[5:25])), (3, " ".join(block[2:22]))],
        DOC_SCHEMA,
    )
    anchors = dd.suffix_anchors(batch, "text", "doc_id", 8)
    gramdf = anchors.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    slices, store_gramdf = read_anchor_store_slices(
        spark, str(tmp_path / "store"), anchors, gramdf
    )
    assert len(slices) == 1
    want = suffix_batch_against_store(anchors, slices, store_gramdf)
    uncached = _plan_node_names(want._jdf.queryExecution().optimizedPlan())
    assert uncached.count("Aggregate") > 1
    want = {tuple(r) for r in want.collect()}
    capped = capped_batch_anchors(anchors, store_gramdf).persist()
    try:
        spans = capped_batch_spans(capped, slices)
        names = _plan_node_names(spans._jdf.queryExecution().optimizedPlan())
        # the slice join's batch side + both sides of the self-join
        assert names.count("InMemoryRelation") == 3
        assert names.count("Aggregate") == 1  # the run merge only
        assert {tuple(r) for r in spans.collect()} == want and want
    finally:
        capped.unpersist()


def test_suffix_ingest_fresh_store_runs_no_python_rdd(spark, tmp_path):
    """Batch 0 on a fresh store: the empty store reads fold to empty
    local relations, so none of the body's executed plans scans a
    Python-backed RDD (the old empty-frame read launched PythonRDD
    stages to read nothing)."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        suffix_ingest_batch,
    )

    block = " ".join(f"a{i}" for i in range(30))
    spark.createDataFrame(
        [(1, block), (2, "c0 " + block)], DOC_SCHEMA
    ).write.parquet(str(tmp_path / "in"))
    batch = spark.read.parquet(str(tmp_path / "in"))
    status = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def latest(n):  # the n newest SQL executions, oldest first
        bus.waitUntilEmpty()
        lst = status.executionsList(max(0, status.executionsCount() - n), n)
        return [lst.apply(i) for i in range(lst.size())]

    last = latest(1)[0].executionId()
    suffix_ingest_batch(
        batch, 0, str(tmp_path / "store"), str(tmp_path / "dec"),
        str(tmp_path / "clean"),
    )
    plans = [
        e.physicalPlanDescription() for e in latest(16)
        if e.executionId() > last
    ]
    assert len(plans) == 4  # decisions, clean, anchors, gramdf writes
    for plan in plans:
        assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan
    dec = spark.read.parquet(str(tmp_path / "dec" / "batch=0")).collect()
    assert [(r.doc_a, r.doc_b, r.span_len) for r in dec] == [(1, 2, 30)]


def test_empty_store_reads_fold_to_empty_local_relation(spark, tmp_path):
    """Every empty store read (suffix anchor/gramdf, MinHash sigs/bands,
    SCD2 history) optimizes to an empty LocalRelation: joins against it
    are pruned at plan time, and no job runs to read it."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        read_anchor_store,
        read_anchor_store_slices,
        read_signature_store,
        read_signature_store_slices,
    )
    from sparkstreaming_realtime_project_spark.streaming.scd2 import read_scd2

    store = str(tmp_path / "store")
    docs = spark.createDataFrame([(1, TEXT_A)], DOC_SCHEMA)
    anchors = dd.suffix_anchors(docs, "text", "doc_id", 8)
    gramdf = anchors.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    shingled = dd.with_shingles(docs, "text", "doc_id", 3)
    sigs = shingled.select("id", "shingles")
    bands = dd.band_keys(dd.minhash_signature(shingled, 16), 16, 4)
    anchor_slices, slice_gramdf = read_anchor_store_slices(
        spark, store, anchors, gramdf
    )
    slice_sigs, band_slices = read_signature_store_slices(
        spark, store, sigs, bands
    )
    assert anchor_slices == [] and band_slices == []
    frames = [
        *read_anchor_store(spark, store, anchors, gramdf), slice_gramdf,
        *read_signature_store(spark, store, sigs, bands), slice_sigs,
        read_scd2(spark, str(tmp_path / "scd2"), key_type="bigint"),
    ]
    for f in frames:
        plan = f._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation <empty>"), plan
    assert frames[-1].schema.simpleString() == (
        "struct<key:bigint,value:string,valid_from_us:bigint,"
        "valid_to_us:bigint,ord:bigint,is_current:int>"
    )


def test_suffix_stream_catalog_consistent(spark):
    """Structural invariants of the driver-exposed 3-batch replay on
    real testdata: doc_b always belongs to the row's batch; doc_a is
    an earlier-batch incumbent or a smaller-id sibling; spans respect
    min_len and carry consistent geometry (equal lengths on both
    sides, 1-based positive positions)."""
    from sparkstreaming_realtime_project_spark.plans.catalog import _REGISTRY

    spec = next(s for s in _REGISTRY if s.name == "x_suffix_stream")
    rows = spec.spark(spark, "/root/testdata/sf0.001").collect()
    assert rows, "sf0.001 documents contain known duplicated spans"
    for r in rows:
        assert r.doc_b % 3 == r.batch_id
        if r.doc_a % 3 == r.batch_id:
            assert r.doc_a < r.doc_b, "in-batch incumbent is the smaller id"
        else:
            assert r.doc_a % 3 < r.batch_id, (
                "cross-batch incumbent must be from an earlier batch"
            )
        assert r.span_len >= 16
        assert r.a_end - r.a_start == r.b_end - r.b_start == r.span_len - 1
        assert r.a_start >= 1 and r.b_start >= 1


def test_streaming_suffix_prefix_df_cap_semantics(spark, tmp_path):
    """The df-cap is PREFIX-df: a gram under the cap when a batch
    arrives reports its spans THEN; once accumulated store+batch df
    exceeds the cap, later batches stop matching on it — but earlier
    batches' decisions stand (sequential ingest cannot know a gram's
    future df). 5 identical 20-token docs, max_df=4 (= 4 anchor
    occurrences of each interior gram): batch 1 (doc 2 vs doc 1, df=2)
    and batch 2 (doc 3 vs docs 1-2, df=3) report spans; batch 3's
    arrival pushes df to 4 (still <= 4, spans vs 3 incumbents); batch
    4's arrival pushes df to 5 > 4 — no spans, though the text is a
    verbatim copy."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        streaming_suffix_dedup,
    )

    text = " ".join(f"x{i}" for i in range(20))
    in_dir = str(tmp_path / "in")
    fx._write_batches(
        in_dir, [[_doc(d, text)] for d in range(1, 6)]
    )
    stream = file_stream(
        spark, in_dir, DOC_SCHEMA, fmt="json", max_files_per_trigger=1
    )
    decisions = str(tmp_path / "decisions")
    q = (
        streaming_suffix_dedup(
            stream, str(tmp_path / "store"), decisions,
            str(tmp_path / "ck"), max_df=4,
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not finish in time"
    got = spark.read.option("basePath", decisions).parquet(
        os.path.join(decisions, "batch=*")
    )
    pairs = {(r.doc_a, r.doc_b) for r in got.collect()}
    # docs 2..4 each matched every earlier copy; doc 5 matched nothing
    assert pairs == {(1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (3, 4)}
    assert all(r.span_len == 20 for r in got.collect())


def test_streaming_suffix_batch_split_invariant(spark, tmp_path):
    """Split-invariance when the cap has slack and batch order follows
    doc id: ingesting the same corpus as 2 batches or as 5 batches
    yields the IDENTICAL span set (pair orientation included) — the
    incremental decomposition, not the batch boundaries, determines
    the result."""
    import os as _os

    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        read_anchor_store,
        suffix_batch_against_store,
    )

    rows = []
    for d in range(1, 11):
        base = [f"v{d}_{i}" for i in range(24)]
        if d in (2, 6, 9):
            base[4:22] = [f"sh{i}" for i in range(18)]
        rows.append((d, " ".join(base)))
    df = spark.createDataFrame(rows, DOC_SCHEMA)

    def ingest(splits, tag):
        store = str(tmp_path / f"store_{tag}")
        spans = set()
        for b, ids in enumerate(splits):
            batch = df.filter(F.col("doc_id").isin(ids))
            new_anchors = dd.suffix_anchors(
                batch, "text", "doc_id", 8
            ).persist()
            new_gramdf = new_anchors.groupBy("g").agg(
                F.count(F.lit(1)).alias("n")
            )
            sa, sg = read_anchor_store(spark, store, new_anchors, new_gramdf)
            out = suffix_batch_against_store(new_anchors, sa, sg)
            spans |= {tuple(r) for r in out.collect()}
            new_anchors.write.mode("overwrite").parquet(
                _os.path.join(store, "anchors", f"batch={b}")
            )
            new_gramdf.write.mode("overwrite").parquet(
                _os.path.join(store, "gramdf", f"batch={b}")
            )
            new_anchors.unpersist()
        return spans

    two = ingest([[1, 2, 3, 4, 5], [6, 7, 8, 9, 10]], "two")
    five = ingest([[1, 2], [3, 4], [5, 6], [7, 8], [9, 10]], "five")
    assert two == five
    assert {(a, b) for (a, b, *_rest) in two} == {(2, 6), (2, 9), (6, 9)}


def test_streaming_suffix_crash_restart_from_checkpoint(spark, tmp_path):
    """Kill/restart-from-checkpoint exactly-once for the suffix twin.
    Worst case: the crash lands BETWEEN the decisions/anchor/gramdf
    writes and the checkpoint commit — the batch dirs exist but the
    engine doesn't know. On restart the same input re-runs as the SAME
    batch id; the idempotent overwrites rewrite identical content, so
    neither the span decisions nor the store double up (a doubled
    gramdf row would halve the effective df-cap; doubled anchors would
    duplicate every future span)."""
    import os as _os

    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        streaming_suffix_dedup,
    )

    text1 = " ".join(f"g{i}" for i in range(25))
    text2 = " ".join(["h0", "h1"] + [f"g{i}" for i in range(3, 22)])
    in_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    decisions = str(tmp_path / "decisions")
    ck = str(tmp_path / "ck")

    # run 1: only batch A (doc 1) visible; commits batch_id=0
    fx._write_batches(in_dir, [[_doc(1, text1)]])
    stream = file_stream(
        spark, in_dir, DOC_SCHEMA, fmt="json", max_files_per_trigger=1
    )
    q = (
        streaming_suffix_dedup(stream, store, decisions, ck)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    # "crash": batch B's three dirs were written (same per-batch body)
    # but the checkpoint never committed batch_id=1
    _suffix_batch_body(
        spark, store, decisions,
        spark.createDataFrame([(2, text2)], DOC_SCHEMA), 1,
    )

    # restart from the SAME checkpoint with batch B's input now visible
    fx._write_batches(in_dir, [[_doc(1, text1)], [_doc(2, text2)]])
    stream2 = file_stream(
        spark, in_dir, DOC_SCHEMA, fmt="json", max_files_per_trigger=1
    )
    q2 = (
        streaming_suffix_dedup(stream2, store, decisions, ck)
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(180)

    got = spark.read.parquet(_os.path.join(decisions, "batch=*")).collect()
    # exactly ONE span decision: doc 2 shares g3..g21 (19 tokens) with
    # the accepted doc 1 — no duplicate from the replay
    assert [(r.doc_a, r.doc_b, r.a_start, r.a_end, r.b_start, r.b_end,
             r.span_len) for r in got] == [(1, 2, 4, 22, 3, 21, 19)]
    # store did not double: per-gram summed df equals the anchor count
    anchors = spark.read.parquet(_os.path.join(store, "anchors", "batch=*"))
    gramdf = spark.read.parquet(_os.path.join(store, "gramdf", "batch=*"))
    assert anchors.count() == (25 - 7) + (21 - 7)
    assert gramdf.agg(F.sum("n")).first()[0] == anchors.count()


def test_streaming_minhash_crash_restart_from_checkpoint(spark, tmp_path):
    """The phantom-dir replay scenario on the MinHash twin (the bug the
    suffix crash test caught was latent here too): a crash between the
    store writes and the checkpoint commit leaves batch B's accepted
    sigs/bands on disk; on replay the batch must NOT see its own
    phantom — without the exclude_batch guard doc 3 would band-collide
    with itself, verify at jaccard 1.0, flag dup_of = itself, and the
    replay would then write an EMPTY accepted set for the batch
    (silently dropping doc 3 from the corpus)."""
    import os as _os

    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        read_signature_store,
    )

    in_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    decisions = str(tmp_path / "decisions")
    ck = str(tmp_path / "ck")

    fx._write_batches(in_dir, [[_doc(1, TEXT_A), _doc(2, TEXT_B)]])
    stream = file_stream(
        spark, in_dir, DOC_SCHEMA, fmt="json", max_files_per_trigger=1
    )
    q = (
        streaming_minhash_dedup(stream, store, decisions, ck)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    # "crash": batch 1 (docs 3=near-dup-of-1, 4=new) store dirs written
    # with the exact per-batch body, checkpoint never committed
    batch_b = spark.createDataFrame(
        [(3, TEXT_A_NEAR), (4, TEXT_C)], DOC_SCHEMA
    )
    shingled = dd.with_shingles(batch_b, "text", "doc_id", 3)
    new_sigs = shingled.select("id", "shingles")
    new_bands = dd.band_keys(dd.minhash_signature(shingled, 16), 16, 4)
    store_sigs, store_bands = read_signature_store(
        spark, store, new_sigs, new_bands, exclude_batch=1
    )
    dec = dedup_batch_against_store(
        new_sigs, new_bands, store_sigs, store_bands
    ).persist()
    accepted = dec.filter(F.col("dup_of").isNull()).select(
        F.col("doc_id").alias("id")
    )
    new_sigs.join(accepted, "id").write.mode("overwrite").parquet(
        _os.path.join(store, "sigs", "batch=1")
    )
    new_bands.join(accepted, "id").write.mode("overwrite").parquet(
        _os.path.join(store, "bands", "batch=1")
    )
    dec.unpersist()

    # restart from the same checkpoint with batch B's input visible
    fx._write_batches(
        in_dir,
        [[_doc(1, TEXT_A), _doc(2, TEXT_B)],
         [_doc(3, TEXT_A_NEAR), _doc(4, TEXT_C)]],
    )
    stream2 = file_stream(
        spark, in_dir, DOC_SCHEMA, fmt="json", max_files_per_trigger=1
    )
    q2 = (
        streaming_minhash_dedup(stream2, store, decisions, ck)
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(180)

    got = {
        r["doc_id"]: r["dup_of"]
        for r in spark.read.parquet(
            _os.path.join(decisions, "batch=*")
        ).collect()
    }
    # identical to the never-crashed run: 3 flagged vs accepted doc 1,
    # 4 accepted — NOT flagged against its own phantom
    assert got == {1: None, 2: None, 3: 1, 4: None}
    sig_ids = {
        r["id"] for r in spark.read.parquet(
            _os.path.join(store, "sigs", "batch=*")
        ).collect()
    }
    assert sig_ids == {1, 2, 4}


def test_streaming_suffix_scrub_on_ingest(spark, tmp_path):
    """Scrub-on-ingest composition: doc 3 arrives sharing a 20-token
    block with accepted doc 1 — its clean output drops exactly those
    positions (newcomer loses, incumbent untouched); unrelated docs
    pass through verbatim with n_removed = 0; the store keeps doc 3's
    ORIGINAL anchors so a batch-3 copy of the same block still matches
    at full length."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        streaming_suffix_scrub,
    )

    block = [f"a{i}" for i in range(30)]
    doc1 = " ".join(block)
    doc2 = " ".join(f"b{i}" for i in range(30))
    doc3 = " ".join(["c0", "c1", "c2"] + block[5:25] + ["c3", "c4"])
    doc4 = " ".join(["d0"] + block[5:25] + ["d1"])  # third copy, batch 3

    in_dir = str(tmp_path / "in")
    fx._write_batches(
        in_dir,
        [[_doc(1, doc1), _doc(2, doc2)], [_doc(3, doc3)], [_doc(4, doc4)]],
    )
    stream = file_stream(
        spark, in_dir, DOC_SCHEMA, fmt="json", max_files_per_trigger=1
    )
    clean = str(tmp_path / "clean")
    q = (
        streaming_suffix_scrub(
            stream, str(tmp_path / "store"), str(tmp_path / "dec"),
            clean, str(tmp_path / "ck"),
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_removed)
        for r in spark.read.parquet(os.path.join(clean, "batch=*")).collect()
    }
    assert got[1] == (doc1, 30, 0)          # incumbent untouched
    assert got[2] == (doc2, 30, 0)          # unrelated passthrough
    assert got[3] == ("c0 c1 c2 c3 c4", 25, 20)  # shared block scrubbed
    # third copy matched the ORIGINAL doc-3 anchors (and doc 1's): its
    # whole embedded block is removed too
    assert got[4] == ("d0 d1", 22, 20)
    dec = spark.read.parquet(os.path.join(str(tmp_path / "dec"), "batch=*"))
    assert {(r.doc_a, r.doc_b) for r in dec.collect()} == {
        (1, 3), (1, 4), (3, 4)
    }


def test_suffix_anchor_store_bucketed_join_no_store_shuffle(spark, tmp_path):
    """Substantiates the SCALE.md stance for the streaming suffix
    store: anchors written BUCKETED BY g co-locate the store side of
    the gram join — the store scan feeds the sort-merge join with NO
    Exchange (only the small new-batch side repartitions to the bucket
    count), vs TWO exchanges when the store is a plain parquet dir.
    At 100 TB that is the difference between shuffling the corpus's
    anchor history every batch and shuffling one micro-batch."""
    docs = spark.createDataFrame(
        [(d, " ".join(f"t{d}_{i}" for i in range(40))) for d in range(50)],
        DOC_SCHEMA,
    )
    anchors = dd.suffix_anchors(docs, "text", "doc_id", 8)
    # session warehouse dir is static conf — use it and drop the table
    name = "suffix_anchor_store_bucketed_test"
    # force the sort-merge strategy: at TEST scale the planner would
    # broadcast either side, which hides the bucketing question the
    # 100 TB stance is about (neither side is broadcastable there)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        anchors.write.bucketBy(8, "g").sortBy("g").mode(
            "overwrite"
        ).saveAsTable(name)
        store = spark.table(name)
        new = dd.suffix_anchors(
            spark.createDataFrame(
                [(99, " ".join(f"t7_{i}" for i in range(40)))], DOC_SCHEMA
            ),
            "text", "doc_id", 8,
        )
        joined = store.alias("a").join(
            new.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        plan_bucketed = joined._jdf.queryExecution().executedPlan().toString()
        plain = dd.suffix_anchors(docs, "text", "doc_id", 8)
        plan_plain = (
            plain.alias("a")
            .join(
                new.alias("b"),
                (F.col("a.g") == F.col("b.g"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan_bucketed.count("Exchange") < plan_plain.count("Exchange"), (
            "bucketed store side must drop its Exchange"
        )
        assert "SortMergeJoin" in plan_bucketed
        assert "Bucketed: true" in plan_bucketed or "SelectedBucketsCount" in (
            plan_bucketed
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _suffix_batch_body(spark, store, decisions, batch_df, batch_id):
    """The streaming_suffix_dedup per-batch body, run directly."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        suffix_ingest_batch,
    )

    suffix_ingest_batch(batch_df, batch_id, store, decisions)


def _span_set(spark, decisions):
    return {
        (r.batch, r.doc_a, r.doc_b, r.a_start, r.a_end, r.b_start, r.b_end,
         r.span_len)
        for r in spark.read.option(
            "basePath", decisions
        ).parquet(os.path.join(decisions, "batch=*")).collect()
    }


def test_compact_suffix_store_decisions_identical(spark, tmp_path):
    """VERDICT r12 #2 done-bar: decisions are IDENTICAL before/after
    compaction. Twin runs over the same 3-batch arrival order — run A
    never compacts; run B compacts the store after every batch (so
    batch 1 joins one bucketed generation, batch 2 joins the NEXT
    generation produced by an incremental re-compaction) — and every
    span decision matches. Also pins the at-rest layout contract: after
    compaction the folded batch dirs are GONE, the manifest points at
    the current generation only, and gramdf is pre-summed to one row
    per gram."""
    import glob

    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        compact_suffix_store,
        read_compaction_manifest,
    )

    block = [f"a{i}" for i in range(30)]
    docs = [
        (1, " ".join(block)),
        (2, " ".join(f"b{i}" for i in range(30))),
        (3, " ".join(["c0", "c1", "c2"] + block[5:25] + ["c3", "c4"])),
        (4, " ".join(["d0"] + block[5:25] + ["d1"])),
    ]
    batches = [[docs[0], docs[1]], [docs[2]], [docs[3]]]

    roots = {}
    for mode in ("plain", "compacted"):
        store = str(tmp_path / mode / "store")
        decisions = str(tmp_path / mode / "dec")
        for b, rows in enumerate(batches):
            _suffix_batch_body(
                spark, store, decisions,
                spark.createDataFrame(rows, DOC_SCHEMA), b,
            )
            if mode == "compacted":
                compact_suffix_store(spark, store, buckets=4)
        roots[mode] = (store, decisions)

    assert _span_set(spark, roots["plain"][1]) == _span_set(
        spark, roots["compacted"][1]
    )
    assert _span_set(spark, roots["plain"][1])  # non-vacuous: spans exist

    store = roots["compacted"][0]
    man = read_compaction_manifest(store)
    assert man["through_batch"] == 2 and man["buckets"] == 4
    # folded batch dirs swept; exactly one generation per sub-store
    assert not glob.glob(os.path.join(store, "anchors", "batch=*"))
    assert not glob.glob(os.path.join(store, "gramdf", "batch=*"))
    assert glob.glob(os.path.join(store, "anchors_compact", "through=*")) == [
        man["tables"]["anchors"]["path"]
    ]
    # gramdf pre-summed: one row per gram, totals preserved
    gram = spark.table(man["tables"]["gramdf"]["name"])
    assert gram.groupBy("g").count().filter("count > 1").count() == 0
    n_anchors = spark.table(man["tables"]["anchors"]["name"]).count()
    assert gram.agg(F.sum("n")).first()[0] == n_anchors
    for sub in ("anchors", "gramdf"):
        spark.sql(f"DROP TABLE IF EXISTS `{man['tables'][sub]['name']}`")


def test_compact_suffix_store_streaming_restart(spark, tmp_path):
    """Compaction in the real operating position: stream ingests two
    micro-batches, stops (checkpoint committed), compact_suffix_store
    folds the store, and the RESTARTED stream (same checkpoint) ingests
    batch 2 against the compacted store — decisions match the
    never-compacted twin bit-for-bit."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        compact_suffix_store,
        streaming_suffix_dedup,
    )

    block = [f"a{i}" for i in range(30)]
    d1 = " ".join(block)
    d2 = " ".join(f"b{i}" for i in range(30))
    d3 = " ".join(["c0", "c1", "c2"] + block[5:25] + ["c3", "c4"])

    def run(root, compact_between):
        in_dir = str(root / "in")
        store = str(root / "store")
        decisions = str(root / "dec")
        ck = str(root / "ck")
        fx._write_batches(in_dir, [[_doc(1, d1)], [_doc(2, d2)]])
        q = (
            streaming_suffix_dedup(
                file_stream(spark, in_dir, DOC_SCHEMA, fmt="json",
                            max_files_per_trigger=1),
                store, decisions, ck,
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        if compact_between:
            compact_suffix_store(spark, store, buckets=4)
        fx._write_batches(
            in_dir, [[_doc(1, d1)], [_doc(2, d2)], [_doc(3, d3)]]
        )
        q2 = (
            streaming_suffix_dedup(
                file_stream(spark, in_dir, DOC_SCHEMA, fmt="json",
                            max_files_per_trigger=1),
                store, decisions, ck,
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q2.awaitTermination(180)
        return _span_set(spark, decisions)

    plain = run(tmp_path / "plain", compact_between=False)
    compacted = run(tmp_path / "compacted", compact_between=True)
    assert plain == compacted
    # non-vacuous: doc 3 shares block[5:25] with doc 1
    assert any(r[1] == 1 and r[2] == 3 and r[7] == 20 for r in plain)


def test_compact_suffix_store_idempotent_and_empty(spark, tmp_path):
    """Re-compaction with no new batches is a no-op that returns the
    standing manifest (and re-sweeps stale files — the crash-between-
    flip-and-sweep recovery); compacting an empty store fails fast."""
    import pytest

    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        compact_suffix_store,
        read_compaction_manifest,
    )

    store = str(tmp_path / "store")
    with pytest.raises(ValueError, match="empty"):
        compact_suffix_store(spark, store)

    batch = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(20)))], DOC_SCHEMA
    )
    _suffix_batch_body(spark, store, str(tmp_path / "dec"), batch, 0)
    m1 = compact_suffix_store(spark, store, buckets=4)
    # simulate a crash between manifest flip and sweep: drop a stale
    # folded dir back in, then re-run with no new batches
    stale = os.path.join(store, "anchors", "batch=0")
    os.makedirs(stale, exist_ok=True)
    m2 = compact_suffix_store(spark, store, buckets=4)
    assert m2 == m1 == read_compaction_manifest(store)
    assert not os.path.isdir(stale)
    for sub in ("anchors", "gramdf"):
        spark.sql(f"DROP TABLE IF EXISTS `{m1['tables'][sub]['name']}`")


def test_compacted_slice_join_has_no_store_exchange(spark, tmp_path):
    """The plan contract the compaction exists for (upgrades the
    saveAsTable proof at test_suffix_anchor_store_bucketed_join_no_
    store_shuffle to the PRODUCTION read path): after
    compact_suffix_store, the full suffix_batch_against_store plan
    reads the store through the bucketed table — the store scan feeds
    the gram sort-merge join with NO Exchange above it, vs a plain
    batch-dir store whose history reshuffles every micro-batch."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        compact_suffix_store,
        read_anchor_store_slices,
        read_compaction_manifest,
        suffix_batch_against_store,
    )

    docs = spark.createDataFrame(
        [(d, " ".join(f"t{d}_{i}" for i in range(40))) for d in range(50)],
        DOC_SCHEMA,
    )
    plain_store = str(tmp_path / "plain_store")
    comp_store = str(tmp_path / "comp_store")
    for store in (plain_store, comp_store):
        _suffix_batch_body(spark, store, str(tmp_path / "dec"), docs, 0)
    compact_suffix_store(spark, comp_store, buckets=8)

    new = dd.suffix_anchors(
        spark.createDataFrame(
            [(99, " ".join(f"t7_{i}" for i in range(40)))], DOC_SCHEMA
        ),
        "text", "doc_id", 8,
    )
    new_gramdf = new.groupBy("g").agg(F.count(F.lit(1)).alias("n"))

    def plan_for(store):
        slices, gramdf = read_anchor_store_slices(
            spark, store, new, new_gramdf
        )
        spans = suffix_batch_against_store(new, slices, gramdf)
        return spans._jdf.queryExecution().executedPlan().toString()

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_comp = plan_for(comp_store)
        plan_plain = plan_for(plain_store)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert "SortMergeJoin" in plan_comp
    assert "Bucketed: true" in plan_comp or "SelectedBucketsCount" in plan_comp
    assert plan_comp.count("Exchange") < plan_plain.count("Exchange"), (
        "compacted store side must drop its Exchange"
    )
    man = read_compaction_manifest(comp_store)
    for sub in ("anchors", "gramdf"):
        spark.sql(f"DROP TABLE IF EXISTS `{man['tables'][sub]['name']}`")


def test_store_rejects_fresh_checkpoint(spark, tmp_path):
    """ADVICE r12: batch ids are only unique within a checkpoint —
    pairing an existing store with a FRESH checkpoint must fail fast
    (the replayed batch 0 would silently exclude-then-overwrite the
    committed batch 0), not lose data."""
    import pytest

    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        streaming_suffix_dedup,
    )

    in_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    fx._write_batches(in_dir, [[_doc(1, " ".join(f"t{i}" for i in range(20)))]])
    q = (
        streaming_suffix_dedup(
            file_stream(spark, in_dir, DOC_SCHEMA, fmt="json"),
            store, str(tmp_path / "dec"), str(tmp_path / "ck1"),
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    q2 = (
        streaming_suffix_dedup(
            file_stream(spark, in_dir, DOC_SCHEMA, fmt="json"),
            store, str(tmp_path / "dec2"), str(tmp_path / "ck2"),
        )
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="refusing to ingest"):
        q2.awaitTermination(180)


def test_replay_below_compaction_horizon_fails_fast(spark, tmp_path):
    """A replaying batch id at or below the compaction horizon means a
    compaction folded an uncommitted batch — the read path refuses
    (proceeding would double-count the batch against itself)."""
    import pytest

    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        compact_suffix_store,
        read_anchor_store_slices,
        read_compaction_manifest,
    )

    store = str(tmp_path / "store")
    batch = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(20)))], DOC_SCHEMA
    )
    _suffix_batch_body(spark, store, str(tmp_path / "dec"), batch, 0)
    compact_suffix_store(spark, store, buckets=4)
    anchors = dd.suffix_anchors(batch, "text", "doc_id", 8)
    gramdf = anchors.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    with pytest.raises(ValueError, match="compacted through"):
        read_anchor_store_slices(
            spark, store, anchors, gramdf, exclude_batch=0
        )
    man = read_compaction_manifest(store)
    for sub in ("anchors", "gramdf"):
        spark.sql(f"DROP TABLE IF EXISTS `{man['tables'][sub]['name']}`")


def _mh_batch_body(spark, store, decisions, batch_df, batch_id):
    """The streaming_minhash_dedup per-batch body, run directly (the
    slices read path, as production runs it)."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        dedup_batch_against_store,
        read_signature_store_slices,
    )

    shingled = dd.with_shingles(batch_df, "text", "doc_id", 3).persist()
    new_sigs = shingled.select("id", "shingles")
    new_bands = dd.band_keys(dd.minhash_signature(shingled, 16), 16, 4)
    store_sigs, band_slices = read_signature_store_slices(
        spark, store, new_sigs, new_bands
    )
    dec = dedup_batch_against_store(
        new_sigs, new_bands, store_sigs, band_slices,
        threshold=0.8, max_bucket=50,
    ).persist()
    dec.write.mode("overwrite").parquet(
        os.path.join(decisions, f"batch={batch_id}")
    )
    accepted = dec.filter(F.col("dup_of").isNull()).select(
        F.col("doc_id").alias("id")
    )
    new_sigs.join(accepted, "id").write.mode("overwrite").parquet(
        os.path.join(store, "sigs", f"batch={batch_id}")
    )
    new_bands.join(accepted, "id").write.mode("overwrite").parquet(
        os.path.join(store, "bands", f"batch={batch_id}")
    )
    dec.unpersist()
    shingled.unpersist()


def _decision_set(spark, decisions):
    return {
        (r.batch, r.doc_id, r.dup_of, r.jaccard)
        for r in spark.read.option(
            "basePath", decisions
        ).parquet(os.path.join(decisions, "batch=*")).collect()
    }


def test_compact_minhash_store_decisions_identical(spark, tmp_path):
    """MinHash-store twin of the suffix compaction done-bar: 3-batch
    sequential ingest, plain vs compact-after-every-batch (bands folded
    bucketed by (band, key), sigs by id) — accept/flag decisions are
    identical, including the store-side hot-bucket cap whose sizes are
    summed ACROSS slices."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        compact_minhash_store,
        read_compaction_manifest,
    )

    batches = [
        [(1, TEXT_A), (2, TEXT_B)],
        [(3, TEXT_A_NEAR), (4, TEXT_C), (5, TEXT_C)],
        [(6, TEXT_B), (7, " ".join(f"gamma{i}" for i in range(40)))],
    ]
    out = {}
    for mode in ("plain", "compacted"):
        store = str(tmp_path / mode / "store")
        decisions = str(tmp_path / mode / "dec")
        for b, rows in enumerate(batches):
            _mh_batch_body(
                spark, store, decisions,
                spark.createDataFrame(rows, DOC_SCHEMA), b,
            )
            if mode == "compacted":
                compact_minhash_store(spark, store, buckets=4)
        out[mode] = _decision_set(spark, decisions)
    assert out["plain"] == out["compacted"]
    # non-vacuous: cross-batch near-dup, in-batch exact dup, and a
    # batch-2 exact dup of a STORE doc all flagged
    flags = {d: (c, j) for (_b, d, c, j) in out["plain"]}
    assert flags[3] == (1, 0.9487)
    assert flags[5] == (4, 1.0)
    assert flags[6] == (2, 1.0)
    man = read_compaction_manifest(str(tmp_path / "compacted" / "store"))
    assert man["tables"]["bands"]["bucket_cols"] == ["band", "key"]
    for sub in ("sigs", "bands"):
        spark.sql(f"DROP TABLE IF EXISTS `{man['tables'][sub]['name']}`")


def test_compact_minhash_store_streaming_restart(spark, tmp_path):
    """Compaction between streaming runs of streaming_minhash_dedup:
    identical decisions to the never-compacted twin after restart."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        compact_minhash_store,
        streaming_minhash_dedup,
    )

    def run(root, compact_between):
        in_dir = str(root / "in")
        store = str(root / "store")
        decisions = str(root / "dec")
        ck = str(root / "ck")
        fx._write_batches(in_dir, [[_doc(1, TEXT_A), _doc(2, TEXT_B)]])
        q = (
            streaming_minhash_dedup(
                file_stream(spark, in_dir, DOC_SCHEMA, fmt="json",
                            max_files_per_trigger=1),
                store, decisions, ck,
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        if compact_between:
            compact_minhash_store(spark, store, buckets=4)
        fx._write_batches(
            in_dir,
            [[_doc(1, TEXT_A), _doc(2, TEXT_B)],
             [_doc(3, TEXT_A_NEAR), _doc(4, TEXT_C), _doc(5, TEXT_C)]],
        )
        q2 = (
            streaming_minhash_dedup(
                file_stream(spark, in_dir, DOC_SCHEMA, fmt="json",
                            max_files_per_trigger=1),
                store, decisions, ck,
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q2.awaitTermination(180)
        return _decision_set(spark, decisions)

    plain = run(tmp_path / "plain", compact_between=False)
    compacted = run(tmp_path / "compacted", compact_between=True)
    assert plain == compacted
    assert any(d == 3 and c == 1 for (_b, d, c, _j) in plain)


def test_compacted_bands_join_has_no_store_exchange(spark, tmp_path):
    """Plan contract for the MinHash store's at-rest layout: after
    compact_minhash_store the full dedup_batch_against_store plan reads
    the bands store through the (band, key)-bucketed table — fewer
    Exchanges than the plain batch-dir store (both the hot-bucket size
    aggregate and the candidate equi-join co-locate on the bucketed
    side)."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        compact_minhash_store,
        dedup_batch_against_store,
        read_compaction_manifest,
        read_signature_store_slices,
    )

    docs = spark.createDataFrame(
        [(d, " ".join(f"w{d}_{i}" for i in range(40))) for d in range(50)],
        DOC_SCHEMA,
    )
    plain_store = str(tmp_path / "plain_store")
    comp_store = str(tmp_path / "comp_store")
    for store in (plain_store, comp_store):
        _mh_batch_body(spark, store, str(tmp_path / "dec"), docs, 0)
    compact_minhash_store(spark, comp_store, buckets=8)

    batch = spark.createDataFrame(
        [(99, " ".join(f"w7_{i}" for i in range(40)))], DOC_SCHEMA
    )
    shingled = dd.with_shingles(batch, "text", "doc_id", 3)
    new_sigs = shingled.select("id", "shingles")
    new_bands = dd.band_keys(dd.minhash_signature(shingled, 16), 16, 4)

    def plan_for(store):
        store_sigs, band_slices = read_signature_store_slices(
            spark, store, new_sigs, new_bands
        )
        dec = dedup_batch_against_store(
            new_sigs, new_bands, store_sigs, band_slices,
            threshold=0.8, max_bucket=50,
        )
        return dec._jdf.queryExecution().executedPlan().toString()

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_comp = plan_for(comp_store)
        plan_plain = plan_for(plain_store)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert "Bucketed: true" in plan_comp or "SelectedBucketsCount" in plan_comp
    assert plan_comp.count("Exchange") < plan_plain.count("Exchange"), (
        "compacted bands side must drop Exchanges"
    )
    man = read_compaction_manifest(comp_store)
    for sub in ("sigs", "bands"):
        spark.sql(f"DROP TABLE IF EXISTS `{man['tables'][sub]['name']}`")


def test_suffix_stream_memo_evicts_and_rmtrees_dead_applications(
    spark, tmp_path
):
    """The sequential-ingest store memos (suffix + minhash) key by
    (applicationId, sf_dir, n_batches, compact); on any miss, foreign
    applications' keys are evicted AND their temp run roots rmtree'd
    (r12 ADVICE: eviction without rmtree leaked orphaned
    spark_suffix_stream_* dirs in session-restarting processes)."""
    from sparkstreaming_realtime_project_spark.plans import catalog as cat

    stale_root = str(tmp_path / "stale_run_root")
    os.makedirs(stale_root, exist_ok=True)
    saved = dict(cat._SUFFIX_STREAM_PATHS)
    try:
        cat._SUFFIX_STREAM_PATHS.clear()
        cat._SUFFIX_STREAM_PATHS[("dead-app", "/x", 3, False)] = stale_root
        cat._suffix_stream_store(spark, "/root/testdata/sf0.001")
        assert ("dead-app", "/x", 3, False) not in cat._SUFFIX_STREAM_PATHS
        assert not os.path.isdir(stale_root)
    finally:
        cat._SUFFIX_STREAM_PATHS.clear()
        cat._SUFFIX_STREAM_PATHS.update(saved)


def test_sketch_store_compaction_read_identical(spark, tmp_path):
    """Generation compaction for the four remaining mergeable sketch
    stores (HLL / CMS / MG / exact-agg — the moment store's compaction
    discipline generalized): every read-path result is IDENTICAL
    frame-for-frame before and after, each store ends with one
    committed generation and no folded batch dir, and re-compacting a
    compacted store is a no-op."""
    from sparkstreaming_realtime_project_spark.operators.sketches import (
        cms_sketch,
        hll_registers,
    )
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        agg_write_batch,
        compact_agg_store,
        compact_cms_store,
        compact_hll_store,
        compact_mg_store,
        mg_write_batch,
        read_agg_totals,
        read_cms_estimate,
        read_hll_estimate,
        read_mg_topk,
    )

    def batch(b):
        # overlapping, skewed keys across batches: key k{i % 12} with
        # frequency skew so MG truncation (m=5) genuinely bites
        return spark.range(b * 100, b * 100 + 200).selectExpr(
            "concat('k', cast(id % 16 AS string)) AS key",
            "cast(id % 37 AS double) AS v",
        )

    stores = {n: str(tmp_path / n) for n in ("hll", "cms", "mg", "agg")}
    for b in range(3):
        df = batch(b)
        hll_registers(df, "key").write.mode("overwrite").parquet(
            os.path.join(stores["hll"], f"batch={b}")
        )
        cms_sketch(df, "key", d=4, w=64).write.mode("overwrite").parquet(
            os.path.join(stores["cms"], f"batch={b}")
        )
        mg_write_batch(df, b, stores["mg"], "key", m=5)
        agg_write_batch(df, b, stores["agg"], ["key"], "v")

    keys = spark.createDataFrame([("k0",), ("k1",), ("k9",)], "key string")

    def reads():
        return {
            "hll": read_hll_estimate(spark, stores["hll"]).collect(),
            "cms": sorted(
                read_cms_estimate(
                    spark, stores["cms"], keys, "key", d=4, w=64
                ).collect()
            ),
            "mg": sorted(read_mg_topk(spark, stores["mg"], 3, m=5).collect()),
            "agg": sorted(read_agg_totals(
                spark, stores["agg"], ["key"]).collect()),
        }

    before = reads()
    compact_hll_store(spark, stores["hll"])
    compact_cms_store(spark, stores["cms"])
    compact_mg_store(spark, stores["mg"], m=5)
    compact_agg_store(spark, stores["agg"], ["key"])
    after = reads()
    assert before == after
    # MG certificate is non-vacuous: truncation produced an eps bound
    assert any(r.upper_bound > r.est for r in before["mg"])
    for store in stores.values():
        _assert_manifest_layout(store, through=2)
    # re-compaction with no new batch is a no-op; reads unchanged
    compact_hll_store(spark, stores["hll"])
    compact_mg_store(spark, stores["mg"], m=5)
    assert reads() == before
    # a batch arriving AFTER compaction merges cleanly (schema parity
    # for the decimal agg partial, register/cell addition for sketches)
    df = batch(3)
    hll_registers(df, "key").write.mode("overwrite").parquet(
        os.path.join(stores["hll"], "batch=3")
    )
    agg_write_batch(df, 3, stores["agg"], ["key"], "v")
    four_batches = spark.range(0, 200).union(
        spark.range(100, 300)
    ).union(spark.range(200, 400)).union(spark.range(300, 500)).selectExpr(
        "concat('k', cast(id % 16 AS string)) AS key",
        "cast(id % 37 AS double) AS v",
    )
    expect = sorted(
        four_batches.groupBy("key").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("v").cast("decimal(18,6)")).alias("sm"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        ).select(
            "key", F.col("cnt").cast("long"),
            F.col("sm").cast("double"), "mn", "mx",
            (F.col("sm").cast("double") / F.col("cnt")).alias("avg"),
        ).collect()
    )
    got = sorted(read_agg_totals(spark, stores["agg"], ["key"]).collect())
    assert got == expect


def test_ivf_store_compaction_read_identical(spark, tmp_path):
    """compact_ivf_store folds B x n_cells probe directories into
    n_cells while query_ivf_store returns the identical frame (the
    fold is a pure vector union under the same cell partition
    layout)."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        compact_ivf_store,
        query_ivf_store,
    )

    store = str(tmp_path / "ivf")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    for b in range(3):
        rows = [
            (b * 10 + i,
             [1.0, 0.05 * i] if i % 2 == 0 else [0.05 * i, 1.0],
             0 if i % 2 == 0 else 1)
            for i in range(6)
        ]
        spark.createDataFrame(
            rows, "id long, v array<double>, cell int"
        ).write.mode("overwrite").partitionBy("cell").parquet(
            os.path.join(store, f"batch={b}")
        )
    queries = spark.createDataFrame(
        [(100, [0.9, 0.1]), (101, [0.2, 0.8])],
        "vec_id long, embedding array<double>",
    )

    def read():
        return sorted(
            query_ivf_store(
                spark, store, queries, cents, k=3, n_probe=1
            ).collect()
        )

    before = read()
    gen_dir = compact_ivf_store(spark, store)
    after = read()
    assert before == after and len(before) == 6
    _assert_manifest_layout(store, through=2, gen_dir=gen_dir)
    # cell partition layout survived the fold
    assert sorted(
        n for n in os.listdir(gen_dir) if n.startswith("cell=")
    ) == ["cell=0", "cell=1"]


# --------------------------------------------------------------------------
# Leveled (size-tiered) compaction — ADVICE r13 "gramdf/bands fold
# cost" watch-item: the full fold re-writes O(store) per run; leveled
# mode folds only the tail and merges generations when ``fanout`` share
# a size tier, so sub-hour cadences pay O(tail) amortized O(N log N).
# --------------------------------------------------------------------------


def _equal_size_doc(doc_id, n_tokens=40):
    return (doc_id, " ".join(f"t{doc_id}_{i}" for i in range(n_tokens)))


def test_leveled_compaction_decisions_identical_and_tiering(
    spark, tmp_path
):
    """8-batch twin at fanout=2, compacting after every batch. Three
    contracts: (1) span decisions identical to the never-compacted run;
    (2) the generation count follows the binary counter —
    popcount(batches so far) — because equal-sized batches land in the
    same tier and a full tier always merges one tier up (the
    <= log_fanout(store) bound); (3) at-rest hygiene — folded batch
    dirs gone, exactly the manifest's gen dirs on disk, per-generation
    gramdf pre-summed."""
    import glob

    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        compact_suffix_store,
        read_compaction_manifest,
    )

    block = [f"a{i}" for i in range(40)]
    # every batch = ONE 40-token doc (equal anchor counts -> equal
    # tiers); batches 3 and 6 embed a 20-token slice of batch 0's doc
    # so real cross-batch spans exist against compacted generations
    docs = {
        0: (0, " ".join(block)),
        3: (3, " ".join(["x0"] + block[5:25] + [f"x{i}" for i in range(1, 20)])),
        6: (6, " ".join(["y0"] + block[5:25] + [f"y{i}" for i in range(1, 20)])),
    }
    batches = [
        [docs.get(b, _equal_size_doc(b))] for b in range(8)
    ]

    roots = {}
    gen_counts = []
    for mode in ("plain", "leveled"):
        store = str(tmp_path / mode / "store")
        decisions = str(tmp_path / mode / "dec")
        for b, rows in enumerate(batches):
            _suffix_batch_body(
                spark, store, decisions,
                spark.createDataFrame(rows, DOC_SCHEMA), b,
            )
            if mode == "leveled":
                man = compact_suffix_store(
                    spark, store, buckets=4, fanout=2
                )
                gen_counts.append(len(man["generations"]))
        roots[mode] = (store, decisions)

    assert _span_set(spark, roots["plain"][1]) == _span_set(
        spark, roots["leveled"][1]
    )
    assert _span_set(spark, roots["plain"][1])  # non-vacuous

    # binary-counter generation counts: popcount(b+1) for b = 0..7
    assert gen_counts == [
        bin(b + 1).count("1") for b in range(8)
    ], gen_counts

    store = roots["leveled"][0]
    man = read_compaction_manifest(store)
    assert man["through_batch"] == 7 and man["fanout"] == 2
    assert not glob.glob(os.path.join(store, "anchors", "batch=*"))
    assert not glob.glob(os.path.join(store, "gramdf", "batch=*"))
    for sub in ("anchors", "gramdf"):
        on_disk = sorted(
            glob.glob(os.path.join(store, f"{sub}_compact", "*"))
        )
        referenced = sorted(
            g["tables"][sub]["path"] for g in man["generations"]
        )
        assert on_disk == referenced
    # per-generation gramdf pre-summed (one row per gram per gen) and
    # the cross-generation total still equals the anchor count
    total_gram = total_anchor = 0
    for g in man["generations"]:
        gram = spark.table(g["tables"]["gramdf"]["name"])
        assert gram.groupBy("g").count().filter("count > 1").count() == 0
        total_gram += gram.agg(F.sum("n")).first()[0]
        total_anchor += spark.table(g["tables"]["anchors"]["name"]).count()
        assert g["rows"] > 0
    assert total_gram == total_anchor
    for g in man["generations"]:
        for sub in ("anchors", "gramdf"):
            spark.sql(f"DROP TABLE IF EXISTS `{g['tables'][sub]['name']}`")


def test_leveled_then_major_fold(spark, tmp_path):
    """fanout=None on a leveled store is the major compaction: all
    generations collapse into the single-table v1 manifest, superseded
    generation tables leave the session catalog, their dirs are swept,
    and a subsequent batch's decisions are unchanged vs a twin that
    stayed leveled."""
    import glob

    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        compact_suffix_store,
        read_compaction_manifest,
    )

    block = [f"a{i}" for i in range(40)]
    batches = [
        [(0, " ".join(block))],
        [_equal_size_doc(1)],
        [_equal_size_doc(2)],
    ]
    probe = [(9, " ".join(["p0"] + block[5:25] + [f"p{i}" for i in range(1, 20)]))]

    spans = {}
    for mode in ("stay", "major"):
        store = str(tmp_path / mode / "store")
        decisions = str(tmp_path / mode / "dec")
        for b, rows in enumerate(batches):
            _suffix_batch_body(
                spark, store, decisions,
                spark.createDataFrame(rows, DOC_SCHEMA), b,
            )
            compact_suffix_store(spark, store, buckets=4, fanout=2)
        if mode == "major":
            old = read_compaction_manifest(store)
            man = compact_suffix_store(spark, store, buckets=4)
            assert "generations" not in man and "tables" in man
            # superseded generation tables dropped + dirs swept
            for g in old["generations"]:
                for sub in ("anchors", "gramdf"):
                    assert not spark.catalog.tableExists(
                        g["tables"][sub]["name"]
                    )
            assert glob.glob(
                os.path.join(store, "anchors_compact", "*")
            ) == [man["tables"]["anchors"]["path"]]
        _suffix_batch_body(
            spark, store, decisions,
            spark.createDataFrame(probe, DOC_SCHEMA), len(batches),
        )
        spans[mode] = _span_set(spark, decisions)

    assert spans["stay"] == spans["major"] and spans["stay"]
    for store in (str(tmp_path / "stay" / "store"),
                  str(tmp_path / "major" / "store")):
        man = read_compaction_manifest(store)
        from sparkstreaming_realtime_project_spark.streaming.incremental import (  # noqa: E501
            _manifest_generations,
        )
        for g in _manifest_generations(man):
            for sub in ("anchors", "gramdf"):
                spark.sql(
                    f"DROP TABLE IF EXISTS `{g['tables'][sub]['name']}`"
                )


def test_leveled_generation_slices_no_exchange(spark, tmp_path):
    """The plan contract extends to MULTIPLE generations: with two live
    bucketed generations, each store-side slice of the per-batch gram
    join reads its bucketed table with no Exchange above the scan (the
    plain batch-dir twin reshuffles its history)."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        compact_suffix_store,
        read_anchor_store_slices,
        read_compaction_manifest,
        suffix_batch_against_store,
    )

    plain_store = str(tmp_path / "plain_store")
    lev_store = str(tmp_path / "lev_store")
    # two same-content ingest rounds; sizes differ (50 vs 10 docs) so
    # the two leveled generations sit in different tiers and BOTH stay
    # live
    round1 = spark.createDataFrame(
        [(d, " ".join(f"t{d}_{i}" for i in range(40))) for d in range(50)],
        DOC_SCHEMA,
    )
    round2 = spark.createDataFrame(
        [(d, " ".join(f"t{d}_{i}" for i in range(40)))
         for d in range(50, 60)],
        DOC_SCHEMA,
    )
    for store in (plain_store, lev_store):
        _suffix_batch_body(spark, store, str(tmp_path / "dec"), round1, 0)
        if store == lev_store:
            compact_suffix_store(spark, store, buckets=8, fanout=2)
        _suffix_batch_body(spark, store, str(tmp_path / "dec"), round2, 1)
        if store == lev_store:
            compact_suffix_store(spark, store, buckets=8, fanout=2)
    man = read_compaction_manifest(lev_store)
    assert len(man["generations"]) == 2

    new = dd.suffix_anchors(
        spark.createDataFrame(
            [(99, " ".join(f"t7_{i}" for i in range(40)))], DOC_SCHEMA
        ),
        "text", "doc_id", 8,
    )
    new_gramdf = new.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    slices, gramdf = read_anchor_store_slices(
        spark, lev_store, new, new_gramdf
    )
    assert len(slices) == 2

    def plan_for(one_slice):
        spans = suffix_batch_against_store(new, [one_slice], gramdf)
        return spans._jdf.queryExecution().executedPlan().toString()

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # every generation slice, joined alone (exactly how
        # suffix_batch_against_store consumes it), must read bucketed
        # and spend fewer Exchanges than a plain read of the SAME files
        for g, sl in zip(man["generations"], slices):
            plan_b = plan_for(sl)
            plan_p = plan_for(
                spark.read.parquet(g["tables"]["anchors"]["path"])
            )
            assert "SortMergeJoin" in plan_b
            assert "Bucketed: true" in plan_b or "SelectedBucketsCount" in (
                plan_b
            )
            assert plan_b.count("Exchange") < plan_p.count("Exchange"), (
                "every leveled generation slice must keep its bucket "
                "co-location"
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    for g in man["generations"]:
        for sub in ("anchors", "gramdf"):
            spark.sql(f"DROP TABLE IF EXISTS `{g['tables'][sub]['name']}`")


def test_read_side_drops_stale_generation_tables(spark, tmp_path):
    """ADVICE r13 watch-item: a session that only READS a store another
    process re-compacted must not accumulate dead external-table
    entries — on a registration miss, superseded same-family tables
    (same name up to the _b{N}/_g{N} tail, absent from the live set)
    are dropped."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        compact_suffix_store,
        read_anchor_store_slices,
        read_compaction_manifest,
    )

    store = str(tmp_path / "store")
    docs = spark.createDataFrame([_equal_size_doc(0)], DOC_SCHEMA)
    _suffix_batch_body(spark, store, str(tmp_path / "dec"), docs, 0)
    man = compact_suffix_store(spark, store, buckets=4)
    live = man["tables"]["anchors"]["name"]
    stale = live.rsplit("_", 1)[0] + "_g999"
    # a superseded generation's leftover registration (same LOCATION —
    # only the catalog entry matters for this test)
    spark.sql(
        f"CREATE TABLE `{stale}` (g long, doc_id long, pos int) "
        f"USING PARQUET LOCATION '{man['tables']['anchors']['path']}'"
    )
    # simulate the fresh session: live tables unregistered, files intact
    for sub in ("anchors", "gramdf"):
        spark.sql(f"DROP TABLE IF EXISTS `{man['tables'][sub]['name']}`")
    assert spark.catalog.tableExists(stale)

    new = dd.suffix_anchors(docs, "text", "doc_id", 8)
    new_gramdf = new.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    slices, _ = read_anchor_store_slices(spark, store, new, new_gramdf)
    assert slices and slices[0].count() > 0  # live gen re-registered
    assert spark.catalog.tableExists(live)
    assert not spark.catalog.tableExists(stale), (
        "superseded generation table must be dropped on re-registration"
    )
    man = read_compaction_manifest(store)
    for sub in ("anchors", "gramdf"):
        spark.sql(f"DROP TABLE IF EXISTS `{man['tables'][sub]['name']}`")


def test_leveled_minhash_decisions_identical(spark, tmp_path):
    """compact_minhash_store at fanout=2 after every batch leaves the
    per-batch dedup decisions identical to the never-compacted twin
    (the signature-store analogue of the suffix test — sigs are a pure
    union, bands keep their (band, key) bucketing per generation)."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        compact_minhash_store,
        dedup_batch_against_store,
        read_compaction_manifest,
        read_signature_store_slices,
    )

    base = [f"w{i}" for i in range(40)]
    mk = lambda did, words: (did, " ".join(words))  # noqa: E731
    batches = [
        [mk(0, base), mk(1, [f"u{i}" for i in range(40)])],
        [mk(2, base[:38] + ["z0", "z1"])],   # near-dup of 0
        [mk(3, [f"v{i}" for i in range(40)])],
        [mk(4, base[:37] + ["q0", "q1", "q2"])],  # near-dup of 0
    ]

    def run(root, fanout):
        store = str(root / "store")
        out = []
        for b, rows in enumerate(batches):
            docs = spark.createDataFrame(rows, DOC_SCHEMA)
            sh = dd.with_shingles(docs, "text", "doc_id", 3).persist()
            sigs = sh.select("id", "shingles")
            bands = dd.band_keys(dd.minhash_signature(sh, 16), 16, 4).select(
                "id", "band", "key"
            )
            store_sigs, band_slices = read_signature_store_slices(
                spark, store, sigs, bands
            )
            dec = dedup_batch_against_store(
                sigs, bands, store_sigs, band_slices, threshold=0.5
            )
            out += sorted(
                (r.doc_id, r.dup_of) for r in dec.collect()
            )
            accepted = dec.filter(F.col("dup_of").isNull()).select("doc_id")
            sigs.join(
                accepted, sigs.id == accepted.doc_id
            ).select("id", "shingles").write.mode("overwrite").parquet(
                os.path.join(store, "sigs", f"batch={b}")
            )
            bands.join(
                accepted, bands.id == accepted.doc_id
            ).select("id", "band", "key").write.mode("overwrite").parquet(
                os.path.join(store, "bands", f"batch={b}")
            )
            sh.unpersist()
            if fanout:
                compact_minhash_store(spark, store, buckets=4, fanout=fanout)
        return out, store

    plain, _ = run(tmp_path / "plain", None)
    leveled, lev_store = run(tmp_path / "leveled", 2)
    assert plain == leveled
    assert any(d is not None for _, d in plain)  # non-vacuous: dups found
    man = read_compaction_manifest(lev_store)
    assert man["fanout"] == 2
    for g in man["generations"]:
        for sub in ("sigs", "bands"):
            spark.sql(f"DROP TABLE IF EXISTS `{g['tables'][sub]['name']}`")


def test_union_of_bucketed_generations_aggregates_correctly(
    spark, tmp_path
):
    """Pins the engine around a Spark 4.1.2 planner hazard: a Union of
    IDENTICALLY-bucketed table scans claims their common
    HashPartitioning, so a downstream aggregate skips its Exchange —
    but each child placed the same key in a DIFFERENT partition, and
    the aggregate silently emits duplicate groups. (Reproducer: two
    4-bucket tables on g, union, groupBy(g).sum -> two g1 rows.) The
    store read paths therefore return PLAIN parquet reads in every
    union context (_gen_df) and reserve bucketed scans for per-slice
    joins. This test drives the real read path with TWO same-bucketed
    generations and NO tail — the exact layout that mis-planned — and
    asserts the gramdf totals seen by the df-cap are flat-sum correct."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        compact_suffix_store,
        read_anchor_store_slices,
        read_compaction_manifest,
    )

    store = str(tmp_path / "store")
    block = [f"a{i}" for i in range(40)]
    # batch 1's doc repeats 20 tokens of batch 0's doc -> 13 shared
    # 8-grams that MUST sum to n=2 across the two generations; batch 1
    # is 4x larger so the two generations land in DIFFERENT size tiers
    # and both stay live (same-size gens would tier-merge into one)
    batches = [
        [(0, " ".join(block))],
        [(1, " ".join(["x0"] + block[5:25] + [f"x{i}" for i in range(1, 140)]))],
    ]
    for b, rows in enumerate(batches):
        _suffix_batch_body(
            spark, store, str(tmp_path / "dec"),
            spark.createDataFrame(rows, DOC_SCHEMA), b,
        )
        compact_suffix_store(spark, store, buckets=4, fanout=2)
    man = read_compaction_manifest(store)
    # two live generations, same bucket count, no batch-dir tail: the
    # hazard layout
    assert len(man["generations"]) == 2
    assert all(
        g["tables"]["gramdf"]["buckets"] == 4 for g in man["generations"]
    )

    probe = spark.createDataFrame(batches[0], DOC_SCHEMA)
    new = dd.suffix_anchors(probe, "text", "doc_id", 8)
    new_gramdf = new.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    _slices, gramdf = read_anchor_store_slices(
        spark, store, new, new_gramdf
    )
    got = {
        r.g: r.n
        for r in gramdf.groupBy("g").agg(F.sum("n").alias("n")).collect()
    }
    assert len(got) == 33 + 153 - 13  # distinct grams across both docs
    assert sum(1 for n in got.values() if n == 2) == 13, (
        "shared grams must aggregate across generations (one row, n=2) "
        "— duplicate groups mean the union claimed bucket partitioning"
    )
    assert sum(got.values()) == 33 + 153
    for g in man["generations"]:
        for sub in ("anchors", "gramdf"):
            spark.sql(f"DROP TABLE IF EXISTS `{g['tables'][sub]['name']}`")


def test_generation_keeps_write_time_bucket_count(spark, tmp_path):
    """A generation must always re-register with the bucket count its
    FILES were written with, never a later manifest's: declaring N
    buckets over files hashed into M silently DROPS join rows (no
    error). Layout that hit it: full fold at buckets=8, then a leveled
    run at buckets=4 keeps the old generation live (different size
    tier) while the manifest top-level flips to 4 — a fresh session's
    re-registration must still say 8 for the carried generation."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        compact_suffix_store,
        read_anchor_store_slices,
        read_compaction_manifest,
        suffix_batch_against_store,
    )

    block = [f"a{i}" for i in range(40)]
    big = [
        (100 + d, " ".join([f"p{d}_{i}" for i in range(10)]
                           + block[5:25]
                           + [f"s{d}_{i}" for i in range(10)]))
        for d in range(30)
    ]
    batches = [
        [(0, " ".join(block))],  # small gen, written at 8 buckets
        big,                     # bigger gen, written at 4 buckets
    ]

    def run(root, bucket_plan):
        store, dec = str(root / "store"), str(root / "dec")
        for b, rows in enumerate(batches):
            _suffix_batch_body(
                spark, store, dec,
                spark.createDataFrame(rows, DOC_SCHEMA), b,
            )
            if bucket_plan:
                buckets, fanout = bucket_plan[b]
                compact_suffix_store(
                    spark, store, buckets=buckets, fanout=fanout
                )
        probe = spark.createDataFrame(
            [(999, " ".join(["q0"] + block[5:25] + ["q1"]))], DOC_SCHEMA
        )
        new = dd.suffix_anchors(probe, "text", "doc_id", 8)
        new_gramdf = new.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
        slices, gramdf = read_anchor_store_slices(
            spark, store, new, new_gramdf
        )
        spans = sorted(
            (r.doc_a, r.doc_b, r.a_start, r.b_start, r.span_len)
            for r in suffix_batch_against_store(
                new, slices, gramdf, max_df=1000
            ).collect()
        )
        return store, spans

    _, expected = run(tmp_path / "flat", None)
    store, _ = run(tmp_path / "mixed", {0: (8, None), 1: (4, 2)})

    man = read_compaction_manifest(store)
    by_rows = sorted(man["generations"], key=lambda g: g["rows"])
    assert len(by_rows) == 2
    assert by_rows[0]["tables"]["anchors"]["buckets"] == 8
    assert by_rows[1]["tables"]["anchors"]["buckets"] == 4

    # fresh-session re-registration: drop every catalog table, re-read
    for g in man["generations"]:
        for sub in ("anchors", "gramdf"):
            spark.sql(f"DROP TABLE IF EXISTS `{g['tables'][sub]['name']}`")
    probe = spark.createDataFrame(
        [(999, " ".join(["q0"] + block[5:25] + ["q1"]))], DOC_SCHEMA
    )
    new = dd.suffix_anchors(probe, "text", "doc_id", 8)
    new_gramdf = new.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    slices, gramdf = read_anchor_store_slices(spark, store, new, new_gramdf)
    got = sorted(
        (r.doc_a, r.doc_b, r.a_start, r.b_start, r.span_len)
        for r in suffix_batch_against_store(
            new, slices, gramdf, max_df=1000
        ).collect()
    )
    assert got == expected, (
        "re-registered generation lost store-side matches — wrong "
        "declared bucket count silently drops join rows"
    )
    assert len(got) >= 31, got  # the probe overlaps every stored doc
    for g in man["generations"]:
        for sub in ("anchors", "gramdf"):
            spark.sql(f"DROP TABLE IF EXISTS `{g['tables'][sub]['name']}`")


def test_sole_sigs_generation_reads_bucketed(spark, tmp_path):
    """With exactly one compacted generation and no tail (the steady
    post-compaction serving state), the flat sigs frame IS the
    bucketed-by-id catalog scan — the verify join's store side stays
    shuffle-free even when the candidate broadcast is defeated. The
    moment a tail appears, the read path must fall back to plain reads
    (union partners must not claim bucketing — see _gen_df)."""
    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        compact_minhash_store,
        read_compaction_manifest,
        read_signature_store_slices,
    )

    store = str(tmp_path / "store")
    docs = spark.createDataFrame(
        [(d, " ".join(f"w{d}_{i}" for i in range(20))) for d in range(30)],
        DOC_SCHEMA,
    )
    sh = dd.with_shingles(docs, "text", "doc_id", 3).persist()
    sigs = sh.select("id", "shingles")
    bands = dd.band_keys(dd.minhash_signature(sh, 16), 16, 4).select(
        "id", "band", "key"
    )
    sigs.write.parquet(os.path.join(store, "sigs", "batch=0"))
    bands.write.parquet(os.path.join(store, "bands", "batch=0"))
    sh.unpersist()
    man = compact_minhash_store(spark, store, buckets=4)

    like_sigs = spark.createDataFrame([], "id long, shingles array<string>")
    like_bands = spark.createDataFrame([], "id long, band int, key long")
    store_sigs, _ = read_signature_store_slices(
        spark, store, like_sigs, like_bands
    )
    ids = spark.range(30).selectExpr("id AS doc_id")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            store_sigs.join(ids, store_sigs.id == ids.doc_id)
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, (
        "sole sigs generation must read through the bucketed table"
    )
    assert store_sigs.count() == 30

    # a tail batch dir appears -> union context -> plain reads, correct
    spark.createDataFrame(
        [(777, ["x", "y", "z"])], "id long, shingles array<string>"
    ).write.parquet(os.path.join(store, "sigs", "batch=1"))
    spark.createDataFrame(
        [(777, 0, 1)], "id long, band int, key long"
    ).write.parquet(os.path.join(store, "bands", "batch=1"))
    store_sigs2, _ = read_signature_store_slices(
        spark, store, like_sigs, like_bands
    )
    assert store_sigs2.count() == 31
    for sub in ("sigs", "bands"):
        spark.sql(f"DROP TABLE IF EXISTS `{man['tables'][sub]['name']}`")
