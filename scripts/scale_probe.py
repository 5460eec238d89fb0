"""Empirical scaling probe: run the scale-critical dedup/ANN pipelines on
K-fold enlarged copies of the documents/embeddings tables and report
wall-clock vs corpus size.

Usage: python scripts/scale_probe.py [sf_dir] [copies ...]

Corpus construction keeps DUP DENSITY CONSTANT as it scales (the honest
scaling experiment): copy k prefixes every token with ``k<k>_``, so the
shingle/vocabulary spaces of different copies are DISJOINT — no
cross-copy near-dup pairs, no artificial mega-clusters; a 16x corpus has
16x the docs, 16x the true pairs, and the same per-doc shingle counts.
Embeddings scale by re-tagging vec_ids per copy and rotating each vector
by a deterministic per-copy sign-flip (cosine structure within a copy
preserved, cross-copy neighbors scrambled).

What linear-ish wall-clock growth here demonstrates: the candidate
generators (LSH bands with a bucket cap, PPJoin prefix with a df cap,
IVF cells) keep the reducer-side maximum CONSTANT as N grows — the
shuffles key on cap-bounded buckets, so cost grows with N, not N^2.
A quadratic operator would show 16x data -> ~256x time; the caps keep it
~16x. Results are appended to the round notes by hand (SCALE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from sparkstreaming_realtime_project_spark.operators import dedup as dd
from sparkstreaming_realtime_project_spark.operators.caching import (
    cached,
    release_persisted,
)
from sparkstreaming_realtime_project_spark.operators import graph as gr
from sparkstreaming_realtime_project_spark.operators import mlprep as ml
from sparkstreaming_realtime_project_spark.operators import similarity as sim
from sparkstreaming_realtime_project_spark.operators import survival as sv
from sparkstreaming_realtime_project_spark.operators import textstats as ts
from sparkstreaming_realtime_project_spark.session import get_spark
from sparkstreaming_realtime_project_spark.sources.batch import load_table


def scaled_documents(spark, sf_dir: str, copies: int):
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = base.agg(F.max("doc_id")).first()[0] + 1
    parts = []
    for k in range(copies):
        tagged = base.select(
            (F.col("doc_id") + F.lit(k * n)).alias("doc_id"),
            # disjoint vocab per copy: prefix every token with k<k>_
            F.array_join(
                F.transform(
                    F.split(F.lower(F.col("text")), r"\s+"),
                    lambda t: F.concat(F.lit(f"k{k}_"), t),
                ),
                " ",
            ).alias("text"),
        )
        parts.append(tagged)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scaled_embeddings(spark, sf_dir: str, copies: int):
    """Each copy k applies a DISTINCT orthogonal transform — rotate the
    components by k mod d and flip signs by a per-copy hash bit pattern
    — so within-copy geometry is exactly preserved (rotation + sign
    flips are isometries) while cross-copy cosines are scrambled; a
    naive shared sign flip would make same-parity copies near-identical
    twins and concentrate the LSH buckets (the flaw a code review
    caught in the first version of this probe)."""
    base = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = base.agg(F.max("vec_id")).first()[0] + 1
    d = len(base.select("embedding").first()["embedding"])
    parts = []
    for k in range(copies):
        r = k % d
        signs = [
            -1.0 if ((k * 2654435761) >> i) & 1 else 1.0 for i in range(d)
        ]
        v = F.col("embedding")
        rot = (
            F.concat(F.slice(v, r + 1, d - r), F.slice(v, 1, r)) if r else v
        )
        flipped = F.zip_with(
            rot,
            F.array(*[F.lit(s) for s in signs]),
            lambda a, b: a * b,
        )
        parts.append(
            base.select(
                (F.col("vec_id") + F.lit(k * n)).alias("vec_id"),
                flipped.alias("embedding"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scaled_events(spark, sf_dir: str, copies: int):
    """K-fold user-population growth: copy k re-tags user_id into a
    disjoint id range, keeping each user's day pattern and the calendar
    domain fixed — K x the users, K x the (user, active-day) rows, the
    SAME number of days. Exactly how an activity table grows."""
    base = load_table(spark, sf_dir, "events").select("user_id", "ts")
    n = base.agg(F.max("user_id")).first()[0] + 1
    parts = [
        base.select(
            (F.col("user_id") + F.lit(k * n)).alias("user_id"), "ts"
        )
        for k in range(copies)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scaled_orders(spark, sf_dir: str, copies: int):
    base = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    n = base.agg(F.max("o_custkey")).first()[0] + 1
    parts = [
        base.select(
            (F.col("o_custkey") + F.lit(k * n)).alias("o_custkey"),
            "o_orderdate",
            "o_totalprice",
        )
        for k in range(copies)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 2)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    copies = [int(c) for c in sys.argv[2:]] or [1, 4, 16]
    # SCALE_PROBE_ONLY=minhash,knn runs a subset (the 64x big-point runs
    # target just the scale-critical families; everything else would
    # multiply the wall-clock without informing the exponent)
    only = {
        t for t in (os.environ.get("SCALE_PROBE_ONLY") or "").split(",") if t
    }
    want = lambda name: not only or name in only  # noqa: E731
    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    report = []
    for k in copies:
        row = {"copies": k}
        docs = None
        if any(want(t) for t in ("minhash", "ngram", "suffix", "selfspans",
                                 "winnow", "triangle", "kn_bigram")):
            docs = scaled_documents(spark, sf_dir, k).persist()
            row["n_docs"] = docs.count()

        def run_minhash():
            p = dd.minhash_dedup_pairs(
                docs, "text", "doc_id", n=3, k=16, bands=4,
                threshold=0.8, max_bucket=50,
            )
            row["minhash_pairs"] = p.count()
            release_persisted()

        def run_ngram():
            p = dd.ngram_jaccard_dedup_pairs(
                docs, "text", "doc_id", n=3, threshold=0.8, max_df=50
            )
            row["ngram_pairs"] = p.count()
            release_persisted()

        def run_suffix():
            p = dd.suffix_span_pairs(
                docs, "text", "doc_id", k=8, min_len=16, max_df=64,
            )
            row["suffix_spans"] = p.count()

        if want("minhash"):
            row["minhash_s"] = timed(run_minhash)
        if want("ngram"):
            row["ngram_s"] = timed(run_ngram)
        def run_selfspans():
            p = dd.suffix_self_spans(
                docs, "text", "doc_id", k=8, min_len=16, max_df=64,
            )
            row["self_spans"] = p.count()

        if want("suffix"):
            row["suffix_s"] = timed(run_suffix)
        if want("selfspans"):
            row["selfspans_s"] = timed(run_selfspans)

        # round-7 families: substring dedup (winnow), graph (triangles
        # over the winnow pair graph — disjoint copies keep triangle
        # density constant), bigram LM scoring
        wp = {}

        def run_winnow():
            # cut: the triangle stage reads the same pair graph
            p = cached(dd.winnow_substring_pairs(
                docs, "text", "doc_id", n=3, w=4, max_df=50
            ))
            row["winnow_pairs"] = p.count()
            wp["pairs"] = p

        def run_triangles():
            t = gr.triangle_counts(wp["pairs"], "doc_a", "doc_b")
            row["tri_nodes"] = t.count()
            release_persisted()

        def run_kn():
            out = ts.kn_bigram_logprob(docs, "text", "doc_id")
            row["kn_docs"] = out.count()
            release_persisted()

        # triangle consumes winnow's pair graph: selecting it
        # auto-runs the winnow stage (its timing is recorded only when
        # winnow itself was selected)
        if want("winnow") or want("triangle"):
            t_winnow = timed(run_winnow)
            if want("winnow"):
                row["winnow_s"] = t_winnow
            if want("triangle"):
                row["triangle_s"] = timed(run_triangles)
            else:
                release_persisted()
        if want("kn_bigram"):
            row["kn_bigram_s"] = timed(run_kn)

        if want("knn"):
            emb = scaled_embeddings(spark, sf_dir, k).persist()
            row["n_vecs"] = emb.count()
            queries = emb.filter(F.col("vec_id") < 10)

            def run_knn():
                out = sim.knn_bucketed(emb, queries, k=5)
                row["knn_rows"] = out.count()

            row["knn_bucketed_s"] = timed(run_knn)
            emb.unpersist()
        if docs is not None:
            docs.unpersist()

        # round-9 analytics family: stickiness explode-cover distinct
        # windows (x28 fanout + count_distinct shuffle — the only
        # data-sized explode in the family), new-vs-returning's
        # user-keyed join-back, churn's keyed aggregates
        ev = None
        if want("stickiness") or want("new_vs_returning"):
            ev = scaled_events(spark, sf_dir, k).persist()
            row["n_events"] = ev.count()

        def run_stickiness():
            a = ev.select(
                "user_id",
                F.to_date(F.date_format("ts", "yyyy-MM-dd")).alias("dt"),
            ).distinct()
            mx = a.agg(F.max("dt").alias("mxd"))
            m = (
                a.select(
                    "user_id",
                    F.explode(
                        F.sequence(F.col("dt"), F.date_add(F.col("dt"), 27))
                    ).alias("d"),
                )
                .join(F.broadcast(mx), F.lit(True), "left")
                .filter(F.col("d") <= F.col("mxd"))
                .groupBy("d")
                .agg(F.count_distinct("user_id").alias("mau"))
            )
            row["stickiness_days"] = m.count()

        def run_new_ret():
            a = ev.select(
                "user_id", F.date_format("ts", "yyyy-MM-dd").alias("dt")
            ).distinct()
            f = a.groupBy("user_id").agg(F.min("dt").alias("first_dt"))
            j = a.join(f, "user_id").select(
                "dt",
                (F.col("dt") == F.col("first_dt")).cast("int").alias(
                    "is_new"
                ),
            )
            row["newret_days"] = (
                j.groupBy("dt").agg(F.sum("is_new")).count()
            )

        if want("stickiness"):
            row["stickiness_s"] = timed(run_stickiness)
        if want("new_vs_returning"):
            row["new_vs_returning_s"] = timed(run_new_ret)
        if ev is not None:
            ev.unpersist()

        ords = None
        if any(want(t) for t in ("churn", "kaplan_meier", "target_encode",
                                 "conformal")):
            ords = scaled_orders(spark, sf_dir, k).persist()
            row["n_orders"] = ords.count()

        def run_churn():
            o = ords.select(
                "o_custkey",
                F.to_date("o_orderdate").alias("od"),
                F.col("o_totalprice").cast("decimal(18,6)").alias("rev"),
            )
            mx = o.agg(F.max("od").alias("mxd"))
            c = (
                o.join(F.broadcast(mx), F.lit(True), "left")
                .groupBy("o_custkey")
                .agg(
                    F.datediff(F.first("mxd"), F.max("od")).alias("gap"),
                    F.sum("rev").alias("revenue"),
                )
            )
            row["churn_bands"] = (
                c.groupBy((F.col("gap") > 90).cast("int")).count().count()
            )

        if want("churn"):
            row["churn_s"] = timed(run_churn)

        def run_km():
            # K x customers, same calendar: gaps per customer via one
            # keyed lead window, then the two prefix-sum passes over a
            # (distinct durations)-sized frame — growth should be the
            # window's, ~linear in orders
            from pyspark.sql.window import Window as W

            d = F.to_date("o_orderdate")
            w = W.partitionBy("o_custkey").orderBy(d)
            mx = ords.groupBy().agg(F.max(d).alias("maxd"))
            durs = (
                ords.select(d.alias("d"), F.lead(d).over(w).alias("nd"))
                .crossJoin(F.broadcast(mx))
                .select(
                    F.when(F.col("nd").isNull(), F.datediff("maxd", "d"))
                    .otherwise(F.datediff("nd", "d")).alias("dur"),
                    F.when(F.col("nd").isNull(), 0).otherwise(1).alias(
                        "event"
                    ),
                )
            )
            row["km_steps"] = sv.kaplan_meier(durs, "dur", "event").count()

        def run_te():
            fact = ords.select(
                (F.col("o_custkey") % 25).alias("key"),
                ((F.col("o_custkey") / 25).cast("long") % 5).cast("int")
                .alias("fold"),
                F.col("o_totalprice").alias("t"),
            )
            row["te_rows"] = ml.target_encode_oof(
                fact, "key", "fold", "t"
            ).count()

        def run_conformal():
            fact = ords.select(
                (F.col("o_custkey") % 25).alias("key"),
                ((F.col("o_custkey") / 25).cast("long") % 3).cast("int")
                .alias("fold"),
                F.col("o_totalprice").alias("y"),
            )
            row["conformal_keys"] = ml.conformal_split(
                fact, "key", "fold", "y"
            ).count()

        if want("kaplan_meier"):
            row["kaplan_meier_s"] = timed(run_km)
        if want("target_encode"):
            row["target_encode_s"] = timed(run_te)
        if want("conformal"):
            row["conformal_s"] = timed(run_conformal)
        if ords is not None:
            ords.unpersist()
        spark.catalog.clearCache()
        report.append(row)
        print(json.dumps(row))
    print(json.dumps({"scaling": report}))


if __name__ == "__main__":
    main()
