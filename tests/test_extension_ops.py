"""Extension-operator property tests beyond oracle parity: plan-shape
guarantees (the scale contracts) and approximate-path containment in the
exact baseline."""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparkstreaming_realtime_project_spark.operators import dedup as dd
from sparkstreaming_realtime_project_spark.operators import similarity as sim
from sparkstreaming_realtime_project_spark.sources.batch import load_table


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_simhash_near_pairs_is_equi_join(spark, sf_dir):
    """The pigeonhole candidate join must plan as a hash/sort-merge
    equi-join — an OR-of-equalities condition degrades to a nested-loop/
    cartesian plan, the scale-killer the segment explode avoids."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.simhash_near_pairs(docs, "text", "doc_id")
    plan = _physical_plan(pairs)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    pairs.collect()  # and it actually runs


def test_simhash_pigeonhole_complete(spark, sf_dir):
    """max_hamming+1 segments guarantee NO pair with hamming <= max is
    missed (2 halves only cover hamming <= 1): compare against the
    exhaustive cross-join ground truth on a small corpus."""
    docs = load_table(spark, sf_dir, "documents").limit(120).cache()
    fast = {
        (r["doc_a"], r["doc_b"])
        for r in dd.simhash_near_pairs(docs, "text", "doc_id", max_hamming=2).collect()
    }
    sig = docs.select(
        F.col("doc_id").alias("id"), dd.simhash_expr("text", 16).alias("sig")
    )
    a, b = sig.alias("a"), sig.alias("b")
    hamming = F.expr(
        "aggregate(sequence(1, 16), 0, (acc, i) -> acc + "
        "IF(substring(a.sig, i, 1) = substring(b.sig, i, 1), 0, 1))"
    )
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .withColumn("h", hamming)
        .filter(F.col("h") <= 2)
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .collect()
    }
    assert fast == truth


def test_embedding_bucketed_contained_in_bruteforce(spark, sf_dir):
    """LSH-bucketed near-dup pairs must be a subset of the exact
    brute-force pairs at the same threshold (precision 1, recall < 1)."""
    emb = load_table(spark, sf_dir, "embeddings")
    brute = {
        (r["vec_a"], r["vec_b"]) for r in sim.cosine_near_pairs(emb, 0.45).collect()
    }
    bucketed = {
        (r["vec_a"], r["vec_b"])
        for r in sim.cosine_near_pairs_bucketed(emb, 0.45).collect()
    }
    assert bucketed <= brute
    assert bucketed, "bucketed path found no pairs at all — bucketing broken"


def test_embedding_bucketed_plan_joins_on_bucket(spark, sf_dir):
    """The default near-dup path must join on the bucket key — never a
    cartesian pair join."""
    emb = load_table(spark, sf_dir, "embeddings")
    plan = _physical_plan(sim.cosine_near_pairs_bucketed(emb, 0.45))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_knn_multiprobe_improves_recall(spark, sf_dir):
    """Multi-probe candidates strictly include the single-probe bucket, so
    recall vs the exact brute-force top-k can only go up."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)

    def topk(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    truth = topk(sim.knn_bruteforce(emb, queries, k=3))
    single = topk(sim.knn_bucketed(emb, queries, k=3))
    multi = topk(sim.knn_bucketed(emb, queries, k=3, probe_radius=1))

    def recall(approx):
        hits = sum(len(approx.get(q, set()) & t) for q, t in truth.items())
        return hits / sum(len(t) for t in truth.values())

    assert recall(multi) >= recall(single)
    # multi-probe answers queries whose home bucket was empty of neighbors
    assert len(multi) >= len(single)


def test_ivf_centroids_deterministic_and_recall(spark, sf_dir):
    """IVF: centroid training is deterministic (seeded by id, no RNG);
    recall vs brute-force is monotonic in n_probe and reaches 1.0 when
    every list is probed."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    c1 = sim.ivf_centroids(emb, n_centroids=4, iters=2)
    c2 = sim.ivf_centroids(emb, n_centroids=4, iters=2)
    assert c1 == c2

    def topk(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    truth = topk(sim.knn_bruteforce(emb, queries, k=3))

    def recall(approx):
        hits = sum(len(approx.get(q, set()) & t) for q, t in truth.items())
        return hits / sum(len(t) for t in truth.values())

    r1 = recall(topk(sim.ivf_topk(emb, queries, c1, k=3, n_probe=1)))
    r2 = recall(topk(sim.ivf_topk(emb, queries, c1, k=3, n_probe=2)))
    r_all = recall(topk(sim.ivf_topk(emb, queries, c1, k=3, n_probe=4)))
    assert r1 <= r2 <= r_all
    assert r_all == 1.0  # probing every inverted list IS brute force


def test_ivf_centroids_high_dim_no_plan_blowup(spark):
    """Centroid means at d=256: the posexplode->groupBy(cid,pos) aggregate
    keeps the plan O(1) in dimensionality (a per-dim avg(element_at)
    expression list is thousands of aggregate expressions at real
    embedding dims — codegen/plan-size failure)."""
    d, n = 256, 48
    vecs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(d)),
            lambda i: F.cos(F.col("id") * i).cast("double"),
        ).alias("embedding"),
    )
    cents = sim.ivf_centroids(vecs, n_centroids=4, iters=2)
    assert len(cents) == 4 and all(len(c) == d for c in cents)
    # quantized training is reproducible bit-for-bit
    assert cents == sim.ivf_centroids(vecs, n_centroids=4, iters=2)


def test_jaccard_df_cap_drops_only_boilerplate(spark, sf_dir):
    """With the df cap, every surviving pair of the uncapped run whose
    overlap includes at least one low-df shingle is still found: on this
    corpus the capped and uncapped answers agree (near-dup pairs share
    rare shingles by construction)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dd.with_shingles(docs, "text", "doc_id", 3)
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in dd.jaccard_pairs(sh, 0.8, max_df=10).collect()
    }
    uncapped = {
        (r["doc_a"], r["doc_b"]) for r in dd.jaccard_pairs(sh, 0.8).collect()
    }
    assert capped == uncapped


def test_jaccard_cap_verifies_on_full_sets(spark):
    """The df cap must only limit CANDIDATE generation — the jaccard score
    is verified on the full shingle sets. 12 identical docs: with cap 50
    all 66 pairs surface at jaccard 1.0; with cap 5 the cluster's shared
    shingles (df=12) generate no candidates at all — the documented
    trade-off of df-capping, which is why MinHash-LSH stays the primary
    scale path."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(12)],
        "doc_id long, text string",
    )
    sh = dd.with_shingles(docs, "text", "doc_id", 3)
    found = dd.jaccard_pairs(sh, 0.8, max_df=50).collect()
    assert len(found) == 66  # C(12,2)
    assert all(r["jaccard"] == 1.0 for r in found)  # FULL-set verify
    assert dd.jaccard_pairs(sh, 0.8, max_df=5).count() == 0  # cluster > cap


def test_lsh_bucket_cap_keeps_pairs(spark, sf_dir):
    """The hot-bucket cap must not lose the true near-dup pairs on the
    test corpus (true clusters are far below the cap)."""
    docs = load_table(spark, sf_dir, "documents")
    with_cap = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_dedup_pairs(
            docs, "text", "doc_id", threshold=0.8, max_bucket=50
        ).collect()
    }
    without = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.8).collect()
    }
    assert with_cap == without


# ---------------------------------------------------------------------------
# Corpus-construction operators: clustering, sampling, quality, packing.
# ---------------------------------------------------------------------------


def test_connected_components_transitive_closure(spark):
    """a-b, b-c, plus an isolated edge and singletons: labels must be the
    min id of the full component, not just the direct neighbor."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["doc_a", "doc_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]], ["id"])
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dd.connected_components(pairs, nodes).collect()
    }
    assert got == {
        1: (1, 1), 2: (1, 0), 3: (1, 0), 4: (1, 0),
        10: (10, 1), 11: (10, 0), 99: (99, 1),
    }


def test_connected_components_string_ids_multi_hop(spark):
    """String doc ids over a 5-node chain (diameter 4, needs >1 round):
    the convergence probe must work on non-numeric labels — a
    sum(label)-based probe is null for strings, exits after one hop, and
    silently under-merges (the exact regression this guards)."""
    chain = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    pairs = spark.createDataFrame(chain, ["doc_a", "doc_b"])
    nodes = spark.createDataFrame([(x,) for x in "abcdex"], ["id"])
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dd.connected_components(pairs, nodes).collect()
    }
    assert got == {
        "a": ("a", 1), "b": ("a", 0), "c": ("a", 0),
        "d": ("a", 0), "e": ("a", 0), "x": ("x", 1),
    }


def test_connected_components_no_pairs(spark):
    nodes = spark.createDataFrame([(i,) for i in range(5)], ["id"])
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    rows = dd.connected_components(empty, nodes).collect()
    assert all(r["cluster_id"] == r["doc_id"] and r["is_canonical"] == 1 for r in rows)
    assert len(rows) == 5


def test_stratified_sample_deterministic_and_rate(spark, sf_dir):
    from sparkstreaming_realtime_project_spark.operators import corpus as cx

    docs = load_table(spark, sf_dir, "documents")
    a = {r["doc_id"] for r in cx.stratified_sample(docs, "lang", "doc_id", {"en": 0.1}).collect()}
    b = {r["doc_id"] for r in cx.stratified_sample(docs, "lang", "doc_id", {"en": 0.1}).collect()}
    assert a == b  # reproducible
    n_en = docs.filter("lang = 'en'").count()
    kept_en = (
        docs.filter("lang = 'en'")
        .join(spark.createDataFrame([(i,) for i in a], ["doc_id"]), "doc_id")
        .count()
    )
    # 10% +- generous binomial slack; every non-en row kept (default 1.0)
    assert kept_en < n_en * 0.25
    assert docs.filter("lang <> 'en'").count() == len(
        a - {r["doc_id"] for r in docs.filter("lang = 'en'").select("doc_id").collect()}
    )


def test_pack_greedy_bins_respect_budget(spark, sf_dir):
    """Contiguous-fill invariant: every bin's PRE-overflow total is under
    budget — a bin only exceeds the budget by (part of) its last doc."""
    from sparkstreaming_realtime_project_spark.operators import corpus as cx

    docs = load_table(spark, sf_dir, "documents")
    packed = cx.pack_greedy(docs, "text", "doc_id", budget=256, partition_col="lang")
    bad = (
        packed.groupBy("part", "bin_id")
        .agg(F.sum("n_tokens").alias("tot"), F.max("n_tokens").alias("mx"))
        .filter((F.col("tot") - F.col("mx")) >= 256 + 256)  # > budget + one doc slack
        .count()
    )
    assert bad == 0
    # bins are dense from 0 within each partition
    per_part = packed.groupBy("part").agg(
        F.min("bin_id").alias("lo"), F.countDistinct("bin_id").alias("n"),
        F.max("bin_id").alias("hi"),
    )
    assert all(r["lo"] == 0 and r["hi"] == r["n"] - 1 for r in per_part.collect())


def test_quality_filter_kept_is_conjunction(spark, sf_dir):
    from sparkstreaming_realtime_project_spark.operators import corpus as cx

    docs = load_table(spark, sf_dir, "documents")
    qf = cx.quality_filter(docs, "text", "doc_id")
    assert (
        qf.filter(
            F.col("kept")
            != F.col("long_enough") * F.col("not_boilerplate") * F.col("sane_token_len")
        ).count()
        == 0
    )
    kept = qf.filter("kept = 1").count()
    assert 0 < kept < docs.count()  # the gate is non-vacuous on the corpus


def test_pii_scrub_redacts_and_counts(spark):
    """Crafted PII rows: each category redacted with its typed tag,
    counted on the text as left by the PREVIOUS stage (an email's
    digits never double-count as a phone), and PII-free text passes
    through byte-identical."""
    from sparkstreaming_realtime_project_spark.operators.corpus import pii_scrub

    rows = [
        (1, "mail a@b.co or x.y_z%q+1@mail.example.org end"),
        (2, "server at 10.0.0.1 and 192.168.255.254 ports"),
        (3, "call +1-555-123-4567 or 07700 900123 today"),
        (4, "combo a@b.co 10.0.0.1 +44-20-7946-0958 a@b.co"),
        (5, "plain text with number 42 and v1.2.3 nothing else"),
    ]
    out = {
        r["doc_id"]: r
        for r in pii_scrub(
            spark.createDataFrame(rows, ["doc_id", "text"]), "text", "doc_id"
        ).collect()
    }
    assert out[1]["text"] == "mail <EMAIL> or <EMAIL> end"
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (2, 0, 0)
    assert out[2]["text"] == "server at <IP> and <IP> ports"
    assert out[2]["n_ipv4"] == 2
    assert out[3]["text"] == "call <PHONE> or <PHONE> today"
    assert out[3]["n_phone"] == 2
    assert (out[4]["n_email"], out[4]["n_ipv4"], out[4]["n_phone"]) == (2, 1, 1)
    assert out[5]["text"] == rows[4][1] and out[5]["n_phone"] == 0


def test_temperature_resample_rates(spark, sf_dir):
    """alpha=1 keeps everything (natural mix); alpha=0.5 keeps the
    minority stratum whole and downsamples larger strata at measured
    rates close to (n_s/n_min)^-0.5."""
    from sparkstreaming_realtime_project_spark.operators.corpus import (
        temperature_resample,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    assert temperature_resample(docs, "lang", "doc_id", alpha=1.0).count() == n

    kept = temperature_resample(docs, "lang", "doc_id", alpha=0.5)
    before = {r["lang"]: r["cnt"] for r in
              docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    after = {r["lang"]: r["cnt"] for r in
             kept.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    n_min = min(before.values())
    min_lang = [k for k, v in before.items() if v == n_min][0]
    # minority stratum: keep_rate 1.0 -> all rows survive
    assert after[min_lang] == before[min_lang]
    for lang, b in before.items():
        want = (b / n_min) ** -0.5
        got = after[lang] / b
        assert abs(got - want) < 0.15, (lang, got, want)


def test_pq_shortlist_rerank_recall(spark, sf_dir):
    """PQ codes + ADC shortlist + exact re-rank: the shortlist stage
    never touches raw vectors (codes-only join), re-rank touches |Q|xR
    rows, and recall@3 against brute force clears 0.6 on the synthetic
    corpus (random-ish vectors are PQ's worst case; the R knob is the
    recovery path)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    books = sim.pq_codebooks(emb, m=16, k=16, iters=2)
    assert len(books) == 16 and len(books[0]) == 16 and len(books[0][0]) == 4
    out = sim.pq_topk(emb, q, books, k=3, rerank=25)
    plan = _physical_plan(out)
    assert "CartesianProduct" not in plan
    got = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
    bf = {(r["query_id"], r["neighbor_id"])
          for r in sim.knn_bruteforce(emb, q, k=3).collect()}
    assert len(got & bf) / len(bf) >= 0.6
    # deterministic: retrain + requery reproduces exactly
    books2 = sim.pq_codebooks(emb, m=16, k=16, iters=2)
    assert books2 == books


def test_duplicate_spans_merges_adjacent_windows(spark):
    """Two docs share one 12-token block (5 overlapping 8-gram starts ->
    ONE merged span) plus a disjoint repeated 8-gram later in doc 1 ->
    its own span; unique text produces no spans at all."""
    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    tail8 = "nov osc pap que rom sie tan uni"
    d1 = f"{shared} filler1 filler2 filler3 {tail8}"
    d2 = f"intro1 intro2 {shared}"
    d3 = f"prefixx {tail8} trailing words here again"
    d4 = "totally unique words that appear nowhere else at all one two"
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4)], ["doc_id", "text"]
    )
    from sparkstreaming_realtime_project_spark.operators.dedup import (
        duplicate_spans,
    )

    rows = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_grams"])
        for r in duplicate_spans(df, "text", "doc_id", k=8).collect()
    }
    # shared block: 12 tokens -> starts 1..5 in doc 1 (span 1-12), starts
    # 3..7 in doc 2 (span 3-14); tail8: 1 start each in docs 1 and 3.
    assert rows == {
        (1, 1, 12, 5),
        (2, 3, 14, 5),
        (1, 16, 23, 1),
        (3, 2, 9, 1),
    }


def test_scrub_repeated_spans_owner_keeps_copy(spark):
    """Apply step on the duplicate_spans fixture: per-window owner = min
    doc_id keeps its copy, every other doc's covered tokens drop. Doc 1
    owns both repeated blocks (untouched); doc 2 loses the shared block,
    doc 3 loses the tail gram; unique doc 4 passes through."""
    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    tail8 = "nov osc pap que rom sie tan uni"
    d1 = f"{shared} filler1 filler2 filler3 {tail8}"
    d2 = f"intro1 intro2 {shared}"
    d3 = f"prefixx {tail8} trailing words here again"
    d4 = "totally unique words that appear nowhere else at all one two"
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4)], ["doc_id", "text"]
    )
    from sparkstreaming_realtime_project_spark.operators.dedup import (
        scrub_repeated_spans,
    )

    rows = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in scrub_repeated_spans(df, "text", "doc_id", k=8).collect()
    }
    assert rows[1] == (d1, 23, 0)  # owner of every span: byte-identical
    assert rows[2] == ("intro1 intro2", 14, 12)
    assert rows[3] == ("prefixx trailing words here again", 13, 8)
    assert rows[4] == (d4, 11, 0)


def test_bloom_semi_join_exact_and_pruning(spark, sf_dir):
    """No false negatives ever (bloom passes every true key), the final
    semi join kills the false positives (result == plain semi join), and
    the scan-stage filter prunes the clear majority of non-matching
    rows before any shuffle."""
    from sparkstreaming_realtime_project_spark.operators import joins as jn

    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 10 == 3)
        .select("s_suppkey")
    )
    got = jn.bloom_semi_join(li, dim, "l_suppkey", "s_suppkey", m_bits=1 << 10)
    want = li.join(
        dim.withColumnRenamed("s_suppkey", "l_suppkey"), "l_suppkey", "left_semi"
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # pruning power: the bloom predicate alone keeps < 30% of rows at
    # 10% true selectivity and m=10x keys (FPR ~1-2%)
    bits = jn.bloom_bitmap(dim, "s_suppkey", m_bits=1 << 10)
    kept = li.filter(
        jn.bloom_might_contain(F.col("l_suppkey"), bits, 1 << 10)
    ).count()
    assert kept < li.count() * 0.3


def test_unigram_logprob_hand_computed(spark):
    """3-doc corpus: 6 'a', 1 'b', 1 'c' -> p(a)=6/8, p(b)=p(c)=1/8;
    doc 3 = [a, b] scores (-ln(6/8) - ln(1/8)) / 2."""
    import math

    from sparkstreaming_realtime_project_spark.operators.textstats import (
        unigram_logprob,
    )

    df = spark.createDataFrame(
        [(1, "a a a"), (2, "a a c"), (3, "a b")], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_neg_logp"])
        for r in unigram_logprob(df, "text", "doc_id").collect()
    }
    exp3 = round(-(math.log(6 / 8) + math.log(1 / 8)) / 2, 4)
    exp1 = round(-math.log(6 / 8), 4)
    exp2 = round(-(2 * math.log(6 / 8) + math.log(1 / 8)) / 3, 4)
    assert got == {1: (3, exp1), 2: (3, exp2), 3: (2, exp3)}


def test_ann_recall_math(spark):
    """Known truth/approx sets: full hit, partial, and a query the
    approximate index missed entirely (must appear with recall 0)."""
    from sparkstreaming_realtime_project_spark.operators.similarity import ann_recall

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 99)],
        "query_id long, neighbor_id long",
    )
    got = {r["query_id"]: (r["n_truth"], r["n_hits"], r["recall"])
           for r in ann_recall(truth, approx).collect()}
    assert got == {1: (2, 2, 1.0), 2: (2, 1, 0.5), 3: (1, 0, 0.0)}


def test_mixture_plan_invariants(spark):
    """Weights sum to 1, targets respect the budget, the over-budget
    stratum is capped at max_epochs with the cap flagged."""
    from sparkstreaming_realtime_project_spark.operators.corpus import mixture_plan

    rows = [(i, "a b c d e f g h i j", "big") for i in range(100)]
    rows += [(1000 + i, "k l", "tiny") for i in range(2)]
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    plan = {r["stratum"]: r for r in mixture_plan(
        df, "src", "text", "doc_id", budget_tokens=2_000, alpha=0.5,
        max_epochs=4.0).collect()}
    assert plan["big"]["n_tokens"] == 1000 and plan["tiny"]["n_tokens"] == 4
    assert abs(plan["big"]["weight"] + plan["tiny"]["weight"] - 1.0) < 1e-6
    total_target = sum(r["target_tokens"] for r in plan.values())
    assert total_target <= 2_000
    # tiny stratum: target ~10000*w >> 4 tokens -> capped at 4 epochs
    assert plan["tiny"]["epochs"] == 4.0 and plan["tiny"]["capped"] == 1
    assert plan["big"]["capped"] == 0


def test_zorder_key_interleave(spark):
    """Hand-computed Morton keys on a 2-bit grid, plus monotone cell
    mapping of range endpoints."""
    from sparkstreaming_realtime_project_spark.operators.layout import zorder_key

    # x,y in [0,3] with bits=2: cells are the values themselves
    df = spark.createDataFrame(
        [(0, 0), (3, 3), (2, 1), (3, 0)], "x long, y long"
    )
    got = {(r["x"], r["y"]): (r["cell_x"], r["cell_y"], r["zkey"])
           for r in zorder_key(df, ["x", "y"], bits=2).collect()}
    # bit i of x -> position 2i; bit i of y -> position 2i+1
    assert got[(0, 0)] == (0, 0, 0)
    assert got[(3, 3)] == (3, 3, 15)          # 1111
    assert got[(2, 1)] == (2, 1, 0b0110)      # x=10 -> pos 0,2 = 100; y=01 -> pos 1 = 10
    assert got[(3, 0)] == (3, 0, 0b0101)


def test_cluster_by_zorder_layout(spark):
    """Range partitions carry disjoint, contiguous zkey ranges and the
    helper columns are dropped."""
    from sparkstreaming_realtime_project_spark.operators.layout import (
        cluster_by_zorder,
        zorder_key,
    )

    df = spark.range(0, 256).select(
        (F.col("id") % 16).alias("x"), (F.col("id") / 16).cast("long").alias("y")
    )
    out = cluster_by_zorder(df, ["x", "y"], n_partitions=4, bits=4)
    assert set(out.columns) == {"x", "y"}
    keyed = zorder_key(df, ["x", "y"], bits=4).select("zkey")
    parts = (
        keyed.repartitionByRange(4, F.col("zkey"))
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.min("zkey").alias("lo"), F.max("zkey").alias("hi"))
        .orderBy("pid")
        .collect()
    )
    for prev, cur in zip(parts, parts[1:]):
        assert prev["hi"] < cur["lo"]


def test_cms_estimate_unseen_key_is_zero(spark):
    """A key absent from the sketched data must estimate 0 (not vanish,
    not inherit a colliding cell's mass): min over its d cells where
    absent cells count as empty."""
    from sparkstreaming_realtime_project_spark.operators import sketches as sk

    data = spark.createDataFrame([(f"u{i % 7}",) for i in range(700)], "k string")
    sketch = sk.cms_sketch(data, "k", d=4, w=64)
    probes = spark.createDataFrame([("u1",), ("never-seen",)], "k string")
    got = {r["k"]: r["est"] for r in sk.cms_estimate(probes, sketch, "k", d=4, w=64).collect()}
    assert got["u1"] == 100
    assert "never-seen" in got and got["never-seen"] == 0


def test_sql_literal_seeds_hash_the_same_bytes_on_both_branches(spark):
    """token_md5s and cms_sketch splice a plain seed/salt into parsed
    SQL; a seed holding a backslash or a quote takes the Column branch.
    Either way the hashed bytes are exactly the caller's, whether or not
    the parser unescapes backslashes (escapedStringLiterals)."""
    import hashlib

    from sparkstreaming_realtime_project_spark.operators import sketches as sk

    def md5(text: str) -> str:
        return hashlib.md5(text.encode()).hexdigest()

    df = spark.createDataFrame(
        [(["x", "y"], "k1")], "toks array<string>, k string"
    )
    exotic = df.withColumnRenamed("k", "k-1")
    conf = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(conf)
    try:
        for raw in ("false", "true"):
            spark.conf.set(conf, raw)
            for seed in ("s1", "a\\b", "it's"):
                want = [md5(seed + t) for t in ("x", "y")]
                for col in ("toks", F.col("toks")):
                    got = df.select(dd.token_md5s(col, seed).alias("h"))
                    assert got.first()["h"] == want, (raw, seed, col)
                cells = {
                    (j, int(md5(f"{seed}{j}:k1")[:8], 16) % 64, 1)
                    for j in range(4)
                }
                for frame, key in ((df, "k"), (exotic, "k-1")):
                    got = sk.cms_sketch(frame, key, d=4, w=64, salt=seed)
                    assert {tuple(r) for r in got.collect()} == cells, (
                        raw, seed, key,
                    )
    finally:
        spark.conf.set(conf, old)


_LITERAL = st.lists(  # quotes, backslashes, escape-looking pairs, variables, any UTF-8 text
    st.sampled_from(["'", "\\", '"', "\\'", "\\n", "\\u0041", "${spark.app.name}"])
    | st.characters(exclude_categories=("Cs",)),
    max_size=8,
).map("".join)


@given(seed=_LITERAL, salt=_LITERAL)
@example(seed="${spark.app.name}", salt="${system:user.name}")
@settings(max_examples=6, deadline=None)  # 4 Spark jobs per example
def test_sql_literal_seeds_hash_the_callers_bytes(spark, seed, salt):
    """Property form of the example above, over any seed and salt. A
    ``${...}`` seed or salt hashes as written: the parser's variable
    substitution must not rewrite it into a conf or JVM property."""
    import hashlib

    from sparkstreaming_realtime_project_spark.operators import sketches as sk

    def md5(text: str) -> str:
        return hashlib.md5(text.encode()).hexdigest()

    df = spark.createDataFrame([(["x", "小米"], "k1")], "toks array<string>, k string")
    cells = [(j, int(md5(f"{salt}{j}:k1")[:8], 16) % 64, 1) for j in range(4)]
    conf = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(conf)
    try:
        for raw in ("false", "true"):
            spark.conf.set(conf, raw)
            toks = df.select(dd.token_md5s("toks", seed), dd.token_md5s(F.col("toks"), seed))
            assert list(toks.first()) == [[md5(seed + t) for t in ("x", "小米")]] * 2, raw
            both = sk.cms_sketch(df, "k", d=4, w=64, salt=salt).unionByName(
                sk.cms_sketch(df.withColumnRenamed("k", "k-1"), "k-1", d=4, w=64, salt=salt)
            )
            assert sorted(map(tuple, both.collect())) == sorted(cells * 2), raw
    finally:
        spark.conf.set(conf, old)


def test_tokens_expr_splits_under_either_parser_setting(spark):
    """The parsed ``tokens_expr`` splits on whitespace with
    escapedStringLiterals on too: a raw r'\\s+' literal kept its opening
    quote there and split nothing, so every parsed tokenizer read a
    document as one token."""
    df = spark.createDataFrame([("a b\tc",)], "s string")
    conf = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(conf)
    try:
        for raw in ("false", "true"):
            spark.conf.set(conf, raw)
            got = df.select(dd.tokens_expr("s"), dd.tokens_expr(F.col("s"))).first()
            assert list(got) == [["a", "b", "c"]] * 2, raw
    finally:
        spark.conf.set(conf, old)


def test_suffix_runs_to_spans_pair_cols_named_like_fold_fields(spark):
    """Pair columns named s/e or bmin/bmax (the fold's old field names)
    give the same spans as any other names."""
    rows = [(1, 2, pa, pa + 10, -10) for pa in (1, 2, 3, 4, 5, 20, 21)]
    matches = spark.createDataFrame(
        rows, "doc_a long, doc_b long, pa int, pb int, diag int"
    )
    want = sorted(
        tuple(r)
        for r in dd.suffix_runs_to_spans(
            matches, 3, 4, ["doc_a", "doc_b"]
        ).collect()
    )
    assert want == [(1, 2, 1, 7, 11, 17, 7), (1, 2, 20, 23, 30, 33, 4)]
    for a, b in (("s", "e"), ("bmin", "bmax")):
        renamed = matches.withColumnRenamed("doc_a", a).withColumnRenamed(
            "doc_b", b
        )
        got = dd.suffix_runs_to_spans(renamed, 3, 4, [a, b])
        assert got.columns[:2] == [a, b]
        assert sorted(tuple(r) for r in got.collect()) == want


def test_quantile_hist_ignores_nulls(spark):
    """NULL values must not inflate N or form a phantom bin."""
    from sparkstreaming_realtime_project_spark.operators import sketches as sk

    rows = [(float(v),) for v in range(1, 101)] + [(None,)] * 50
    df = spark.createDataFrame(rows, "v double")
    got = {r["q"]: r["est"] for r in sk.quantile_hist(df, "v", width=1.0, qs=[0.5]).collect()}
    # 100 non-null values 1..100: p50 target rank 50 -> bin [50,51)
    assert abs(got[0.5] - 50.0) <= 1.0


def test_semantic_dedup_within_cluster_lowest_id_keeps(spark):
    """Clusters bound the comparison: a near-identical pair in one
    cluster keeps only its lowest id; the first member of every cluster
    has no lower-id neighbor (null sim); similar vectors in DIFFERENT
    clusters are never compared (the SemDeDup recall trade)."""
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),    # cluster 0, first member
        (2, [0.99, 0.01, 0.0, 0.0]),  # cluster 0, ~dup of 1 -> dropped
        (3, [0.0, 1.0, 0.0, 0.0]),    # cluster 1, first member
        (4, [0.0, 0.9, 0.1, 0.0]),    # cluster 1, ~dup of 3 -> dropped
        (5, [0.6, 0.8, 0.0, 0.0]),    # cluster 1, far from 3/4 -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {
        r["vec_id"]: (r["cid"], r["keep"], r["max_sim_lower"])
        for r in sim.semantic_dedup(df, cents, threshold=0.95).collect()
    }
    assert got[1] == (0, 1, None)
    assert got[3] == (1, 1, None)
    assert got[2][0] == 0 and got[2][1] == 0 and got[2][2] >= 0.99
    assert got[4][0] == 1 and got[4][1] == 0 and got[4][2] >= 0.99
    assert got[5][0] == 1 and got[5][1] == 1 and got[5][2] < 0.95


def test_dsir_weights_prefer_target_like_docs(spark):
    """Disjoint vocabularies: an UNLABELED doc written in the target
    vocabulary must outscore (and out-select) docs written in the
    background vocabulary — the importance-resampling signal."""
    from sparkstreaming_realtime_project_spark.operators import corpus as cx

    tgt = "quantum proton neutron lepton boson"
    bg = "recipe butter flour sugar oven"
    rows = (
        [(i, tgt, "sci") for i in range(1, 5)]
        + [(i, bg, "food") for i in range(5, 12)]
        + [(100, tgt, "unlabeled"), (101, bg, "unlabeled")]
    )
    df = spark.createDataFrame(rows, "doc_id int, text string, domain string")
    got = {
        r["doc_id"]: (r["dsir_logratio"], r["selected"], r["in_target"])
        # 64 buckets: add-1 smoothing at the default 256 would swamp
        # this 65-token corpus and push every score negative
        for r in cx.dsir_weights(
            df, "text", "doc_id", F.col("domain") == "sci", n_buckets=64
        ).collect()
    }
    assert got[100][0] > got[101][0]
    assert got[100][1] == 1 and got[100][2] == 0  # target-like, unlabeled
    assert got[101][1] == 0
    assert all(got[i][1] == 1 for i in range(1, 5))
    assert all(got[i][1] == 0 for i in range(5, 12))


def test_cross_dedup_flags(spark):
    """Constructed train/holdout corpus: an exact copy is exact_dup (and
    near_dup — identical shingle sets verify at jaccard 1.0), a one-word
    edit of a long doc is near-only, an unrelated doc keeps."""
    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(("EDIT" if i == 20 else f"w{i}") for i in range(40))
    train = spark.createDataFrame(
        [(0, base), (2, near), (4, "completely different text here")],
        ["doc_id", "text"],
    )
    holdout = spark.createDataFrame(
        [(1, base), (3, "another unrelated holdout document")],
        ["doc_id", "text"],
    )
    out = dd.cross_dedup(train, holdout, "text", "doc_id", max_bucket=50)
    rows = {r["doc_id"]: r for r in out.collect()}
    out.unpersist()
    assert rows[0]["exact_dup"] and not rows[0]["keep"]
    assert rows[2]["near_dup"] and not rows[2]["exact_dup"] and not rows[2]["keep"]
    assert rows[4]["keep"] and not rows[4]["exact_dup"] and not rows[4]["near_dup"]


def test_cross_dedup_candidates_are_equi_join(spark, sf_dir):
    """The cross-corpus LSH candidate join must stay an equi-join on
    (band, key) — no cartesian anywhere in the plan."""
    docs = load_table(spark, sf_dir, "documents")
    out = dd.cross_dedup(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "text",
        "doc_id",
        max_bucket=50,
    )
    plan = _physical_plan(out)
    out.unpersist()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_hard_negatives_label_constraint(spark, sf_dir):
    """Every mined negative must carry a label different from its
    query's, ranks are dense 1..k, and similarity is non-increasing."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = sim.hard_negatives(emb, emb.filter(F.col("vec_id") < 3), k=4)
    labels = {r["vec_id"]: r["label"] for r in emb.filter(F.col("vec_id") < 3).collect()}
    rows = out.collect()
    by_q = {}
    for r in rows:
        assert r["neighbor_label"] != labels[r["query_id"]]
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["sim"]))
    for q, rs in by_q.items():
        rs.sort()
        assert [r[0] for r in rs] == list(range(1, len(rs) + 1))
        sims = [r[1] for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_score_bucket_sample_properties(spark):
    """Buckets are monotone in score with ties sharing a bucket, the
    selection is deterministic across invocations, and per-bucket rates
    bind (rate-1.0 buckets keep everything)."""
    from sparkstreaming_realtime_project_spark.operators import corpus as cx

    rows = [(i, float(i // 10)) for i in range(100)]  # 10-way ties
    df = spark.createDataFrame(rows, ["doc_id", "score"])
    out = cx.score_bucket_sample(
        df, "score", "doc_id", n_buckets=4, rates={1: 0.5, 4: 0.0}
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(r["bucket"] for r in got.values()) == {1, 2, 3, 4}
    by_score = sorted((r["score"], r["bucket"]) for r in got.values())
    assert all(b1 <= b2 for (_, b1), (_, b2) in zip(by_score, by_score[1:]))
    same_score_buckets = {}
    for r in got.values():
        same_score_buckets.setdefault(r["score"], set()).add(r["bucket"])
    assert all(len(bs) == 1 for bs in same_score_buckets.values())
    assert all(r["sampled"] == 0 for r in got.values() if r["bucket"] == 4)
    assert all(r["sampled"] == 1 for r in got.values() if r["bucket"] in (2, 3))
    again = {r["doc_id"]: r["sampled"] for r in cx.score_bucket_sample(
        df, "score", "doc_id", n_buckets=4, rates={1: 0.5, 4: 0.0}
    ).collect()}
    assert again == {k: v["sampled"] for k, v in got.items()}


def test_weighted_sample_properties(spark, sf_dir):
    """Weight-proportional inclusion (heavier docs overrepresented: the
    sample's mean weight exceeds the population's), deterministic across
    invocations, and planned as TakeOrdered (per-partition heads), never
    a global sort."""
    from sparkstreaming_realtime_project_spark.operators import corpus as cx

    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    sel = cx.weighted_sample(
        docs.select("doc_id", "n_chars"), "n_chars", "doc_id", n=50
    )
    plan = _physical_plan(sel)
    assert "TakeOrderedAndProject" in plan
    rows = sel.collect()
    assert len(rows) == 50
    pop_mean = docs.agg(F.avg("n_chars")).collect()[0][0]
    smp_mean = sum(r["n_chars"] for r in rows) / len(rows)
    assert smp_mean > pop_mean
    again = {r["doc_id"] for r in cx.weighted_sample(
        docs.select("doc_id", "n_chars"), "n_chars", "doc_id", n=50
    ).collect()}
    assert again == {r["doc_id"] for r in rows}


def test_knn_gemm_bit_identical_to_bruteforce(spark, sf_dir):
    """The Arrow/numpy batch kernel must reproduce knn_bruteforce
    EXACTLY — same neighbors, same ranks, same sims to the last ulp
    (the kernel folds dimensions left-to-right like the JVM expression
    path instead of np.dot's reassociated summation)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 7)
    ref = sim.knn_bruteforce(emb, q, k=4).collect()
    got = sim.knn_gemm(emb, q, k=4).collect()
    assert sorted(map(tuple, got), key=lambda t: (t[0], t[2])) == sorted(
        map(tuple, ref), key=lambda t: (t[0], t[2])
    )
    # every query got exactly k rows
    from collections import Counter

    counts = Counter(r["query_id"] for r in got)
    assert all(c == 4 for c in counts.values()) and len(counts) == 7


def test_star_contraction_matches_hashmin_and_handles_chains(spark, sf_dir):
    """Star contraction must produce identical clusters to hash-min on
    the near-dup graph, AND converge on a 100-node path graph — the
    diameter-bound case hash-min's default round budget cannot finish
    (the whole reason the variant exists)."""
    from sparkstreaming_realtime_project_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_dedup_pairs(
        docs, "text", "doc_id", n=3, threshold=0.8, max_df=50
    )
    ref = {
        (r["doc_id"], r["cluster_id"], r["is_canonical"])
        for r in connected_components(pairs, docs.select("doc_id")).collect()
    }
    got = {
        (r["doc_id"], r["cluster_id"], r["is_canonical"])
        for r in connected_components_star(pairs, docs.select("doc_id")).collect()
    }
    pairs.unpersist()
    assert got == ref
    spark.catalog.clearCache()

    # path graph 0-1-2-...-99: diameter 99, star contraction must label
    # every node 0 within its 16-round budget (~log n rounds observed)
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], ["doc_a", "doc_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(100)], ["doc_id"])
    out = connected_components_star(path, nodes).collect()
    assert all(r["cluster_id"] == 0 for r in out)
    assert sum(r["is_canonical"] for r in out) == 1
    spark.catalog.clearCache()


def test_sorted_neighborhood_contained_and_linear(spark, sf_dir):
    """SNM pairs are a subset of the exact uncapped Jaccard pairs
    (precision 1 by construction — full-set verify), the neighborhood
    join is an equi-join (never cartesian), and candidate fan-out is
    hard-bounded at window-1 per record."""
    docs = load_table(spark, sf_dir, "documents")
    snm = dd.sorted_neighborhood_pairs(
        docs, "text", "doc_id", n=3, window=8, threshold=0.8
    )
    plan = _physical_plan(snm)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    got = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in snm.collect()}
    snm.unpersist()
    sh = dd.with_shingles(docs, "text", "doc_id", 3)
    exact = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dd.jaccard_pairs(sh, 0.8).collect()
    }
    sh.unpersist()
    assert got <= exact
    assert got, "SNM found nothing — key/window broken for this corpus"


def test_embedding_gemm_bit_identical_to_expression(spark, sf_dir):
    """The blocked Arrow all-pairs kernel must reproduce the JVM
    expression baseline EXACTLY — same pairs, same rounded sims (the
    kernel emits raw sims from the same left-to-right fold; round and
    threshold stay JVM-side)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ref = {
        (r["vec_a"], r["vec_b"], r["sim"])
        for r in sim.cosine_near_pairs(emb, 0.45).collect()
    }
    got = {
        (r["vec_a"], r["vec_b"], r["sim"])
        for r in sim.cosine_near_pairs_gemm(emb, 0.45, n_blocks=5).collect()
    }
    assert got == ref
    assert ref, "baseline found no pairs — threshold/corpus drifted"


def test_expectations_single_scan_and_counts(spark):
    """All checks fold into one aggregate (single scan — exactly one
    HashAggregate pair, no per-check jobs) and violation counts are
    exact."""
    from sparkstreaming_realtime_project_spark.operators.validate import (
        expectations_report,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, -1.0), (None, 5.0), (4, 0.0)],
        "k int, amount double",
    )
    rep = {
        r["check_name"]: r
        for r in expectations_report(
            df,
            {
                "not_null_k": F.col("k").isNull(),
                "positive_amount": F.col("amount") <= 0,
            },
        ).collect()
    }
    assert rep["not_null_k"]["n_violations"] == 1
    assert rep["positive_amount"]["n_violations"] == 2
    assert all(r["n_rows"] == 4 for r in rep.values())
    assert rep["not_null_k"]["pass_rate"] == 0.75


def test_snm_multipass_recovers_head_divergent_pair(spark):
    """The rotated tail key must recover a near-dup pair whose FIRST
    token differs (different pass-1 blocks -> single-pass SNM is blind
    to it), while staying a subset of the exact answer."""
    base = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, "aaa " + base), (2, "zzz " + base), (3, "unrelated " + " ".join(f"q{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    single = dd.sorted_neighborhood_pairs(docs, "text", "doc_id", window=8)
    multi = dd.sorted_neighborhood_pairs_multipass(docs, "text", "doc_id", window=8)
    s = {(r["doc_a"], r["doc_b"]) for r in single.collect()}
    m = {(r["doc_a"], r["doc_b"]) for r in multi.collect()}
    single.unpersist()
    multi.unpersist()
    assert (1, 2) not in s  # head blocks diverge — pass 1 cannot see it
    assert (1, 2) in m  # tail key recovers it


def test_sq8_full_refine_equals_bruteforce(spark, sf_dir):
    """With the refine window covering the whole corpus, SQ8's exact
    re-rank must reproduce brute-force top-k verbatim (quantization only
    affects which candidates reach the re-rank, never their final
    scores) — and at the default narrow refine the result must still be
    drawn from the same (query, neighbor) universe with exact sims."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    n = emb.count()
    brute = {tuple(r) for r in sim.knn_bruteforce(emb, q, k=5).collect()}
    full = {tuple(r) for r in sim.sq8_topk(emb, q, k=5, refine=n).collect()}
    assert full == brute
    narrow = sim.sq8_topk(emb, q, k=5, refine=3).collect()
    assert len(narrow) == 25
    # exact re-rank: every reported sim equals the true cosine (the
    # brute-force row for the same pair, when present, must agree)
    brute_sims = {(r[0], r[1]): r[3] for r in brute}
    for r in narrow:
        if (r["query_id"], r["neighbor_id"]) in brute_sims:
            assert r["sim"] == brute_sims[(r["query_id"], r["neighbor_id"])]


def test_sq8_quantize_codes_in_int8_range(spark, sf_dir):
    """Codes must fit int8 ([-127, 127]) — the byte-width claim the
    100 TB memory story rests on."""
    emb = load_table(spark, sf_dir, "embeddings")
    scales = sim.sq8_scales(emb)
    qz = emb.crossJoin(F.broadcast(scales)).select(
        sim._sq8_quantize(
            sim.as_double_vec("embedding"), F.col("__scales")
        ).alias("q")
    )
    mx = qz.select(
        F.array_max(F.transform("q", F.abs)).alias("m")
    ).agg(F.max("m")).collect()[0][0]
    assert mx <= 127


def test_q13_distribution_conserves_counts(spark, sf_dir):
    """The order-count histogram must conserve both totals: sum of
    custdist equals |customer| (every customer lands in exactly one
    bucket, including the zero bucket) and sum(c_count * custdist)
    equals the number of non-urgent orders WITH a matching customer."""
    from sparkstreaming_realtime_project_spark.plans.catalog import (
        q13_order_count_dist,
    )
    dist = q13_order_count_dist(spark, sf_dir).collect()
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    n_cust = cust.count()
    n_orders = (
        orders.filter(F.col("o_orderpriority") != "1-URGENT")
        .join(cust, orders.o_custkey == cust.c_custkey, "left_semi")
        .count()
    )
    assert sum(r["custdist"] for r in dist) == n_cust
    assert sum(r["c_count"] * r["custdist"] for r in dist) == n_orders


def test_q2_argmin_rows_are_group_minima(spark, sf_dir):
    """Every surviving (part, supplier) row must carry that part's true
    minimum unit cost — and every size-25 part with any lineitem must
    appear at least once (argmin never drops a group)."""
    from sparkstreaming_realtime_project_spark.plans.catalog import (
        q2_min_cost_supplier,
    )
    rows = q2_min_cost_supplier(spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 25)
    truth = {
        r["l_partkey"]: r["mc"]
        for r in li.join(part, li.l_partkey == part.p_partkey, "left_semi")
        .groupBy("l_partkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("mc"))
        .collect()
    }
    assert {r["p_partkey"] for r in rows} == set(truth)
    for r in rows:
        assert r["unit_cost"] == round(truth[r["p_partkey"]], 4)


def test_sq8_external_queries(spark, sf_dir):
    """Queries whose vectors are NOT in the corpus must still get full
    top-k answers (query codes come from the query frame itself, only
    the scales come from the corpus)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ext = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 0.5 + 0.01).alias("embedding"),
    )
    out = sim.sq8_topk(emb, ext, k=4, refine=3).collect()
    assert len(out) == 12
    assert {r["query_id"] for r in out} == {1_000_000, 1_000_001, 1_000_002}
    # neighbors come from the corpus, ranks are 1..4 per query
    ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    for r in out:
        assert r["neighbor_id"] in ids
        assert 1 <= r["rank"] <= 4


def test_randproj_matrix_deterministic_and_signed():
    """Pure function of (r, d, seed): same call -> same matrix; entries
    are exactly ±1 and not all one sign (a degenerate LCG would project
    every vector onto the same ray)."""
    a = sim.randproj_matrix(16, 64)
    b = sim.randproj_matrix(16, 64)
    assert a == b
    flat = [x for row in a for x in row]
    assert set(flat) == {1.0, -1.0}
    assert 0.3 < sum(1 for x in flat if x > 0) / len(flat) < 0.7


def test_knn_randproj_shortlist_containment(spark, sf_dir):
    """The final randproj top-k must be drawn from the projected
    shortlist and re-ranked by EXACT cosine: every reported (query,
    neighbor, sim) must carry the same sim as brute force reports for
    that pair, and recall must be positive (the projection preserves
    enough geometry to find real neighbors)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    mat = sim.randproj_matrix(16, 64)
    approx = sim.knn_randproj(emb, q, mat, k=3, shortlist=4)
    exact = sim.knn_bruteforce(emb, q, k=50)
    joined = approx.select(
        "query_id", "neighbor_id", F.col("sim").alias("a_sim")
    ).join(
        exact.select("query_id", "neighbor_id", F.col("sim").alias("e_sim")),
        ["query_id", "neighbor_id"],
    )
    rows = joined.collect()
    assert rows, "approx found nothing inside the exact top-50"
    assert all(r["a_sim"] == r["e_sim"] for r in rows)
    # recall contract: positive, and monotone in the shortlist knob —
    # a wider shortlist may only add candidates before the exact re-rank
    # (absolute recall is data-dependent: near-random vectors are JL's
    # worst case, so no fixed floor is asserted)
    truth = sim.knn_bruteforce(emb, q, k=3)
    rec4 = sim.ann_recall(truth, approx).agg(F.avg("recall")).first()[0]
    rec16 = sim.ann_recall(
        truth, sim.knn_randproj(emb, q, mat, k=3, shortlist=16)
    ).agg(F.avg("recall")).first()[0]
    assert rec4 > 0.0
    assert rec16 >= rec4


def test_knn_randproj_no_cartesian(spark, sf_dir):
    """Candidate generation joins narrow projected rows; no plan node
    may be a cartesian product over the corpus (broadcast NLJ of the
    tiny query side is the expected shape)."""
    emb = load_table(spark, sf_dir, "embeddings")
    mat = sim.randproj_matrix(16, 64)
    df = sim.knn_randproj(emb, emb.filter(F.col("vec_id") < 5), mat, k=3)
    assert "CartesianProduct" not in _physical_plan(df)


def test_cluster_balanced_sample_quota_and_determinism(spark, sf_dir):
    """Per-cluster quota is enforced, sample is stable across reruns,
    and every sampled vec belongs to the cluster the model assigns it."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = sim.ivf_centroids(emb, n_centroids=4, iters=2)
    s1 = sim.cluster_balanced_sample(emb, cents, cap=7)
    rows = s1.collect()
    from collections import Counter

    per = Counter(r["cid"] for r in rows)
    assert all(c <= 7 for c in per.values())
    assert {tuple(r) for r in rows} == {tuple(r) for r in
        sim.cluster_balanced_sample(emb, cents, cap=7).collect()}
    assert all(1 <= r["pos"] <= 7 for r in rows)


def test_label_centroid_report_shape(spark, sf_dir):
    """One row per label; cohesion within [-1, 1] on the real table
    (the driver testdata's labels are NOT anchored, so no separation
    claim holds there — see the anchored-fixture test below for the
    cohesion-vs-separation property itself)."""
    emb = load_table(spark, sf_dir, "embeddings")
    rep = sim.label_centroid_report(emb).collect()
    n_labels = emb.select("label").distinct().count()
    assert len(rep) == n_labels
    for r in rep:
        assert -1.0 <= r["avg_intra_sim"] <= 1.0
        assert -1.0 <= r["max_inter_sim"] <= 1.0


def test_label_centroid_cohesion_on_anchored_labels(spark):
    """On embeddings built as per-label anchor + small deterministic
    noise, every label's avg intra-centroid cosine must EXCEED its max
    inter-centroid cosine — the separation property the report exists
    to measure (a mislabeled/collapsed label would invert it)."""
    import math

    anchors = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.0, 1.0, 0.0, 0.0],
        2: [0.0, 0.0, 1.0, 0.0],
    }
    rows = []
    vid = 0
    for label, a in anchors.items():
        for i in range(12):
            # deterministic 'noise': rotate a little toward the next axis
            eps = 0.1 * ((i % 5) + 1) / 5.0
            v = [x + eps * ((j + i) % 2) for j, x in enumerate(a)]
            n = math.sqrt(sum(x * x for x in v))
            rows.append((vid, [x / n for x in v], label))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    rep = {r["label"]: r for r in sim.label_centroid_report(emb).collect()}
    assert set(rep) == set(anchors)
    for label, r in rep.items():
        assert r["avg_intra_sim"] > r["max_inter_sim"], (
            f"label {label}: intra {r['avg_intra_sim']} <= "
            f"inter {r['max_inter_sim']}"
        )


def test_contamination_overlap_covers_corpus_and_flags(spark, sf_dir):
    """Report covers every non-benchmark doc (left join, zeros kept);
    benchmark docs never appear; flags respect the threshold; overlap
    of a doc against its own near-duplicate in the benchmark is high."""
    from sparkstreaming_realtime_project_spark.operators import corpus as cx

    docs = load_table(spark, sf_dir, "documents")
    rep = cx.contamination_overlap(
        docs, F.col("source") == "src0", n=8, threshold=0.1
    )
    rows = rep.collect()
    n_train = docs.filter(F.col("source") != "src0").count()
    assert len(rows) == n_train
    bench_ids = {r["doc_id"] for r in docs.filter(F.col("source") == "src0")
                 .select("doc_id").collect()}
    assert not bench_ids & {r["doc_id"] for r in rows}
    for r in rows:
        assert (r["contaminated"] == 1) == (r["overlap_frac"] >= 0.1)
        assert 0.0 <= r["overlap_frac"] <= 1.0


def test_gopher_report_flag_conservation(spark, sf_dir):
    """n_pass + (docs failing >=1 rule) == n_docs per source, and the
    report sums to the corpus size — no doc dropped or double-counted."""
    from sparkstreaming_realtime_project_spark.operators import textstats as ts

    docs = load_table(spark, sf_dir, "documents")
    rep = ts.gopher_quality_report(docs, "text", "doc_id", "source").collect()
    assert sum(r["n_docs"] for r in rep) == docs.count()
    for r in rep:
        assert 0 <= r["n_pass"] <= r["n_docs"]
        for c in ("n_fail_wordcount", "n_fail_wordlen",
                  "n_fail_stopwords", "n_fail_toptoken"):
            assert 0 <= r[c] <= r["n_docs"]
        assert abs(r["pass_rate"] - r["n_pass"] / r["n_docs"]) < 1e-3


def test_zorder_written_files_enable_pruning(spark, tmp_path):
    """The write-side payoff: parquet files produced from a Z-order
    clustered frame carry NARROW per-file min/max ranges on BOTH
    clustered columns (the statistics parquet row-group pruning and
    Spark file skipping act on), while an unclustered shuffle of the
    same rows yields near-full-range files. Verified from the actual
    parquet footers, not the plan."""
    import glob

    import pyarrow.parquet as pq

    from sparkstreaming_realtime_project_spark.operators.layout import (
        cluster_by_zorder,
    )

    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )

    def spreads(path):
        per_file = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.read_metadata(f)
            los, his = {}, {}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name not in ("x", "y") or col.statistics is None:
                        continue
                    st_ = col.statistics
                    los[name] = min(los.get(name, st_.min), st_.min)
                    his[name] = max(his.get(name, st_.max), st_.max)
            if los:
                per_file.append({c: his[c] - los[c] for c in los})
        assert per_file, f"no parquet files with stats under {path}"
        return {
            c: sum(p[c] for p in per_file) / len(per_file) for c in ("x", "y")
        }

    clustered = cluster_by_zorder(df, ["x", "y"], n_partitions=8, bits=6)
    clustered.write.mode("overwrite").parquet(str(tmp_path / "clustered"))
    df.repartition(8).write.mode("overwrite").parquet(str(tmp_path / "plain"))

    cs, ps = spreads(tmp_path / "clustered"), spreads(tmp_path / "plain")
    # round-robin files span ~the full range on both columns; Z-order
    # files must be substantially narrower on BOTH (that's the whole
    # point of interleaving vs a plain sort, which narrows only the
    # leading column)
    assert cs["x"] < ps["x"] * 0.6, (cs, ps)
    assert cs["y"] < ps["y"] * 0.6, (cs, ps)


def test_drift_report_identical_and_disjoint(spark):
    """PSI semantics: comparing a slice against an identically-distributed
    slice scores ~0; a categorical feature whose values are DISJOINT
    across slices scores far past the 0.25 'investigate' line; every
    requested feature appears exactly once."""
    from sparkstreaming_realtime_project_spark.operators.validate import (
        drift_report,
    )

    rows = []
    for i in range(400):
        # identical length distribution on both sides; lang disjoint
        side = i % 2  # 0 = ref, 1 = cur
        rows.append((i, 100 + (i // 2) % 5 * 50, f"L{side}", side))
    df = spark.createDataFrame(rows, "id long, n_chars int, lang string, cur int")
    rep = {
        r["feature"]: r
        for r in drift_report(
            df,
            current=F.col("cur") == 1,
            numeric={"len": (F.col("n_chars"), 50.0)},
            categorical={"lang": F.col("lang")},
        ).collect()
    }
    assert set(rep) == {"len", "lang"}
    assert rep["len"]["n_ref"] == rep["len"]["n_cur"] == 200
    assert rep["len"]["psi"] == 0.0  # same per-bin proportions
    assert rep["lang"]["psi"] > 0.25  # fully disjoint categories
    import pytest as _pytest

    with _pytest.raises(ValueError):
        drift_report(df, current=F.col("cur") == 1)


def test_pca_model_matches_expression_covariance(spark, sf_dir):
    """The mapInPandas X^T X partial path (the 100 TB shape: one d x d
    matrix per batch crosses the driver) must reproduce the
    expression-form covariance entry (the oracle shape) cell for cell."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    cells = {
        (r["i"], r["j"]): r["cov"] for r in sim.embed_covariance(emb).collect()
    }
    d = int(max(i for i, _ in cells)) + 1
    model = sim.pca_model(emb, k=d)
    # rebuild the covariance from the partial-path moments by projecting
    # the recovered eigensystem back: C = V diag(w) V^T
    V = np.array(model["components"]).T  # columns = components
    w = np.array(model["explained"])
    C = V @ np.diag(w) @ V.T
    for (i, j), cov in cells.items():
        # cells round at 1e-4; the model rounds eigenpairs at 1e-6
        assert abs(C[i, j] - cov) < 2e-4, (i, j, C[i, j], cov)


def test_pca_components_orthonormal_and_ordered(spark, sf_dir):
    """Eigenvectors are orthonormal (up to the 1e-6 model rounding),
    explained variances are non-increasing, and the sign convention
    (largest-|x| element positive) makes training reproducible."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    m1 = sim.pca_model(emb, k=4)
    m2 = sim.pca_model(emb, k=4)
    assert m1 == m2  # deterministic replay
    V = np.array(m1["components"])
    G = V @ V.T
    assert np.allclose(G, np.eye(len(V)), atol=1e-4)
    ex = m1["explained"]
    assert all(a >= b for a, b in zip(ex, ex[1:]))
    for c in m1["components"]:
        assert c[int(np.argmax(np.abs(c)))] > 0


def test_pca_project_preserves_distances_at_full_rank(spark, sf_dir):
    """Projecting onto ALL d components is a rotation about the mean:
    pairwise squared distances are preserved (up to rounding); at k < d
    they can only shrink."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").limit(40).cache()
    d = len(emb.select("embedding").first()["embedding"])
    full = sim.pca_model(emb, k=d)
    proj = {
        r["id"]: np.array(r["proj"])
        for r in sim.pca_project(emb, full).collect()
    }
    orig = {
        r["vec_id"]: np.array(r["embedding"])
        for r in emb.select("vec_id", "embedding").collect()
    }
    ids = sorted(orig)[:12]
    for a in ids[:4]:
        for b in ids[4:8]:
            d_orig = float(np.sum((orig[a] - orig[b]) ** 2))
            d_proj = float(np.sum((proj[a] - proj[b]) ** 2))
            assert abs(d_orig - d_proj) < 1e-3, (a, b, d_orig, d_proj)
    low = sim.pca_model(emb, k=2)
    proj2 = {
        r["id"]: np.array(r["proj"])
        for r in sim.pca_project(emb, low).collect()
    }
    for a in ids[:4]:
        for b in ids[4:8]:
            d_orig = float(np.sum((orig[a] - orig[b]) ** 2))
            d2 = float(np.sum((proj2[a] - proj2[b]) ** 2))
            assert d2 <= d_orig + 1e-3


def test_knn_pca_recall_monotone_and_complete(spark, sf_dir):
    """PCA-shortlist KNN: a larger shortlist can only raise recall vs
    the exact brute force (the re-rank is exact over a candidate
    superset), and a corpus-covering shortlist reaches recall 1.0."""
    emb = load_table(spark, sf_dir, "embeddings").cache()
    n = emb.count()
    queries = emb.filter(F.col("vec_id") < 10)
    model = sim.pca_model(emb, k=3)
    truth = sim.knn_bruteforce(emb, queries, k=3).select(
        "query_id", "neighbor_id"
    )

    def rec(shortlist):
        approx = sim.knn_pca(emb, queries, model, k=3, shortlist=shortlist)
        rows = sim.ann_recall(truth, approx.select("query_id", "neighbor_id")).collect()
        return sum(r["n_hits"] for r in rows) / sum(r["n_truth"] for r in rows)

    r_small = rec(2)
    r_big = rec(6)
    assert r_small <= r_big
    assert rec((n // 3) + 1) == 1.0  # shortlist*k covers the corpus
    assert r_big > 0.0


def test_winnow_guarantee_and_shift_robustness(spark):
    """The winnowing guarantee (Schleimer et al.): two docs sharing a
    token run of >= w + n - 1 tokens share at least one fingerprint —
    and the match SURVIVES a prefix insertion that shifts the run
    (positions move, window minima don't). Disjoint docs never pair.
    Also pins the density claim: fingerprints ~2/(w+1) of grams."""
    shared_run = " ".join(f"run{i}" for i in range(12))  # >= w+n-1 = 6
    docs = spark.createDataFrame(
        [
            (1, "alpha0 alpha1 alpha2 alpha3 " + shared_run),
            # same run, SHIFTED by a different-length disjoint prefix
            (2, "beta0 beta1 beta2 beta3 beta4 beta5 beta6 " + shared_run),
            (3, " ".join(f"gamma{i}" for i in range(16))),  # disjoint
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in dd.winnow_substring_pairs(
            docs, "text", "doc_id", n=3, w=4
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert not any(3 in p for p in pairs)
    fps = {
        r["id"]: r
        for r in dd.winnow_fingerprints(docs, "text", "doc_id", n=3, w=4).collect()
    }
    for r in fps.values():
        assert 1 <= len(r["fps"]) <= r["n_grams"]
        assert r["fps"] == sorted(set(r["fps"]))  # sorted-distinct contract
    # density: far fewer fingerprints than grams on a long doc
    long_doc = spark.createDataFrame(
        [(9, " ".join(f"t{i}" for i in range(200)))], "doc_id long, text string"
    )
    r = dd.winnow_fingerprints(long_doc, "text", "doc_id", n=3, w=8).collect()[0]
    assert len(r["fps"]) < r["n_grams"] / 2  # ~2/(w+1) selected


def test_winnow_short_doc_edge_cases(spark):
    """Docs shorter than n tokens fingerprint their whole token string;
    docs with fewer than w grams keep the global minimum — nothing is
    dropped."""
    docs = spark.createDataFrame(
        [(1, "one two"), (2, "a b c d"), (3, "x")],
        "doc_id long, text string",
    )
    fps = {
        r["id"]: r["fps"]
        for r in dd.winnow_fingerprints(docs, "text", "doc_id", n=3, w=4).collect()
    }
    assert all(len(v) == 1 for v in fps.values())


def test_scale_probe_builders_preserve_structure(spark, sf_dir):
    """The scaling probe's corpus builders must actually deliver their
    premises: K-fold documents have DISJOINT per-copy vocabularies
    (constant dup density — no cross-copy pairs), and K-fold embeddings
    apply isometries (norms exactly preserved) that differ per copy
    (cross-copy cosine scrambled, no near-identical twin copies)."""
    import math

    from scripts.scale_probe import scaled_documents, scaled_embeddings

    base_docs = load_table(spark, sf_dir, "documents")
    docs = scaled_documents(spark, sf_dir, 2)
    assert docs.count() == 2 * base_docs.count()
    # copies offset ids by max(id)+1, exactly like the builder
    n_docs = base_docs.agg(F.max("doc_id")).first()[0] + 1
    # disjoint vocab: copy-0 tokens all start k0_, copy-1 all k1_
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    )
    assert toks.filter(
        (F.col("doc_id") < n_docs) & ~F.col("t").startswith("k0_")
    ).count() == 0
    assert toks.filter(
        (F.col("doc_id") >= n_docs) & ~F.col("t").startswith("k1_")
    ).count() == 0

    emb = scaled_embeddings(spark, sf_dir, 3)
    base = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .limit(5)
        .collect()
    }
    n_base = (
        load_table(spark, sf_dir, "embeddings").agg(F.max("vec_id")).first()[0]
        + 1
    )
    got = {
        r["vec_id"]: r["embedding"]
        for r in emb.filter(
            F.col("vec_id").isin(
                [v + k * n_base for v in base for k in range(3)]
            )
        ).collect()
    }
    for vid, v in base.items():
        norm0 = math.sqrt(sum(x * x for x in v))
        copies = [got[vid + k * n_base] for k in range(3)]
        for c in copies:
            assert abs(math.sqrt(sum(x * x for x in c)) - norm0) < 1e-9
        # distinct transforms: no two copies of the same vector are equal
        assert len({tuple(c) for c in copies}) == 3


def test_pca_project_whitening_unit_variance(spark, sf_dir):
    """whiten=True yields ~unit variance per output component (that IS
    the definition: each direction's variance is its eigenvalue, so
    dividing by sqrt(eigenvalue) normalizes it); unwhitened variances
    reproduce the explained eigenvalues."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    model = sim.pca_model(emb, k=3)
    raw = np.array(
        [r["proj"] for r in sim.pca_project(emb, model).collect()]
    )
    white = np.array(
        [r["proj"] for r in sim.pca_project(emb, model, whiten=True).collect()]
    )
    var_raw = raw.var(axis=0)
    var_white = white.var(axis=0)
    assert np.allclose(var_raw, model["explained"], rtol=1e-3)
    assert np.allclose(var_white, 1.0, rtol=1e-3)


def test_moment_reduction_is_executor_side(spark, sf_dir):
    """The 100 TB contract of the moment path: the frame `pca_model`
    collects is EXACTLY one row regardless of input partitioning — the
    per-partition partials merge on the executors, so no per-batch
    partial ever reaches the driver (the round-6 verdict's scale
    finding)."""
    emb = load_table(spark, sf_dir, "embeddings").repartition(16)
    src = emb.select(sim.as_double_vec("embedding").alias("v"))
    rows = sim.reduced_moments(src).collect()
    assert len(rows) == 1
    assert rows[0]["n"] == emb.count()
    d = len(rows[0]["s"])
    assert len(rows[0]["ss"]) == d * d


def test_pca_power_component_converges_to_eigh(spark, sf_dir):
    """The accelerated power iterate (6 squarings × 12 steps ≈ C^768)
    must align with numpy.eigh's top eigenvector of the SAME input — the
    1e-4-rounded covariance the operator actually iterates on (the
    rounding perturbs the eigenvector by ~1e-4/gap vs the exact cov, so
    that's the fair oracle) — and its Rayleigh quotient must match the
    top eigenvalue. The testdata spectrum is near-isotropic
    (λ2/λ1 ≈ 0.93: plain 12-step iteration measured cos 0.53 — the
    squarings are load-bearing). Exact cross-engine equality is the
    driver oracle's job (x_pca_power); this grades the MATH."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    out = sim.pca_power_component(emb).collect()
    v = np.array([r["loading"] for r in sorted(out, key=lambda r: r["i"])])
    lam = out[0]["eigenvalue"]
    x = np.stack(
        [np.array(r["embedding"]) for r in emb.select("embedding").collect()]
    )
    cov = np.floor(np.cov(x.T, bias=True) * 1e4 + 0.5) / 1e4
    w, vecs = np.linalg.eigh(cov)
    top = vecs[:, -1]
    cos = abs(float(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top)))
    assert cos > 0.9999, cos
    assert abs(lam - w[-1]) < 1e-4 * max(1.0, abs(w[-1])), (lam, w[-1])
    assert v[int(np.argmax(np.abs(v)))] > 0


def test_winnow_shared_fps_index_identical_and_caller_owned(spark, sf_dir):
    """A pre-materialized fingerprint index passed via ``fps=`` must
    produce the identical pair set as the own-computation path (it IS
    the same index — sharing must not change results), and ownership
    stays with the caller: the operator must NOT unpersist a frame it
    didn't build (the process-level catalog cache hands the same frame
    to both winnow entries)."""
    docs = load_table(spark, sf_dir, "documents").limit(300)
    own = {
        (r["doc_a"], r["doc_b"], r["n_shared"])
        for r in dd.winnow_substring_pairs(
            docs, "text", "doc_id", n=3, w=4, max_df=50
        ).collect()
    }
    idx = dd.winnow_fingerprints(docs, "text", "doc_id", n=3, w=4)
    try:
        shared = {
            (r["doc_a"], r["doc_b"], r["n_shared"])
            for r in dd.winnow_substring_pairs(
                docs, "text", "doc_id", n=3, w=4, max_df=50, fps=idx
            ).collect()
        }
        assert shared == own
        # still cached: the operator must not have released a caller frame
        assert idx.storageLevel.useMemory or idx.storageLevel.useDisk
        rec = dd.winnow_recall(
            docs, "text", "doc_id", n=3, w=4, fps=idx
        ).collect()[0]
        assert rec["recall"] == 1.0
    finally:
        idx.unpersist()


def test_triangle_counts_known_graph_and_naive_parity(spark):
    """K4-minus-an-edge has known per-node counts (the two hub nodes sit
    on both triangles... actually K4 minus one edge has exactly 2
    triangles? no: K4 has 4 triangles; removing one edge kills the 2
    triangles through it). Pin the closed-form case, then cross-check a
    seeded random graph against a naive a<b<c enumeration built with
    plain joins — same engine, independent algorithm."""
    from sparkstreaming_realtime_project_spark.operators.graph import (
        triangle_counts,
    )

    # K4 minus edge (3,4): triangles (1,2,3) and (1,2,4) survive.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)], "src long, dst long"
    )
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["clustering_coeff"])
        for r in triangle_counts(edges).collect()
    }
    assert got[1] == (3, 2, 0.666667)  # floor(2*2/(3*2) * 1e6 + 0.5) / 1e6
    assert got[2] == (3, 2, 0.666667)
    assert got[3][:2] == (2, 1) and got[4][:2] == (2, 1)
    assert got[3][2] == 1.0 and got[4][2] == 1.0

    # directed duplicates + self-loops must canonicalize away
    noisy = spark.createDataFrame(
        [(2, 1), (1, 2), (3, 1), (4, 1), (3, 2), (4, 2), (7, 7)],
        "src long, dst long",
    )
    got2 = {
        r["node"]: r["n_triangles"] for r in triangle_counts(noisy).collect()
    }
    assert got2 == {1: 2, 2: 2, 3: 1, 4: 1}

    import random

    rnd = random.Random(11)
    pairs = list({tuple(sorted(rnd.sample(range(30), 2))) for _ in range(120)})
    g = spark.createDataFrame(pairs, "src long, dst long")
    mine = {
        r["node"]: r["n_triangles"] for r in triangle_counts(g).collect()
    }
    es = set(pairs)
    naive = {n: 0 for e in es for n in e}
    nodes = sorted(naive)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            if (a, b) not in es:
                continue
            for c in nodes[nodes.index(b) + 1 :]:
                if (a, c) in es and (b, c) in es:
                    for n in (a, b, c):
                        naive[n] += 1
    assert mine == naive


def test_kn_bigram_logprob_matches_hand_model_and_normalizes(spark):
    """Replay interpolated KN by hand (dict arithmetic, no Spark) on a
    tiny corpus: (a) the operator's per-doc scores match the replay at
    1e-4, and (b) the hand model's P(.|w1) sums to exactly 1 over the
    seen continuation vocabulary — the normalization property that
    distinguishes real KN from an ad-hoc discount."""
    import math
    from collections import Counter

    from sparkstreaming_realtime_project_spark.operators.textstats import (
        kn_bigram_logprob,
    )

    corpus = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "a cat and a dog"),
        (4, "one"),  # < 2 tokens: no transitions, must drop out
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_neg_logp"])
        for r in kn_bigram_logprob(docs, "text", "doc_id").collect()
    }
    assert 4 not in got

    D = 0.75
    c12 = Counter()
    for _, text in corpus:
        t = text.lower().split()
        for a, b in zip(t, t[1:]):
            c12[(a, b)] += 1
    c1 = Counter()
    n1p_fwd = Counter()
    n1p_rev = Counter()
    for (a, b), c in c12.items():
        c1[a] += c
        n1p_fwd[a] += 1
        n1p_rev[b] += 1
    n_types = len(c12)

    def p(a, b):
        return max(c12[(a, b)] - D, 0.0) / c1[a] + D * n1p_fwd[a] / c1[a] * (
            n1p_rev[b] / n_types
        )

    # normalization: for every context, sum over the continuation vocab
    for a in c1:
        s = sum(p(a, b) for b in n1p_rev)
        assert abs(s - 1.0) < 1e-12, (a, s)

    for did, text in corpus[:3]:
        t = text.lower().split()
        bgs = list(zip(t, t[1:]))
        want = -sum(math.log(p(a, b)) for a, b in bgs) / len(bgs)
        n, score = got[did]
        assert n == len(bgs)
        assert abs(score - want) <= 1e-4 + 1e-12, (did, score, want)


def test_mg_topk_certificate_on_skewed_keys(spark):
    """On a genuinely Zipfian key stream the Misra-Gries summary must
    (a) bracket every emitted key: est <= true <= upper_bound, (b) put
    the dominant key at rank 1 with an EXACT estimate (a key kept in
    all of its groups loses nothing), and (c) stay summary-sized."""
    from sparkstreaming_realtime_project_spark.operators.sketches import mg_topk

    rows = []
    rid = 0
    for i, freq in enumerate([4000, 1200, 600, 300] + [40] * 30 + [3] * 200):
        for _ in range(freq):
            rows.append((rid, f"k{i:03d}"))
            rid += 1
    df = spark.createDataFrame(rows, "rid long, key string")
    true = {}
    for _, k in rows:
        true[k] = true.get(k, 0) + 1
    out = mg_topk(df, "key", "rid", k=8, n_groups=4, m=8).collect()
    assert len(out) == 8
    under = 0
    for r in out:
        assert r["est"] <= true[r["key"]] <= r["upper_bound"], (
            r["key"], r["est"], true[r["key"]], r["upper_bound"],
        )
        under += true[r["key"]] - r["est"]
    top = next(r for r in out if r["rank"] == 1)
    # the dominant key survives every row-shard's top-m cut, so its
    # merged counter is exact; tail keys genuinely undercount (the
    # summary is a summary, not a sharded exact count)
    assert top["key"] == "k000" and top["est"] == 4000
    assert under > 0
    # with m large enough to keep everything, the summary IS exact
    exact = {
        r["key"]: (r["est"], r["upper_bound"])
        for r in mg_topk(df, "key", "rid", k=250, n_groups=4, m=300).collect()
    }
    for k2, t in true.items():
        assert exact[k2] == (t, t)


def test_bpe_train_and_fold_parity(spark):
    """Training: greedy most-frequent-pair with (count DESC, pair ASC)
    ties, verified on a corpus with a known merge order; application:
    the Spark fold chain must equal the Python replay token-for-token,
    including the overlapping-run greedy-left case and merges that
    consume earlier merge outputs."""
    from sparkstreaming_realtime_project_spark.functions import bpe

    docs = [
        "the cat sat".split(),
        "the cat ran".split(),
        "the cat sat down".split(),
        "a a a".split(),
    ]
    merges = bpe.train_merges(docs, n_merges=3)
    # (the,cat) x3 first; then a 2-count tie — ('a','a') counts both
    # overlapping positions in "a a a", and ties break pair-ASC, so
    # ('a','a') < ('the+cat','sat'); the latter lands third
    assert merges[0] == ("the", "cat")
    assert merges[1] == ("a", "a")
    assert merges[2] == ("the+cat", "sat")

    assert bpe.apply_merges_py("a a a".split(), [("a", "a")]) == ["a+a", "a"]
    assert bpe.apply_merges_py("the cat sat".split(), merges) == ["the+cat+sat"]

    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id",
            bpe.apply_merges_col(
                F.split(F.col("text"), " "), merges
            ).alias("s"),
        ).collect()
    }
    for i, d in enumerate(docs):
        assert got[i] == bpe.apply_merges_py(d, merges), (i, got[i])


# ------------------------------------------------------- round-9 data quality


def test_referential_integrity_hand_computed(spark):
    from sparkstreaming_realtime_project_spark.operators.validate import (
        referential_integrity_report,
    )

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 99), (5, 99), (6, None)],
        "id int, fk int",
    )
    parent = spark.createDataFrame([(10,), (20,), (30,)], "pk int")
    r = referential_integrity_report(
        [("child->parent", child, "fk", parent, "pk")]
    ).collect()[0]
    assert r["edge"] == "child->parent"
    assert r["n_child"] == 6
    assert r["n_null_keys"] == 1  # NULL references nothing: not an orphan
    assert r["n_orphan_rows"] == 2  # the two fk=99 rows
    assert r["n_orphan_keys"] == 1  # one distinct orphan key


def test_functional_dependency_hand_computed(spark):
    from sparkstreaming_realtime_project_spark.operators.validate import (
        functional_dependency_report,
    )

    df = spark.createDataFrame(
        [
            ("u1", "US"), ("u1", "US"),          # consistent
            ("u2", "US"), ("u2", "DE"), ("u2", "FR"),  # violated, 3 values
            ("u3", "JP"),
        ],
        "user string, country string",
    )
    r = functional_dependency_report(
        [("user->country", df, ["user"], "country")]
    ).collect()[0]
    assert r["n_keys"] == 3
    assert r["n_violating_keys"] == 1
    assert r["max_distinct_rhs"] == 3


def test_pk_candidate_profile_hand_computed(spark):
    from sparkstreaming_realtime_project_spark.operators.validate import (
        pk_candidate_profile,
    )

    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", "x"), (3, "b", "y")],
        "id int, dup string, holey string",
    )
    rows = {
        r["column"]: r
        for r in pk_candidate_profile(df, ["id", "dup", "holey"]).collect()
    }
    assert rows["id"]["is_unique"] == 1 and rows["id"]["n_distinct"] == 3
    assert rows["dup"]["is_unique"] == 0 and rows["dup"]["n_distinct"] == 2
    # unique among non-nulls but has a null -> NOT a PK candidate
    assert rows["holey"]["is_unique"] == 0 and rows["holey"]["n_null"] == 1


def test_funnel_ordered_respects_event_order(spark, sf_dir):
    """A user who purchases BEFORE clicking must not count as a full
    conversion — the strict-order predicate is the entry's whole point
    vs unordered co-occurrence funnels."""
    import datetime as dt

    from sparkstreaming_realtime_project_spark.plans.catalog import (
        _REGISTRY,
    )

    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    rows = [
        # u1: proper order -> full funnel
        (1, t("2024-01-01 10:00"), "view"),
        (1, t("2024-01-01 10:05"), "click"),
        (1, t("2024-01-01 10:10"), "purchase"),
        # u2: purchase BEFORE click -> stops at view->click
        (2, t("2024-01-01 10:00"), "view"),
        (2, t("2024-01-01 10:02"), "purchase"),
        (2, t("2024-01-01 10:05"), "click"),
        # u3: view only
        (3, t("2024-01-01 10:00"), "view"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    v = df.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    c = (
        df.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        df.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .select("user_id")
        .distinct()
    )
    assert v.count() == 3 and c.count() == 2 and p.count() == 1
    assert p.collect()[0]["user_id"] == 1


def test_abc_pareto_hand_computed(spark):
    """Revenue 50/30/15/5 over four parts: top-down cumulative shares
    are 50/80/95/100 — classes A, A (<=80), B (<=95), C."""
    from sparkstreaming_realtime_project_spark.operators.distributed import (
        prefix_sums,
    )

    r = spark.createDataFrame(
        [(1, 50.0), (2, 30.0), (3, 15.0), (4, 5.0)], "p int, rev double"
    ).select("p", F.col("rev").cast("decimal(18,6)").alias("rev"))
    cums = prefix_sums(r, ["rev", "p"], ["rev"])
    tot = r.agg(F.sum("rev").alias("tot"))
    j = cums.join(F.broadcast(tot), F.lit(True), "left")
    cum_desc = F.col("tot") - F.col("rev_cum") + F.col("rev")
    abc = (
        F.when(cum_desc * 100 <= F.col("tot") * 80, F.lit("A"))
        .when(cum_desc * 100 <= F.col("tot") * 95, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    got = {r["p"]: r["abc"] for r in j.select("p", abc.alias("abc")).collect()}
    assert got == {1: "A", 2: "A", 3: "B", 4: "C"}
    spark.catalog.clearCache()


def test_ab_proportion_z_hand_computed(spark):
    """Hand-checked two-proportion z: control 2/10 vs treatment 5/10."""
    import math

    rows = []
    # variant = user_id % 2; converter = purchase with value > 200
    for u in range(0, 20, 2):  # control users 0,2,..18
        rows.append((u, "view", 1.0))
    for u in (0, 2):  # 2 control converters
        rows.append((u, "purchase", 300.0))
    for u in range(1, 21, 2):  # treatment users 1,3,..19
        rows.append((u, "view", 1.0))
    for u in (1, 3, 5, 7, 9):  # 5 treatment converters
        rows.append((u, "purchase", 300.0))
    ev = spark.createDataFrame(rows, "user_id long, event_type string, value double")
    u = ev.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count_distinct("user_id").alias("n"),
        F.count_distinct(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 200),
                F.col("user_id"),
            )
        ).alias("c"),
    )
    got = {r["variant"]: (r["n"], r["c"]) for r in u.collect()}
    assert got == {0: (10, 2), 1: (10, 5)}
    p0, p1, pp = 0.2, 0.5, 0.35
    z = (p1 - p0) / math.sqrt(pp * (1 - pp) * (1 / 10 + 1 / 10))
    assert abs(z - 1.4064) < 1e-3  # sanity of the hand formula


def test_cohort_ltv_cumulative_is_keyed(spark):
    """Two cohorts, independent cumulative revenue per cohort."""
    import datetime as dt

    rows = [
        (1, dt.date(2024, 1, 5), 10.0),
        (1, dt.date(2024, 2, 5), 20.0),
        (2, dt.date(2024, 2, 10), 5.0),
        (2, dt.date(2024, 3, 10), 7.0),
    ]
    o = spark.createDataFrame(
        rows, "o_custkey long, od date, o_totalprice double"
    ).select(
        "o_custkey",
        F.date_trunc("month", "od").alias("m"),
        F.col("o_totalprice").cast("decimal(18,6)").alias("rev"),
    )
    first = o.groupBy("o_custkey").agg(F.min("m").alias("cohort"))
    j = o.join(first, "o_custkey").select(
        "cohort", F.months_between("m", "cohort").cast("int").alias("mi"), "rev"
    )
    g = j.groupBy("cohort", "mi").agg(F.sum("rev").alias("rev"))
    w = Window.partitionBy("cohort").orderBy("mi").rowsBetween(
        Window.unboundedPreceding, 0
    )
    got = {
        (r["cohort"].strftime("%Y-%m"), r["mi"]): float(r["cum"])
        for r in g.select(
            "cohort", "mi", F.sum("rev").over(w).cast("double").alias("cum")
        ).collect()
    }
    assert got == {
        ("2024-01", 0): 10.0,
        ("2024-01", 1): 30.0,
        ("2024-02", 0): 5.0,
        ("2024-02", 1): 12.0,
    }


def test_nb_classifier_separable_corpus(spark):
    """Perfectly separable weak-label corpus: the NB log-odds must
    recover the labels (positive-token docs score > 0, negative < 0)."""
    from sparkstreaming_realtime_project_spark.operators.textstats import (
        nb_token_classifier,
    )

    rows = [(i, "good great fine nice", 1) for i in range(10)] + [
        (100 + i, "bad awful poor sad", 0) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    out = {
        r["id"]: r
        for r in nb_token_classifier(
            df, "text", "doc_id", "label", n_buckets=64
        ).collect()
    }
    for i in range(10):
        assert out[i]["predicted"] == 1 and out[i]["score"] > 0
        assert out[100 + i]["predicted"] == 0 and out[100 + i]["score"] < 0
    assert out[0]["n_tokens"] == 4


def test_gini_hand_computed(spark):
    """x=[1,1,2,4]: gini = (2*25 - 5*8)/(4*8) = 0.3125; and perfect
    equality gives 0."""
    from sparkstreaming_realtime_project_spark.operators.distributed import (
        prefix_sums,
    )

    def gini(vals):
        r = spark.createDataFrame(
            [(i, float(v)) for i, v in enumerate(vals)], "c long, x double"
        ).select("c", F.col("x").cast("decimal(18,6)").alias("x"))
        ranked = prefix_sums(
            r.withColumn("_one", F.lit(1)), ["x", "c"], ["_one"]
        )
        g = ranked.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("_one_cum") * F.col("x")).alias("six"),
        ).collect()[0]
        n, sx, six = g["n"], float(g["sx"]), float(g["six"])
        spark.catalog.clearCache()
        return (2.0 * six - (n + 1.0) * sx) / (n * sx)

    assert abs(gini([1, 1, 2, 4]) - 0.3125) < 1e-9
    assert abs(gini([5, 5, 5, 5])) < 1e-9


def test_nb_classifier_single_class_label_fails_loud(spark):
    """A degenerate weak label (all one class) must raise — the prior
    ln(ng/nb) is undefined and silently scoring ln(1e-6) would hand a
    wrong model to every downstream doc (ks_two_sample posture)."""
    import pytest
    from pyspark.errors import SparkRuntimeException
    from sparkstreaming_realtime_project_spark.operators.textstats import (
        nb_token_classifier,
    )

    df = spark.createDataFrame(
        [(i, "all positive text", 1) for i in range(6)],
        "doc_id long, text string, label int",
    )
    with pytest.raises(SparkRuntimeException, match="single-class"):
        nb_token_classifier(df, "text", "doc_id", "label").collect()


def test_url_canonicalization_rules(spark):
    """Hand-built URL variants: scheme/case/www/utm/fragment/trailing-
    slash all collapse to one identity; a non-tracking param stays."""
    from sparkstreaming_realtime_project_spark.operators.urls import (
        canonical_url,
    )

    rows = [
        (1, "https://www.Example.COM/p/7/?utm_source=feed#s2"),
        (2, "http://example.com/p/7"),
        (3, "https://EXAMPLE.com/p/7#frag"),
        (4, "https://example.com/p/7?page=2"),  # real param: distinct
        (5, "https://blog.example.com/p/7"),    # different host: distinct
    ]
    df = spark.createDataFrame(rows, "id int, url string")
    got = {
        r["id"]: r["c"]
        for r in df.select("id", canonical_url(F.col("url")).alias("c")).collect()
    }
    assert got[1] == got[2] == got[3] == "example.com/p/7"
    assert got[4] == "example.com/p/7?page=2"
    assert got[5] == "blog.example.com/p/7"


def test_stutter_trim_hand_computed(spark):
    from sparkstreaming_realtime_project_spark.operators.textstats import (
        stutter_trim,
    )

    rows = [(1, "a a b b b c"), (2, "x y x"), (3, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in stutter_trim(df, "text", "doc_id").collect()}
    assert got[1]["text_trimmed"] == "a b c" and got[1]["n_stutter"] == 3
    assert got[1]["n_tokens"] == 6
    # NON-adjacent repeats stay — this is stutter repair, not dedup
    assert got[2]["text_trimmed"] == "x y x" and got[2]["n_stutter"] == 0
    assert got[3]["text_trimmed"] == "solo" and got[3]["n_stutter"] == 0


def test_knn_filtered_respects_predicate(spark, sf_dir):
    """Every returned neighbor satisfies the metadata pre-filter and
    each query gets its full k (pre-filter cannot starve)."""
    from sparkstreaming_realtime_project_spark.plans.catalog import (
        x_knn_filtered,
    )
    from sparkstreaming_realtime_project_spark.sources.batch import load_table

    out = x_knn_filtered(spark, sf_dir).collect()
    emb = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    assert len(out) == 25  # 5 queries x k=5
    for r in out:
        assert emb[r["neighbor_id"]] == 1
        assert r["neighbor_id"] % 2 == 0


def test_ivm_maintain_sum_count_all_delta_cases(spark):
    """Hand-built changefeed covering every IVM delta rule: insert,
    delete, in-place update, and the hard one — group-key MIGRATION
    (retract from old group + insert into new). Maintained aggregate
    must equal a direct recompute over the new snapshot."""
    from sparkstreaming_realtime_project_spark.operators.cdc import (
        maintain_sum_count,
    )

    old = spark.createDataFrame(
        [
            (1, 10.0, "g1"),  # unchanged
            (2, 20.0, "g1"),  # value update in place
            (3, 30.0, "g1"),  # migrates g1 -> g2
            (4, 40.0, "g2"),  # deleted
        ],
        "k long, v double, g string",
    )
    new = spark.createDataFrame(
        [
            (1, 10.0, "g1"),
            (2, 25.0, "g1"),
            (3, 30.0, "g2"),
            (5, 50.0, "g3"),  # inserted into a brand-new group
        ],
        "k long, v double, g string",
    )
    got = {
        r["g"]: (r["n_rows"], r["total"])
        for r in maintain_sum_count(old, new, ["k"], "g", "v").collect()
    }
    # recompute by hand over `new`: g1 = {10, 25}, g2 = {30}, g3 = {50};
    # old g2 member 4 deleted, so g2 must NOT retain its 40
    assert got == {"g1": (2, 35.0), "g2": (1, 30.0), "g3": (1, 50.0)}


def test_lang_guess_detects_chinese(spark):
    """A Han-character doc has no whitespace stopword tokens to match —
    the zh score counts characters; European markers keep priority on
    mixed text per the fixed en>de>fr>es>zh order."""
    from sparkstreaming_realtime_project_spark.operators.textstats import (
        lang_guess,
    )

    rows = [
        (1, "小米手机是很好的产品"),
        (2, "the quick brown fox of the hill"),
        (3, "the 小米 phone of choice"),  # mixed: en priority wins
        (4, "zzz qqq"),                   # nothing matches
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in lang_guess(df, "text", "doc_id").collect()}
    assert got[1]["lang_guess"] == "zh" and got[1]["score_zh"] == 10
    assert got[2]["lang_guess"] == "en"
    assert got[3]["lang_guess"] == "en" and got[3]["score_zh"] == 2
    assert got[4]["lang_guess"] == "unk"


# ---------------------------------------------------------------------------
# Round-10 (cont.): mlprep family, graph completion, readability.
# ---------------------------------------------------------------------------


def test_target_encode_oof_hand_computed(spark):
    """A row's own fold must never contribute to its own encoding, and a
    key entirely inside one fold degrades to the smoothed prior."""
    from sparkstreaming_realtime_project_spark.operators.mlprep import (
        target_encode_oof,
    )

    df = spark.createDataFrame(
        [("A", 0, 10.0), ("A", 1, 20.0), ("B", 0, 30.0)],
        "key string, fold int, t double",
    )
    got = {
        (r.key, r.fold): (r.n_oof, r.enc)
        for r in target_encode_oof(df, "key", "fold", "t", smoothing=2.0)
        .collect()
    }
    # priors: fold0 -> (60-40)/(3-2)=20; fold1 -> (60-20)/(3-1)=20
    assert got[("A", 0)] == (1, 20.0)  # (20 + 2*20) / (1 + 2)
    assert got[("A", 1)] == (1, round((10 + 2 * 20) / 3, 6))
    assert got[("B", 0)] == (0, 20.0)  # no OOF rows -> pure prior


def test_woe_iv_hand_computed(spark):
    import math

    from sparkstreaming_realtime_project_spark.operators.mlprep import woe_iv

    df = spark.createDataFrame(
        [("X", 0), ("X", 0), ("X", 1), ("Y", 1), ("Y", 1)],
        "bin string, bad int",
    )
    got = {
        r.bin: r for r in woe_iv(df, "bin", F.col("bad") == 1).collect()
    }
    woe_x = round(math.log(((2 + 0.5) * 3) / ((1 + 0.5) * 2)), 6)
    woe_y = round(math.log(((0 + 0.5) * 3) / ((2 + 0.5) * 2)), 6)
    assert (got["X"].n, got["X"].n_bad, got["X"].woe) == (3, 1, woe_x)
    assert (got["Y"].n, got["Y"].n_bad, got["Y"].woe) == (2, 2, woe_y)
    assert got["X"].iv == round((2 / 2 - 1 / 3) * woe_x, 6)
    assert got["Y"].iv == round((0 / 2 - 2 / 3) * woe_y, 6)


def test_ols_trend_exact_line_and_degenerate(spark):
    from sparkstreaming_realtime_project_spark.operators.mlprep import ols_trend

    df = spark.createDataFrame(
        [("k", 0, 1.0), ("k", 1, 3.0), ("k", 2, 5.0),
         ("j", 1, 5.0), ("j", 1, 7.0)],
        "key string, x int, y double",
    )
    got = {r.key: r for r in ols_trend(df, "key", "x", "y").collect()}
    assert (got["k"].slope, got["k"].intercept, got["k"].r2) == (2.0, 1.0, 1.0)
    # no x-variance: slope/intercept/r2 are NULL, not a crash or a 0/0
    assert got["j"].slope is None
    assert got["j"].intercept is None
    assert got["j"].r2 is None


def test_aqp_estimate_internal_consistency(spark):
    from sparkstreaming_realtime_project_spark.operators.mlprep import (
        aqp_sum_estimate,
    )

    df = spark.range(5000).select(
        F.col("id"), (F.col("id") % 97).cast("double").alias("v")
    )
    r = aqp_sum_estimate(df, F.col("id"), "v").collect()[0]
    assert r.n_total == 5000
    assert 0 < r.n_sample < r.n_total
    assert r.exact_total == round(sum(i % 97 for i in range(5000)), 2)
    assert r.ci_lo <= r.est_total <= r.ci_hi
    assert r.covered == (r.ci_lo <= r.exact_total <= r.ci_hi)


def test_label_propagation_two_cliques(spark):
    """Two disjoint triangles collapse to their lexicographically
    smallest member; the self-vote keeps the result stable (a pure
    neighbor vote oscillates on bipartite subgraphs)."""
    from sparkstreaming_realtime_project_spark.operators.graph import (
        label_propagation,
    )

    tri1 = [("a", "b"), ("b", "c"), ("a", "c")]
    tri2 = [("d", "e"), ("e", "f"), ("d", "f")]
    und = tri1 + tri2
    edges = spark.createDataFrame(
        und + [(y, x) for x, y in und], "src string, dst string"
    )
    out = label_propagation(edges, iters=3)
    got = {r.node: r.community for r in out.collect()}
    out.unpersist()
    assert got == {"a": "a", "b": "a", "c": "a",
                   "d": "d", "e": "d", "f": "d"}


def test_bfs_hops_path_graph(spark):
    from sparkstreaming_realtime_project_spark.operators.graph import bfs_hops

    und = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    edges = spark.createDataFrame(
        und + [(y, x) for x, y in und], "src string, dst string"
    )
    sources = spark.createDataFrame([("a",)], "node string")
    out = bfs_hops(edges, sources, max_hops=3)
    got = {r.node: r.hops for r in out.collect()}
    out.unpersist()
    # e is 4 hops out -> beyond the bound, absent not mislabeled
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_bfs_hops_min_over_multiple_paths(spark):
    """A node reachable both directly and via a longer path reports the
    SHORTEST hop count (the anti-join prunes, the min survives)."""
    from sparkstreaming_realtime_project_spark.operators.graph import bfs_hops

    und = [("s", "x"), ("s", "a"), ("a", "b"), ("b", "x")]
    edges = spark.createDataFrame(
        und + [(y, x) for x, y in und], "src string, dst string"
    )
    sources = spark.createDataFrame([("s",)], "node string")
    out = bfs_hops(edges, sources, max_hops=4)
    got = {r.node: r.hops for r in out.collect()}
    out.unpersist()
    assert got["x"] == 1  # not 3 via s-a-b-x


def test_readability_hand_computed(spark):
    from sparkstreaming_realtime_project_spark.operators.textstats import (
        readability,
    )

    df = spark.createDataFrame(
        [(1, "The cat sat. It ran!"), (2, "")], "doc_id long, text string"
    )
    got = {r.id: r for r in readability(df, "text", "doc_id").collect()}
    r = got[1]
    assert (r.n_words, r.n_sentences, r.n_vowel_groups) == (5, 2, 5)
    assert r.flesch == round(206.835 - 1.015 * (5 / 2) - 84.6 * (5 / 5), 4)
    assert r.band == "easy"
    # zero-word doc: NULL score, NULL band — not a crash, not -inf
    assert got[2].flesch is None and got[2].band is None


def test_kaplan_meier_hand_computed(spark):
    import math

    from sparkstreaming_realtime_project_spark.operators.survival import (
        kaplan_meier,
    )

    df = spark.createDataFrame(
        [(5, 1), (5, 1), (8, 0), (10, 1), (12, 0)], "dur int, event int"
    )
    got = {r.t: r for r in kaplan_meier(df).collect()}
    # censored-only times (8, 12) emit no curve step
    assert sorted(got) == [5, 10]
    assert (got[5].n_risk, got[5].d_events) == (5, 2)
    assert (got[10].n_risk, got[10].d_events) == (2, 1)

    def lnsc(f):
        return math.floor(math.log(f) * 1e9 + 0.5)

    assert got[5].survival == round(math.exp(lnsc(1 - 2 / 5) / 1e9), 6)
    assert got[10].survival == round(
        math.exp((lnsc(1 - 2 / 5) + lnsc(1 - 1 / 2)) / 1e9), 6
    )


def test_kaplan_meier_total_event_hits_zero(spark):
    """d == n_risk would send ln to -inf; the zero-flag must pin the
    curve to exactly 0 there and at every later event time."""
    from sparkstreaming_realtime_project_spark.operators.survival import (
        kaplan_meier,
    )

    df = spark.createDataFrame([(3, 1), (1, 1)], "dur int, event int")
    got = {r.t: r.survival for r in kaplan_meier(df).collect()}
    assert got[1] == 0.5
    assert got[3] == 0.0  # last at-risk subject dies: exact zero, no inf


def test_mutual_information_extremes(spark):
    import math

    from sparkstreaming_realtime_project_spark.operators.mlprep import (
        mutual_information,
    )

    dep = spark.createDataFrame(
        [("a", "a"), ("b", "b")], "x string, y string"
    )
    r = mutual_information(dep, "x", "y").collect()[0]
    assert r.mi == round(math.log(2), 6)
    assert r.h_x == r.h_y == r.mi
    assert r.nmi == 1.0

    ind = spark.createDataFrame(
        [("a", "u"), ("a", "v"), ("b", "u"), ("b", "v")],
        "x string, y string",
    )
    r = mutual_information(ind, "x", "y").collect()[0]
    assert r.mi == 0.0
    assert r.nmi == 0.0


def test_conformal_split_hand_computed(spark):
    from sparkstreaming_realtime_project_spark.operators.mlprep import (
        conformal_split,
    )

    rows = (
        [("k", 0, 10.0), ("k", 0, 20.0)]  # mu = 15
        + [("k", 1, 15.0), ("k", 1, 25.0), ("k", 1, 5.0), ("k", 1, 30.0)]
        + [("k", 2, 20.0), ("k", 2, 40.0)]  # residuals 5, 25
    )
    df = spark.createDataFrame(rows, "key string, fold int, y double")
    r = conformal_split(df, "key", "fold", "y", alpha=0.5).collect()[0]
    # k = ceil(0.5 * 5) = 3rd smallest of |r| = [0, 10, 10, 15] -> 10
    assert (r.n_cal, r.n_test, r.q_hat) == (4, 2, 10.0)
    assert r.coverage == 0.5  # residual 5 covered, 25 not

    # alpha=0.1 needs k = ceil(0.9*5) = 5 > n_cal=4: honest NULL, no clamp
    r = conformal_split(df, "key", "fold", "y", alpha=0.1).collect()[0]
    assert r.q_hat is None and r.coverage is None


def test_stratified_ate_hand_computed(spark):
    """Confounded toy: stratum adjustment shifts the naive estimate,
    one-armed strata are dropped and counted, never imputed."""
    from sparkstreaming_realtime_project_spark.operators.mlprep import (
        stratified_ate,
    )

    rows = [
        ("A", 1, 10.0), ("A", 0, 6.0),               # diff 4, n_s 2
        ("B", 1, 20.0), ("B", 1, 22.0), ("B", 0, 10.0),  # diff 11, n_s 3
        ("C", 0, 5.0),                                # control-only: drop
    ]
    df = spark.createDataFrame(rows, "s string, t int, y double")
    r = stratified_ate(df, "s", F.col("t") == 1, "y").collect()[0]
    assert (r.n, r.n_strata_used, r.n_strata_dropped) == (6, 2, 1)
    assert r.ate == round((2 * 4 + 3 * 11) / 5, 6)  # 8.2
    naive = (10 + 20 + 22) / 3 - (6 + 10 + 5) / 3
    assert r.naive_diff == round(naive, 6)
    assert r.bias == round(naive - 8.2, 6)


def test_new_family_degenerate_edges(spark):
    """Degenerate inputs produce honest NULLs / empty results, never a
    crash, an inf, or a silently-wrong number."""
    from sparkstreaming_realtime_project_spark.operators.mlprep import (
        aqp_sum_estimate,
        conformal_split,
        mutual_information,
        target_encode_oof,
        woe_iv,
    )
    from sparkstreaming_realtime_project_spark.operators.survival import (
        kaplan_meier,
    )

    # MI with a constant x column: H_x = 0, NMI undefined -> NULL
    one = spark.createDataFrame(
        [("a", "u"), ("a", "v")], "x string, y string"
    )
    r = mutual_information(one, "x", "y").collect()[0]
    assert r.h_x == 0.0 and r.mi == 0.0 and r.nmi is None

    # WOE with an all-bad corpus: total-good = 0 -> NULL woe, not inf
    allbad = spark.createDataFrame(
        [("X", 1), ("Y", 1)], "bin string, bad int"
    )
    for row in woe_iv(allbad, "bin", F.col("bad") == 1).collect():
        assert row.woe is None and row.iv is None

    # conformal with identical residuals: q_hat = the value, coverage 1
    rows = (
        [("k", 0, 10.0)] * 2
        + [("k", 1, 12.0)] * 9
        + [("k", 2, 12.0)] * 3
    )
    r = conformal_split(
        spark.createDataFrame(rows, "key string, fold int, y double"),
        "key", "fold", "y", alpha=0.1,
    ).collect()[0]
    assert r.q_hat == 2.0 and r.coverage == 1.0

    # KM with every duration censored: no event times -> empty curve
    cens = spark.createDataFrame([(5, 0), (9, 0)], "dur int, event int")
    assert kaplan_meier(cens).count() == 0

    # OOF encoding with a single fold is undefined (no out-of-fold
    # data anywhere): honest NULL, not a fabricated prior
    single = spark.createDataFrame(
        [("A", 0, 1.0), ("B", 0, 2.0)], "key string, fold int, t double"
    )
    for row in target_encode_oof(single, "key", "fold", "t").collect():
        assert row.n_oof == 0 and row.enc is None

    # AQP on an empty frame: zero counts, NULL estimates, no crash
    empty = spark.createDataFrame([], "id long, v double")
    r = aqp_sum_estimate(empty, F.col("id"), "v").collect()[0]
    assert r.n_total == 0 and r.est_total is None and r.covered is None


def test_bfs_hops_disconnected_source(spark):
    from sparkstreaming_realtime_project_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    sources = spark.createDataFrame([("z",)], "node string")
    out = bfs_hops(edges, sources, max_hops=3)
    got = {r.node: r.hops for r in out.collect()}
    out.unpersist()
    assert got == {"z": 0}  # the source itself, nothing else

def test_bpe_train_distributed_matches_reference(spark):
    """VERDICT r10 #4: the distributed trainer's learned merge table
    must match the single-node reference (`train_merges`) pair-for-pair
    in priority order on the same corpus — including the overlapping
    count and (count DESC, pair ASC) tie semantics the reference test
    above pins down."""
    from sparkstreaming_realtime_project_spark.functions import bpe

    docs = [
        "the cat sat".split(),
        "the cat ran".split(),
        "the cat sat down".split(),
        "a a a".split(),
    ]
    # deterministic synthetic tail so later rounds have non-trivial ties
    for i in range(20):
        docs.append([f"w{j % 5}" for j in range(i % 7 + 2)])
    ref = bpe.train_merges(docs, n_merges=6)
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, t array<string>"
    )
    got = bpe.train_merges_distributed(df, "t", n_merges=6).collect()
    assert [(r.merge_left, r.merge_right) for r in sorted(got, key=lambda r: r.merge_rank)] == ref
    assert all(r.pair_count > 0 for r in got)


def test_bpe_train_memo_evicts_dead_applications(spark):
    """x_bpe_train memoizes collected merge tables keyed by
    (applicationId, sf_dir); a long-lived process that restarts Spark
    sessions must not accumulate dead applications' tables — on any
    miss, keys from other applicationIds are evicted (r11 ADVICE)."""
    from sparkstreaming_realtime_project_spark.plans import catalog as cat

    app = spark.sparkContext.applicationId
    saved = dict(cat._BPE_TRAIN_MEMO)
    try:
        cat._BPE_TRAIN_MEMO.clear()
        cat._BPE_TRAIN_MEMO[("dead-app-1", "/x")] = [("stale",)]
        cat._BPE_TRAIN_MEMO[("dead-app-2", "/y")] = [("stale",)]
        cat.x_bpe_train(spark, "/root/testdata/sf0.001").count()
        assert ("dead-app-1", "/x") not in cat._BPE_TRAIN_MEMO
        assert ("dead-app-2", "/y") not in cat._BPE_TRAIN_MEMO
        assert (app, "/root/testdata/sf0.001") in cat._BPE_TRAIN_MEMO
    finally:
        cat._BPE_TRAIN_MEMO.clear()
        cat._BPE_TRAIN_MEMO.update(saved)


def test_suffix_span_pairs_exact(spark):
    """Known-geometry corpus: a 20-token block shared by docs 1 and 2 at
    different offsets must come back as ONE maximal span with exact
    positions; a shorter 8-token share is filtered by min_len; a doc
    repeating the block twice yields two diagonal runs."""
    from sparkstreaming_realtime_project_spark.operators import dedup as dd2

    shared = " ".join(f"s{i}" for i in range(20))
    short = " ".join(f"q{i}" for i in range(8))
    rows = [
        (1, f"a1 a2 a3 {shared} a4 a5 {short}"),
        (2, f"b1 {shared} b2 b3 b4 b5 b6 {short} b7"),
        (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
        (4, f"d1 d2 {shared} d3 {shared} d4"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dd2.suffix_span_pairs(
        df, "text", "doc_id", k=8, min_len=16, max_df=None
    )
    got = {
        (r.doc_a, r.doc_b, r.a_start, r.a_end, r.b_start, r.b_end, r.span_len)
        for r in out.collect()
    }
    out.unpersist()
    # doc1: shared at tokens 4..23; doc2: at 2..21; doc4: at 3..22 and 24..43
    assert (1, 2, 4, 23, 2, 21, 20) in got
    assert (1, 4, 4, 23, 3, 22, 20) in got
    assert (1, 4, 4, 23, 24, 43, 20) in got
    assert (2, 4, 2, 21, 3, 22, 20) in got
    assert (2, 4, 2, 21, 24, 43, 20) in got
    # doc4 shares the block with itself at two offsets but pairs are
    # cross-doc only; the 8-token share is < min_len; doc3 pairs nothing
    assert all(a != b for a, b, *_ in got)
    assert all(ln >= 16 for *_, ln in got)
    assert not any(3 in (a, b) for a, b, *_ in got)
    assert len(got) == 5


def test_suffix_span_recall_cap_semantics(spark):
    """Uncapped == ground truth (recall exactly 1.0); a cap of 1 kills
    every anchor that appears twice, so nothing is found."""
    from sparkstreaming_realtime_project_spark.operators import dedup as dd2

    shared = " ".join(f"s{i}" for i in range(20))
    rows = [(1, f"x1 x2 {shared}"), (2, f"{shared} y1"), (3, "z1 z2 z3")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    loose = dd2.suffix_span_recall(df, "text", "doc_id", k=8, min_len=16, max_df=99)
    r = loose.collect()[0]
    loose.unpersist()
    assert r.n_truth_pairs == 1 and r.n_found_pairs == 1
    assert r.pair_recall == 1.0 and r.mass_recall == 1.0
    tight = dd2.suffix_span_recall(df, "text", "doc_id", k=8, min_len=16, max_df=1)
    r2 = tight.collect()[0]
    tight.unpersist()
    assert r2.n_found_pairs == 0 and r2.found_token_mass == 0
    assert r2.pair_recall == 0.0


def test_detail_keyset_equals_offset(spark):
    """Page-k equivalence: walking pages with the keyset cursor must
    reproduce exactly the offset path's pages, including a tied
    create_time straddling a page boundary."""
    from sparkstreaming_realtime_project_spark.plans.serving import (
        detail_by_item,
        detail_by_item_keyset,
    )

    rows = [
        ("2024-01-05", f"2024-01-05 10:{m:02d}:00", i, "spark join demo")
        for i, m in enumerate([5, 5, 5, 4, 4, 3, 3, 3, 2, 1, 1, 0])
    ]
    wide = spark.createDataFrame(
        rows, "dt string, create_time string, detail_id long, sku_name string"
    )
    pages_offset = []
    for page_no in (1, 2, 3):
        _, p = detail_by_item(
            wide, "2024-01-05", "spark join", page_no=page_no, page_size=5
        )
        pages_offset.append([(r.create_time, r.detail_id) for r in p.collect()])
    cursor, pages_keyset = None, []
    for _ in range(3):
        p = detail_by_item_keyset(
            wide, "2024-01-05", "spark join", after=cursor, page_size=5
        ).collect()
        pages_keyset.append([(r.create_time, r.detail_id) for r in p])
        if p:
            cursor = (p[-1].create_time, p[-1].detail_id)
    assert pages_offset == pages_keyset
    assert len(pages_keyset[0]) == 5 and len(pages_keyset[2]) == 2


def test_suffix_span_recall_degenerate_no_truth(spark):
    """A corpus with NO shared spans: recall is honestly undefined —
    NULL on both axes, masses 0, never NaN or a division error (the
    engine/oracle symmetry the woe_iv zero-marginal fix established)."""
    from sparkstreaming_realtime_project_spark.operators import dedup as dd2

    rows = [(1, "a1 a2 a3 a4 a5 a6 a7 a8 a9"), (2, "b1 b2 b3 b4 b5 b6 b7 b8 b9")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dd2.suffix_span_recall(df, "text", "doc_id", k=8, min_len=8, max_df=64)
    r = out.collect()[0]
    out.unpersist()
    assert r.n_truth_pairs == 0 and r.n_found_pairs == 0
    assert r.truth_token_mass == 0 and r.found_token_mass == 0
    assert r.pair_recall is None and r.mass_recall is None


def test_spread_estimate_small_files_and_conf_parse(spark, tmp_path):
    """spread()'s driver-side partition estimate: (a) many tiny files
    must still spread (Spark bin-packs them into ~2 scan partitions —
    the raw file count lied); (b) one small file spreads; (c) Spark
    byte-string confs parse with any unit suffix and malformed values
    fall back instead of crashing the caller."""
    from sparkstreaming_realtime_project_spark.operators.dedup import (
        _parse_bytes,
        spread,
    )

    # (c) conf parsing
    assert _parse_bytes("134217728", 1) == 134217728
    assert _parse_bytes("134217728b", 1) == 134217728
    assert _parse_bytes("128m", 1) == 128 << 20
    assert _parse_bytes("1g", 1) == 1 << 30
    assert _parse_bytes("1t", 1) == 1 << 40
    assert _parse_bytes("garbage", 42) == 42

    target = spark.sparkContext.defaultParallelism
    # (a) 40 tiny one-row files: openCost padding packs them into ~2
    # scan partitions, so spread must repartition to target
    many = str(tmp_path / "many")
    spark.range(40).repartition(40).write.parquet(many)
    df = spark.read.parquet(many)
    out = spread(df, "id")
    assert "REPARTITION_BY_COL" in out._jdf.queryExecution().logical().toString() or \
        out._jdf.queryExecution().executedPlan().toString().count("Exchange") >= 1
    # (b) a single small file spreads too
    one = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(one)
    out1 = spread(spark.read.parquet(one), "id")
    assert "Exchange" in out1._jdf.queryExecution().executedPlan().toString()
    # (d) a stream-compressed file is NOT splittable: Spark scans one
    # .json.gz as exactly one partition no matter its size, so the
    # estimate must count it as one split — under a tiny
    # maxPartitionBytes the splittable formula would claim >= target
    # splits and silently skip the repartition a one-partition scan
    # needs (the r11 ADVICE regression)
    gz = str(tmp_path / "gz")
    spark.range(200).coalesce(1).write.option("compression", "gzip").json(gz)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16")
        outg = spread(spark.read.json(gz), "id")
        assert "Exchange" in outg._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_suffix_recall_hot_boilerplate_cap_binds(spark):
    """The anchor df-cap under the regime it exists for: 30 docs share
    one boilerplate sentence (its anchors have df=30), and exactly one
    doc pair additionally shares a UNIQUE long span. At cap 8 the
    boilerplate anchors are dropped — the C(30,2) boilerplate-only
    pairs are lost (that is the cap's measured cost) — while the
    unique-span pair survives. The sf0.01 catalog entry reads 1.0
    because that corpus has no hot anchors; this is the other half of
    the instrument's range."""
    from sparkstreaming_realtime_project_spark.operators import dedup as dd2

    boiler = " ".join(f"bp{i}" for i in range(16))
    unique = " ".join(f"u{i}" for i in range(20))
    rows = [(i, f"doc{i}head {boiler} doc{i}tail") for i in range(30)]
    rows[3] = (3, f"doc3head {boiler} {unique}")
    rows[7] = (7, f"{unique} doc7mid {boiler} doc7tail")
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dd2.suffix_span_recall(df, "text", "doc_id", k=8, min_len=16, max_df=8)
    r = out.collect()[0]
    out.unpersist()
    assert r.n_truth_pairs == 30 * 29 // 2  # every pair shares the boilerplate
    assert r.n_found_pairs == 1             # only the unique-span pair survives
    assert 0 < r.pair_recall < 0.01
    # and the surviving pair's span is the unique one, exactly
    found = dd2.suffix_span_pairs(
        df, "text", "doc_id", k=8, min_len=16, max_df=8
    )
    got = {(p.doc_a, p.doc_b, p.span_len) for p in found.collect()}
    found.unpersist()
    assert got == {(3, 7, 20)}


def test_bpe_train_distributed_early_stop(spark):
    """A corpus that exhausts its pairs before n_merges: both trainers
    stop at the same round with the same merges (the distributed
    version's empty-argmax break mirrors the reference's empty-counts
    break), instead of erroring on the emptied state."""
    from sparkstreaming_realtime_project_spark.functions import bpe

    docs = [["a", "b"], ["a", "b"], ["c"]]
    ref = bpe.train_merges(docs, n_merges=5)
    assert ref == [("a", "b")]  # round 2 has no pairs left
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, t array<string>"
    )
    got = bpe.train_merges_distributed(df, "t", n_merges=5).collect()
    assert [(r.merge_left, r.merge_right, r.pair_count) for r in got] == [
        ("a", "b", 2)
    ]


def test_suffix_span_cap_healing_bridges_hot_interior(spark):
    """Bidirectional-extension healing: a pair shares A(11) H(14) B(11)
    where H also appears in 20 filler docs — H's 7 interior anchors go
    over the df-cap and are dropped, but the surviving boundary anchors
    (whose windows carry pair-unique A/B context) sit exactly k apart,
    so the k-gap island merge returns ONE 36-token span. A strict
    +1-gap merge would have fragmented it into two 18-token spans."""
    from sparkstreaming_realtime_project_spark.operators import dedup as dd2

    A = " ".join(f"a{i}" for i in range(11))
    H = " ".join(f"h{i}" for i in range(14))
    B = " ".join(f"b{i}" for i in range(11))
    rows = [(1, f"x1 {A} {H} {B} y1"), (2, f"z1 z2 {A} {H} {B} w1")]
    rows += [(10 + j, f"f{j}_1 {H} f{j}_2") for j in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dd2.suffix_span_pairs(
        df, "text", "doc_id", k=8, min_len=16, max_df=8
    )
    got = [
        (r.doc_a, r.doc_b, r.span_len)
        for r in out.collect()
        if r.doc_a == 1 and r.doc_b == 2
    ]
    out.unpersist()
    assert got == [(1, 2, 36)]


def test_suffix_scrub_pair_precision(spark):
    """Pair-precision one-copy-survives: the lower doc id keeps each
    shared span, the higher loses exactly its covered positions; short
    overlaps under min_len survive everywhere; a doc can win one span
    and lose another in the same text."""
    from sparkstreaming_realtime_project_spark.operators import dedup as dd2

    S = " ".join(f"s{i}" for i in range(20))   # long shared span
    T = " ".join(f"t{i}" for i in range(20))   # second long shared span
    short = " ".join(f"q{i}" for i in range(10))  # under min_len=16
    rows = [
        (1, f"a1 a2 {S} a3 {short}"),
        (2, f"{S} b1 {T} {short}"),
        (3, f"c1 {T} c2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dd2.suffix_scrub(
        df, "text", "doc_id", k=8, min_len=16, max_df=None
    )
    got = {r.doc_id: (r.clean_text, r.n_tokens, r.n_removed) for r in out.collect()}
    out.unpersist()
    # doc1: lowest id — keeps everything (2 + 20 + 1 + 10 tokens)
    assert got[1][2] == 0 and got[1][1] == 33
    # doc2: loses S (to doc1) but KEEPS T (it is the a-side vs doc3);
    # the short overlap survives
    clean2 = got[2][0].split()
    assert got[2][2] == 20
    assert "s0" not in clean2 and "t0" in clean2 and "q0" in clean2
    # doc3: loses T to doc2
    assert got[3][2] == 20 and "t5" not in got[3][0].split()


def test_suffix_scrub_duckdb_parity_sf001(spark):
    """Cross-engine parity for suffix_scrub on the real sf0.001 corpus:
    the DuckDB twin replays grams -> capped anchors -> k-gap diagonal
    runs -> b-side coverage -> indexed token filter. This is the oracle
    SQL the round-12 catalog registration will ship — verified ahead of
    time through the driver's own canonicalizing compare."""
    from sparkstreaming_realtime_project_spark.operators import dedup as dd2
    from sparkstreaming_realtime_project_spark.plans.catalog import (
        _SUFFIX_GRAMS_SQL,
        _suffix_spans_sql,
    )
    from sparkstreaming_realtime_project_spark.sources.batch import load_table
    from tests.oracle import compare, duck_connection

    sf = "/root/testdata/sf0.001"
    out = dd2.suffix_scrub(
        load_table(spark, sf, "documents"), "text", "doc_id",
        k=8, min_len=16, max_df=64,
    )
    sql = f"""
    WITH {_SUFFIX_GRAMS_SQL},
    {_suffix_spans_sql(k=8, min_len=16, max_df=64)},
    covl AS (SELECT doc_id, list(p) AS cov FROM (SELECT DISTINCT doc_id, p FROM
             (SELECT doc_b AS doc_id, unnest(range(b_start, b_end + 1)) AS p
              FROM sp_anch_grams)) GROUP BY doc_id)
    SELECT t.doc_id,
           coalesce(array_to_string([t.t[i] FOR i IN range(1, len(t.t) + 1)
                            IF NOT list_contains(coalesce(c.cov, []), i)], ' '),
                    '') AS clean_text,
           len(t.t) AS n_tokens,
           len(coalesce(c.cov, [])) AS n_removed
    FROM toks t LEFT JOIN covl c USING (doc_id)
    """
    con = duck_connection(sf)
    ok, msg = compare(out, con, sql)
    assert ok, msg


def test_suffix_self_spans_within_doc_repeats(spark):
    """Within-doc repeats: a doc repeating a 20-token paragraph at
    distance 25 yields one span on that diagonal with exact positions;
    a tandem stutter reports on its period diagonal; cross-doc sharing
    is ignored; min_len filters short repeats."""
    from sparkstreaming_realtime_project_spark.operators import dedup as dd2

    P = " ".join(f"p{i}" for i in range(20))
    stutter = " ".join("x" * 1 for _ in range(24))  # 24 'x' tokens
    rows = [
        (1, f"h1 h2 {P} m1 m2 m3 {P} t1"),     # repeat at distance 23
        (2, stutter),                            # tandem repeat, period 1
        (3, f"{P} z1 z2"),                       # shares P with doc1 only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dd2.suffix_self_spans(
        df, "text", "doc_id", k=8, min_len=16, max_df=None
    )
    got = {
        (r.doc_id, r.dist, r.a_start, r.a_end, r.b_start, r.b_end, r.span_len)
        for r in out.collect()
    }
    out.unpersist()
    # doc1: P at tokens 3..22 and 26..45 -> distance 23, exactly once
    assert [t for t in got if t[0] == 1] == [(1, 23, 3, 22, 26, 45, 20)]
    # doc2: an all-same stutter is a genuine repeat at EVERY distance
    # (period-1 is the canonical tandem view; d=2.. are also true)
    assert (2, 1, 1, 23, 2, 24, 23) in got
    # doc3 has no self-repeat; cross-doc sharing must NOT appear
    assert not any(d == 3 for d, *_ in got)


def test_suffix_self_spans_duckdb_parity_sf001(spark):
    """Cross-engine parity for the within-doc variant on sf0.001 — the
    round-12 oracle SQL validated ahead (same-doc pos_a < pos_b join,
    repeat-distance diagonals, k-gap islands)."""
    from sparkstreaming_realtime_project_spark.operators import dedup as dd2
    from sparkstreaming_realtime_project_spark.plans.catalog import (
        _SUFFIX_GRAMS_SQL,
    )
    from sparkstreaming_realtime_project_spark.sources.batch import load_table
    from tests.oracle import compare, duck_connection

    sf = "/root/testdata/sf0.001"
    out = dd2.suffix_self_spans(
        load_table(spark, sf, "documents"), "text", "doc_id",
        k=8, min_len=16, max_df=64,
    ).withColumn("span_len", F.col("span_len").cast("long"))
    sql = f"""
    WITH {_SUFFIX_GRAMS_SQL},
    keep AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= 64),
    anch AS (SELECT doc_id, g, pos FROM grams JOIN keep USING (g)),
    m AS (SELECT a.doc_id, a.pos AS pa, b.pos AS pb, b.pos - a.pos AS dist
          FROM anch a JOIN anch b
            ON a.g = b.g AND a.doc_id = b.doc_id AND a.pos < b.pos),
    isl AS (SELECT doc_id, dist, pa, pb,
                 CASE WHEN lag(pa) OVER w IS NULL OR pa > lag(pa) OVER w + 8
                      THEN 1 ELSE 0 END AS nr
          FROM m WINDOW w AS (PARTITION BY doc_id, dist ORDER BY pa)),
    runs AS (SELECT *, sum(nr) OVER (PARTITION BY doc_id, dist ORDER BY pa
                                     ROWS UNBOUNDED PRECEDING) AS run_id
          FROM isl)
    SELECT doc_id, dist, min(pa) AS a_start, max(pa) + 7 AS a_end,
           min(pb) AS b_start, max(pb) + 7 AS b_end,
           CAST(max(pa) - min(pa) + 8 AS BIGINT) AS span_len
    FROM runs GROUP BY doc_id, dist, run_id
    HAVING max(pa) - min(pa) + 8 >= 16
    """
    con = duck_connection(sf)
    ok, msg = compare(out, con, sql)
    assert ok, msg


def test_suffix_self_scrub_keeps_first_occurrence(spark):
    """First occurrence survives, the repeat is dropped; untouched docs
    pass through; a tandem stutter collapses to the covered-union
    complement (the first occurrence on the period-1 diagonal)."""
    from sparkstreaming_realtime_project_spark.operators import dedup as dd2

    P = " ".join(f"p{i}" for i in range(20))
    rows = [
        (1, f"h1 h2 {P} m1 m2 m3 {P} t1"),
        (2, " ".join(["x"] * 24)),
        (3, "clean doc with no repeats at all here ok fine yes"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dd2.suffix_self_scrub(
        df, "text", "doc_id", k=8, min_len=16, max_df=None
    )
    got = {r.doc_id: (r.clean_text.split(), r.n_removed) for r in out.collect()}
    out.unpersist()
    # doc1: second P (tokens 26..45) dropped, everything else kept
    assert got[1][1] == 20
    assert got[1][0] == ["h1", "h2"] + P.split() + ["m1", "m2", "m3", "t1"]
    # doc2: positions 2..24 are covered by the period-1 repeat -> one x
    assert got[2][0] == ["x"] and got[2][1] == 23
    # doc3 untouched
    assert got[3][1] == 0 and len(got[3][0]) == 11
