"""Physical-plan audits: the scale contracts each headline query must
keep — pushed-down scan filters, broadcast on the genuinely small side,
and never a nested-loop/cartesian join on a pair-generation path. A
catalog change that silently degrades a plan fails here even while
results stay correct."""

from __future__ import annotations

import pytest

from sparkstreaming_realtime_project_spark.plans import catalog

_REG = {s.name: s for s in catalog.registry()}

# (query, must-contain fragments, must-NOT-contain fragments)
CASES = [
    ("q1_pricing_summary", ["PushedFilters: [IsNotNull(l_shipdate)"], ["NestedLoop", "CartesianProduct"]),
    ("j_order_wide", [], ["NestedLoop", "CartesianProduct"]),
    ("a_stats_by_item_segment", ["BroadcastHashJoin"], ["NestedLoop", "CartesianProduct"]),
    ("a_dau_compare", [], ["NestedLoop", "CartesianProduct"]),
    ("j_dim_enrich", ["BroadcastHashJoin"], ["NestedLoop", "CartesianProduct"]),
    ("x_dedup_exact", ["HashAggregate"], ["NestedLoop", "CartesianProduct"]),
    # min_by aggregate, NOT a row_number window: the map-side partial
    # (partial_min_by) shrinks the shuffle to one row per key per
    # partition — a window would shuffle every event. (Struct-typed
    # min_by buffers plan as SortAggregate, not HashAggregate; the
    # partial is what matters.)
    ("o_dedup_first_per_day", ["partial_min_by"], ["Window", "NestedLoop"]),
    ("x_dedup_ngram_jaccard", ["HashAggregate"], ["NestedLoop", "CartesianProduct"]),
    ("x_dedup_minhash_lsh", [], ["NestedLoop", "CartesianProduct"]),
    ("x_simhash_near_pairs", [], ["NestedLoop", "CartesianProduct"]),
    ("x_dedup_embedding_bucketed", [], ["NestedLoop", "CartesianProduct"]),
    ("x_knn_bucketed", [], ["NestedLoop", "CartesianProduct"]),
    ("x_knn_multiprobe", [], ["NestedLoop", "CartesianProduct"]),
    # brute-force KNN broadcasts the query side over a non-equi condition:
    # BroadcastNestedLoopJoin is the DECLARED baseline there, but a full
    # cartesian (both sides big) is still banned.
    ("x_knn_bruteforce", [], ["CartesianProduct"]),
    # eval shingles broadcast: the training corpus never shuffles
    ("x_decontaminate", ["BroadcastHashJoin"], ["CartesianProduct"]),
    # single-row corpus stats cross join is broadcast; no true cartesian
    ("x_bm25_topk", [], ["CartesianProduct"]),
    ("j_scd2_history", [], ["NestedLoop", "CartesianProduct"]),
    # rates derived from data join back via broadcast; the single-row
    # n_min cross join is a broadcast NLJ (1 row), so only ban cartesian
    ("x_sample_temperature", ["BroadcastHashJoin"], ["CartesianProduct"]),
    ("x_pii_scrub", [], ["Exchange"]),  # pure projection: NO shuffle at all
    ("x_vocab_stats", ["HashAggregate"], ["NestedLoop", "CartesianProduct", "Window"]),
    # single-row total join for token_share is a broadcast NLJ (1 row);
    # the real claim is rank-free: no Window, no cartesian
    ("x_zipf_spectrum", ["HashAggregate"], ["CartesianProduct", "Window"]),
    # codes-only broadcast join for the ADC stage; re-rank joins on ids
    ("x_knn_pq", ["BroadcastHashJoin"], ["CartesianProduct"]),
    # as-of is union + running window: NO join operator at all in the plan
    ("j_asof_prev_order", ["Window", "Union"], ["Join", "NestedLoop", "CartesianProduct"]),
    # range join must become a bucket EQUI-join, never a theta nested loop
    ("j_range_overlap", [], ["NestedLoop", "CartesianProduct"]),
    ("j_salted_skew", [], ["NestedLoop", "CartesianProduct"]),
    ("w_rolling_7d", ["Window"], ["NestedLoop", "CartesianProduct"]),
    ("x_dedup_containment", [], ["NestedLoop", "CartesianProduct"]),
    # postings cap filters BEFORE collect_list: window then aggregate
    ("x_inverted_index", ["Window", "HashAggregate"], ["NestedLoop", "CartesianProduct"]),
    ("x_shard_assign", ["Window"], ["NestedLoop", "CartesianProduct"]),
    # pagerank's per-round join+aggregate now executes eagerly inside
    # the loop (each round localCheckpoints to cut the doubling plan
    # lineage), so the RETURNED frame's plan is a projection over the
    # final round's RDD scan — assert that shape, and that no join
    # leaked past the checkpoint
    ("x_pagerank", ["ExistingRDD"],
     ["Join", "NestedLoop", "CartesianProduct", "HashAggregate"]),
    # candidate prune is an equi-join on the inverted-list id
    ("x_knn_ivfpq", ["BroadcastHashJoin"], ["CartesianProduct"]),
    ("x_ngram_freq", ["HashAggregate"], ["NestedLoop", "CartesianProduct", "Window"]),
    ("x_boilerplate_score", ["HashAggregate"], ["NestedLoop", "CartesianProduct", "Window"]),
    # sketch cells via explode (never a key shuffle); probe joins the
    # broadcast d x w table
    ("x_cms_user_counts", ["BroadcastHashJoin"], ["NestedLoop", "CartesianProduct"]),
    ("a_funnel_daily", ["HashAggregate"], ["NestedLoop", "CartesianProduct"]),
    # ED-Join prefix rank is a per-id window; candidates come from the
    # gram equi-join (id/length predicates ride along), never a theta join
    ("x_dedup_edit_distance", ["Window"], ["NestedLoop", "CartesianProduct"]),
    # top-10 must be TakeOrdered (per-partition heads), never a global Sort+Limit
    ("q3_shipping_priority", ["TakeOrderedAndProject", "BroadcastHashJoin"],
     ["NestedLoop", "CartesianProduct"]),
    ("x_anomaly_zscore", ["BroadcastHashJoin"], ["NestedLoop", "CartesianProduct"]),
    # duplicated-gram join + per-doc island merge; pair path is an
    # equi-join on the gram md5, never a theta join
    ("x_dup_spans", ["Window", "HashAggregate"], ["NestedLoop", "CartesianProduct"]),
    # the whole point: the bloom bitset filters DURING the scan (a
    # Filter with xxhash64 below the survivor join), survivors then take
    # a broadcast semi join; never a shuffle of the unpruned fact side
    ("j_bloom_prune", ["xxhash64", "BroadcastHashJoin"], ["NestedLoop", "CartesianProduct"]),
    ("a_retention_cohort", ["HashAggregate"], ["NestedLoop", "CartesianProduct", "Window"]),
    # vocab join keys on term; single-row total joins as broadcast —
    # rank/window-free like the other vocabulary ops
    ("x_unigram_logprob", ["HashAggregate"], ["CartesianProduct", "Window"]),
]


@pytest.mark.parametrize("name,want,ban", CASES, ids=[c[0] for c in CASES])
def test_plan_shape(spark, sf_dir, name, want, ban):
    df = _REG[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for frag in want:
        assert frag in plan, f"{name}: expected plan fragment missing: {frag}"
    for frag in ban:
        assert frag not in plan, f"{name}: banned plan fragment present: {frag}"


# round-3 additions: the recall grader joins two |Q|*k frames (brute
# input is the declared BNLJ baseline, so only cartesian is banned);
# mixture/zorder keep their single-row bounds joins broadcast.
CASES_R3 = [
    ("x_ann_recall", [], ["CartesianProduct"]),
    ("x_mixture_plan", ["HashAggregate"], ["NestedLoop", "CartesianProduct"]),
    ("x_zorder_layout", [], ["CartesianProduct", "Window", "SortMergeJoin"]),
]

# round-4 additions: Q5's region->nation->supplier dim chain must ride
# broadcast joins (only the fact tables may shuffle); Q6 is the scan-
# efficiency contract — every predicate reaches the parquet scan and
# the ReadSchema carries only the 4 referenced columns.
CASES_R4 = [
    ("q5_local_supplier_volume", ["BroadcastHashJoin"],
     ["NestedLoop", "CartesianProduct"]),
    ("q6_revenue_delta",
     ["PushedFilters: [IsNotNull(l_shipdate)",
      # shipdate's parquet type varies by testdata generation
      # (timestamp vs timestamp_ntz) — assert columns, not its type
      "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
      "l_discount:double,l_shipdate:timestamp"],
     ["NestedLoop", "CartesianProduct", "Exchange hashpartitioning"]),
    ("x_cross_dedup", [], ["NestedLoop", "CartesianProduct"]),
    # Arrow kernel KNN: the scoring runs in a MapInPandas/ArrowEval
    # python node (the whole point), and the only join-free shuffle is
    # the final bounded top-k window
    ("x_knn_gemm", ["MapInPandas"], ["NestedLoop", "CartesianProduct"]),
    # SNM: block-partitioned window (never global) + offset equi-join
    ("x_dedup_sorted_neighborhood", ["Window"],
     ["NestedLoop", "CartesianProduct"]),
    # Q18: the qualifying hot-key list is tiny by selectivity — it must
    # broadcast, never shuffle orders against it
    ("q18_large_orders", ["BroadcastHashJoin"],
     ["NestedLoop", "CartesianProduct"]),
    ("x_key_skew_report", ["HashAggregate"],
     ["NestedLoop", "CartesianProduct", "Window"]),
    ("x_token_entropy", ["HashAggregate"],
     ["NestedLoop", "CartesianProduct", "Window"]),
    ("x_group_sample", ["Window"], ["NestedLoop", "CartesianProduct"]),
    ("x_length_model_by_lang", ["HashAggregate"],
     ["NestedLoop", "CartesianProduct", "Window"]),
    # single-scan report families: one aggregate, struct-array
    # transpose, no window, no joins beyond the declared broadcast
    ("x_expectations_orders", ["BroadcastHashJoin", "HashAggregate"],
     ["NestedLoop", "CartesianProduct", "Window", "SortMergeJoin"]),
    ("x_table_profile", [], ["NestedLoop", "CartesianProduct", "Window"]),
    # PMI: unigram joins key on the word, totals ride a 1-row broadcast
    # NLJ; top-k must be TakeOrdered, never a global sort
    ("x_pmi_collocations", ["TakeOrderedAndProject"], ["CartesianProduct"]),
    ("x_feature_hash_embed", ["HashAggregate"],
     ["NestedLoop", "CartesianProduct", "Window"]),
    ("x_source_overlap", ["BroadcastHashJoin"],
     ["NestedLoop", "CartesianProduct", "Window"]),
    ("w_rank_functions", ["Window"], ["NestedLoop", "CartesianProduct"]),
    ("x_dedup_snm_multipass", ["Window"], ["NestedLoop", "CartesianProduct"]),
    # TPC-H decision-support shapes: every dim/scalar side must ride a
    # broadcast; the only NLJ allowed is q22's declared 1-row global-avg
    # cross join. q2/q13/q17's aggregate-before-join keeps the fact
    # table's wide shuffle to the pre-aggregation only.
    ("q2_min_cost_supplier", ["BroadcastHashJoin", "HashAggregate"],
     ["NestedLoop", "CartesianProduct"]),
    ("q13_order_count_dist", ["BroadcastHashJoin", "HashAggregate"],
     ["NestedLoop", "CartesianProduct"]),
    ("q15_top_supplier", ["BroadcastHashJoin", "HashAggregate"],
     ["NestedLoop", "CartesianProduct"]),
    ("q17_small_qty_revenue", ["BroadcastHashJoin", "HashAggregate"],
     ["NestedLoop", "CartesianProduct"]),
    ("q22_idle_rich_customers", ["BroadcastHashJoin", "HashAggregate"],
     ["CartesianProduct"]),
    # log compaction: one keyed window, rank 1 — never a self-join
    ("p_cdc_compact", ["Window"],
     ["Join", "NestedLoop", "CartesianProduct"]),
    # SQ8: re-rank vectors arrive via BroadcastHashJoin on ids; the
    # query-side code scan is the declared broadcast NLJ baseline
    # (like x_knn_bruteforce) — a true cartesian is still banned
    ("x_knn_sq8", ["BroadcastHashJoin", "Window"], ["CartesianProduct"]),
    # Q11: the cutoff is a declared 1-row broadcast NLJ over the
    # ALREADY-aggregated per-part frame — never over the fact table
    ("q11_important_parts", ["HashAggregate"], ["CartesianProduct"]),
    # Q14: numerator+denominator from ONE scan — no self-join, no window
    ("q14_promo_revenue_share", ["BroadcastHashJoin", "HashAggregate"],
     ["NestedLoop", "CartesianProduct", "Window"]),
    # SQ8 recall grader: truth side is the declared brute-force NLJ
    # baseline; the recall join itself is a bounded |Q|*k equi-join
    ("x_sq8_recall", ["Window"], ["CartesianProduct"]),
    # Q21: EXISTS/NOT EXISTS decorrelate to hash semi/anti joins on the
    # order key (suppkey<> is a residual) — never a nested loop
    ("q21_waiting_suppliers", ["BroadcastHashJoin", "HashAggregate"],
     ["NestedLoop", "CartesianProduct"]),
    # Q19: the OR-of-ANDs stays a residual on the hash equi-join
    ("q19_disjunctive_predicates", ["BroadcastHashJoin", "HashAggregate"],
     ["NestedLoop", "CartesianProduct", "Window"]),
    # survivor selection: one keyed window over (doc, cluster); the
    # candidate path inherits x_dedup_cluster's equi-join-only contract
    ("x_dedup_keep_longest", ["Window"], ["NestedLoop", "CartesianProduct"]),
    # rank-limit pushdown: every rank<=k filter must plan a PARTIAL
    # WindowGroupLimit below its exchange (per-partition top-k heads
    # shuffle, never all candidate rows) — losing it silently multiplies
    # the top-k shuffle by N/k
    ("x_knn_bruteforce", ["WindowGroupLimit"], []),
    ("x_knn_sq8", ["WindowGroupLimit"], []),
    ("x_knn_bucketed", ["WindowGroupLimit"], []),
    ("w_topk_per_group", ["WindowGroupLimit"], []),
    ("x_dedup_keep_longest", ["WindowGroupLimit"], []),
    # final TPC-H batch (Q4/Q7/Q8/Q9/Q10/Q12/Q16/Q20): dims broadcast,
    # aggregates hash-based, Q10's top-20 must be TakeOrdered
    ("q4_priority_check", ["BroadcastHashJoin", "HashAggregate"],
     ["NestedLoop", "CartesianProduct", "Window"]),
    ("q7_nation_volume", ["BroadcastHashJoin", "HashAggregate"],
     ["NestedLoop", "CartesianProduct", "Window"]),
    ("q8_market_share", ["BroadcastHashJoin", "HashAggregate"],
     ["NestedLoop", "CartesianProduct", "Window"]),
    ("q9_product_profit", ["BroadcastHashJoin", "HashAggregate"],
     ["NestedLoop", "CartesianProduct", "Window"]),
    ("q10_returned_revenue",
     ["TakeOrderedAndProject", "BroadcastHashJoin", "HashAggregate"],
     ["NestedLoop", "CartesianProduct", "Window"]),
    ("q12_priority_by_status", ["HashAggregate"],
     ["NestedLoop", "CartesianProduct", "Window"]),
    ("q16_supplier_count", ["BroadcastHashJoin", "HashAggregate"],
     ["NestedLoop", "CartesianProduct", "Window"]),
    ("q20_part_promotion", ["BroadcastHashJoin", "HashAggregate"],
     ["NestedLoop", "CartesianProduct", "Window"]),
]

# round-5 additions: the projected-shortlist and curation paths
CASES_R5 = [
    # both shortlist and final ranks must push a partial WindowGroupLimit;
    # the query side broadcasts over a non-equi condition (declared BNLJ
    # baseline, same as x_knn_bruteforce) but never a true cartesian
    ("x_knn_randproj", ["WindowGroupLimit"], ["CartesianProduct"]),
    ("x_randproj_recall", [], ["CartesianProduct"]),
    # assignment is a narrow broadcast projection of the trained model
    # (the 1-row model attach is a declared broadcast NLJ, so only a
    # true cartesian is banned); the per-cluster quota is one keyed
    # window with rank-limit pushdown
    ("x_cluster_balanced_sample", ["WindowGroupLimit"], ["CartesianProduct"]),
    # centroid training is ONE hash aggregate over (label, pos); the
    # join-back of the tiny centroid frame must broadcast (the n_labels^2
    # inter-centroid pairwise join is a declared broadcast NLJ)
    ("x_embed_label_centroids", ["HashAggregate", "BroadcastHashJoin"],
     ["CartesianProduct", "Window"]),
    # benchmark gram set broadcasts; the corpus side never shuffles for
    # the membership join (only the per-doc hit count aggregates)
    ("x_contamination_overlap", ["BroadcastHashJoin"],
     ["NestedLoop", "CartesianProduct", "Window"]),
    # pure column expressions + one map-side-partial groupBy: no explode
    # (Generate), no window, no join at all
    ("x_gopher_quality_report", ["HashAggregate"],
     ["Generate", "Window", "Join", "CartesianProduct"]),
    # directional as-of: tag+union+window — a range-predicate join would
    # plan BNLJ/cartesian, the exact degeneration these operators exist
    # to avoid
    ("j_asof_forward", ["Window"], ["NestedLoop", "CartesianProduct"]),
    ("j_asof_nearest", ["Window"], ["NestedLoop", "CartesianProduct"]),
    # round 6: PSI drift — ONE Generate (the feature/bin explode) feeding
    # a hash aggregate; totals join back by broadcast (bins-sized frame);
    # no window, no cartesian anywhere
    ("x_drift_report", ["Generate", "HashAggregate", "BroadcastHashJoin"],
     ["Window", "NestedLoop", "CartesianProduct"]),
    # covariance: two stacked posexplodes feeding ONE hash aggregate on
    # (i, j); no join of any kind in the plan
    ("x_embed_covariance", ["Generate", "HashAggregate"],
     ["Window", "Join", "CartesianProduct"]),
    # winnowing pairs: fingerprint explode + df-cap + EQUI self-join —
    # the candidate generator must never degrade to a nested loop.
    # r13: the df-cap is a count WINDOW partitioned by fp (one
    # hash(fp) exchange shared with the self-join) instead of an
    # aggregate joined back, so a partitioned Window is now REQUIRED;
    # test_winnow_cap_window_is_partitioned pins that it never becomes
    # a global (unpartitioned) window.
    ("x_winnow_substring_pairs", ["HashAggregate", "Window"],
     ["NestedLoop", "CartesianProduct"]),
    # recall grader: truth and candidate sides are EQUI joins; the three
    # scalar counts combine via 1-row broadcast crossJoins (declared
    # BNLJ on 1-row frames, never a true cartesian of data)
    ("x_winnow_recall", ["HashAggregate"], ["CartesianProduct"]),
    # compaction planning is one window over the metadata-sized file
    # list: no join of any kind
    ("x_compaction_plan", ["Window"], ["Join", "CartesianProduct"]),
    # round 7: triangle counting — degree-oriented wedge join: every
    # join is an EQUI hash/sort-merge join on integer keys; a nested
    # loop or cartesian means the orientation/ordering predicate fell
    # out of the equi-join keys
    ("x_triangle_counts", ["HashAggregate"],
     ["NestedLoop", "CartesianProduct", "Window"]),
    # BPE application is a chain of per-row array folds: scan +
    # projection ONLY — any Exchange/Join/Generate means the tokenizer
    # stopped being a narrow map
    ("x_bpe_segment", [], ["Exchange", "Join", "Generate", "Window"]),
    # WAV roundtrip: mapInPandas straight off the scan — the payload
    # must never shuffle
    ("x_multimodal_wav_roundtrip", ["MapInPandas"], ["Exchange", "Join"]),
    # MG summary: per-group rank window + summary-sized final window;
    # scalar bounds attach by 1-row broadcast (BNLJ), never a true
    # cartesian of data
    ("x_mg_topk", ["HashAggregate", "Window"], ["CartesianProduct"]),
    # KN bigram: type-sized model joins are equi; the type total is a
    # 1-row broadcast
    ("x_kn_bigram_logprob", ["HashAggregate"], ["CartesianProduct"]),
    # RRF fusion: two depth-bounded rank lists full-outer-joined on id
    ("x_hybrid_rrf", ["Window"], ["CartesianProduct"]),
    ("x_cms_join_size", ["HashAggregate"], ["CartesianProduct"]),
]


@pytest.mark.parametrize("name,want,ban", CASES_R4, ids=[c[0] for c in CASES_R4])
def test_plan_shape_r4(spark, sf_dir, name, want, ban):
    df = _REG[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for frag in want:
        assert frag in plan, f"{name}: expected plan fragment missing: {frag}"
    for frag in ban:
        assert frag not in plan, f"{name}: banned plan fragment present: {frag}"


@pytest.mark.parametrize("name,want,ban", CASES_R5, ids=[c[0] for c in CASES_R5])
def test_plan_shape_r5(spark, sf_dir, name, want, ban):
    df = _REG[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for frag in want:
        assert frag in plan, f"{name}: expected plan fragment missing: {frag}"
    for frag in ban:
        assert frag not in plan, f"{name}: banned plan fragment present: {frag}"


@pytest.mark.parametrize("name,want,ban", CASES_R3, ids=[c[0] for c in CASES_R3])
def test_plan_shape_r3(spark, sf_dir, name, want, ban):
    df = _REG[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for frag in want:
        assert frag in plan, f"{name}: expected plan fragment missing: {frag}"
    for frag in ban:
        assert frag not in plan, f"{name}: banned plan fragment present: {frag}"


def test_corpus_pipeline_plan(spark, sf_dir):
    """The composed pipeline must stay all-equi-join: quality gate and
    scrub are narrow, dedup winners and the source cap are keyed."""
    df = _REG["x_corpus_pipeline"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


@pytest.mark.parametrize(
    "name", ["q2_min_cost_supplier", "q15_top_supplier", "q11_important_parts"]
)
def test_aggregate_join_back_reuses_shuffle(spark, sf_dir, name):
    """Decorrelated join-back shapes aggregate the fact table once and
    consume it from TWO branches (the aggregate and the join-back).
    AQE must reuse the single shuffle (ReusedExchange in the final
    adaptive plan) instead of scanning + shuffling the fact table twice
    — the difference between one and two full passes at 100 TB. This is
    runtime-only (reuse happens during adaptive execution), hence
    collect() + final plan, unlike the static contracts above."""
    df = _REG[name].spark(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, f"{name}: fact aggregation shuffled twice"


# round-8 additions: ordered analytics, record linkage / entity
# resolution, CDC twins, streaming MG merge.
CASES_R8 = [
    # blocked pair generation is an EQUI-join on the block key (the
    # a<b predicate rides along); a theta/nested-loop pair path is the
    # classic linkage scale killer
    ("x_record_linkage", [], ["NestedLoop", "CartesianProduct"]),
    # gaps-and-islands: windows + both groupBys, all on the key
    ("x_interval_union", ["Window"], ["NestedLoop", "CartesianProduct"]),
    # per-cost reduction + domain window + broadcast equi-join back;
    # the quadratic dominance anti-join is the oracle, never the plan
    ("x_skyline", ["BroadcastHashJoin", "Window"],
     ["NestedLoop", "CartesianProduct"]),
    ("x_ewma_deviation", ["Window"], ["NestedLoop", "CartesianProduct"]),
    ("x_markov_transitions", ["Window", "HashAggregate"],
     ["NestedLoop", "CartesianProduct"]),
    # ONE max_by hash aggregate with a map-side partial; a row_number
    # window would shuffle the whole changelog
    ("x_changelog_merge", ["partial_max_by"],
     ["Window", "NestedLoop", "CartesianProduct"]),
    # full outer hash join on the key — never a nested loop
    ("x_snapshot_diff", ["FullOuter"], ["NestedLoop", "CartesianProduct"]),
    ("x_l_diversity", ["HashAggregate"],
     ["Window", "NestedLoop", "CartesianProduct", "Join"]),
    # merge of summary-sized frames; 1-row certificate frames join as
    # broadcast NLJ by design, but a true cartesian is banned
    ("x_mg_topk_stream", [], ["CartesianProduct"]),
]


@pytest.mark.parametrize("name,want,ban", CASES_R8, ids=[c[0] for c in CASES_R8])
def test_plan_shape_r8(spark, sf_dir, name, want, ban):
    df = _REG[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for frag in want:
        assert frag in plan, f"{name}: expected plan fragment missing: {frag}"
    for frag in ban:
        assert frag not in plan, f"{name}: banned plan fragment present: {frag}"


def test_interval_union_single_shuffle(spark, sf_dir):
    """Both windows and both groupBys run on the key partitioning: the
    plan must contain exactly ONE shuffle (the hash partitioning on the
    interval key) — HashPartitioning(key) satisfies the (key, island)
    clustering, so no second exchange ever appears."""
    df = _REG["x_interval_union"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 shuffle, plan has {n_exchanges}"


def test_entity_resolution_pair_path_no_nlj(spark, sf_dir):
    """The entity-resolution ENTRY returns checkpointed CC labels (its
    own executed plan is a scan), so the scale contract is audited on
    the pair path it feeds: blocked linkage must never plan a nested
    loop or cartesian."""
    from sparkstreaming_realtime_project_spark.operators.linkage import (
        linkage_pairs,
    )
    from sparkstreaming_realtime_project_spark.plans.catalog import (
        _linkage_base,
        _linkage_features,
        _LINK_THRESHOLD,
    )

    pairs = linkage_pairs(
        _linkage_base(spark, sf_dir),
        "c_custkey",
        ["c_nationkey", "bb"],
        _linkage_features(),
        threshold=_LINK_THRESHOLD,
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


# round-8 late additions: stores, audits, prefix-sum family.
CASES_R8B = [
    ("x_benford_audit", ["HashAggregate"], ["CartesianProduct"]),
    ("x_anomaly_mad", ["BroadcastHashJoin"], ["CartesianProduct"]),
    # the whole point: the data-sized running count comes from a range
    # partition + _pid-partitioned window, never a single-task global
    # window over the value domain; top-1 is TakeOrdered
    ("x_ks_drift", ["rangepartitioning", "TakeOrderedAndProject"],
     ["CartesianProduct"]),
    ("x_ecdf_normalize", ["rangepartitioning", "BroadcastHashJoin"],
     ["CartesianProduct"]),
    ("x_hll_stream", [], ["CartesianProduct"]),
    ("x_cms_stream", [], ["CartesianProduct"]),
    ("x_agg_store_stream", ["HashAggregate"],
     ["CartesianProduct", "Window"]),
    ("x_markov_surprise", ["Window", "BroadcastHashJoin"],
     ["CartesianProduct"]),
    ("x_linkage_em", [], ["CartesianProduct", "NestedLoop"]),
    ("x_t_closeness", ["HashAggregate"], ["CartesianProduct"]),
    ("x_shard_manifest", ["HashAggregate"],
     ["CartesianProduct", "Window", "Join"]),
    ("x_cluster_split", [], ["CartesianProduct", "NestedLoop"]),
]


@pytest.mark.parametrize(
    "name,want,ban", CASES_R8B, ids=[c[0] for c in CASES_R8B]
)
def test_plan_shape_r8b(spark, sf_dir, name, want, ban):
    df = _REG[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for frag in want:
        assert frag in plan, f"{name}: expected plan fragment missing: {frag}"
    for frag in ban:
        assert frag not in plan, f"{name}: banned plan fragment present: {frag}"


# round-9 additions: the six late-r8 entries that shipped without pins
# (exactly where the RFM scale flaw hid) plus the streaming IVF store.
CASES_R9 = [
    # the round-8 scale-killer, fixed: quintiles come from the
    # distributed integer-rank primitive (range exchange + partitioned
    # window), NEVER from a keyless single-task ntile window over the
    # data-keyed customer domain
    ("x_rfm_segmentation", ["rangepartitioning"],
     ["ntile", "CartesianProduct"]),
    # exact quantiles ride the same prefix-sum primitive; the per-prob
    # selections are 1-row broadcast crossJoins (BNLJ), never cartesian
    ("x_exact_quantiles", ["rangepartitioning"], ["CartesianProduct"]),
    # LOCF fill: one PARTITIONED window per priority; the spine x
    # priorities grid is a broadcast NLJ of a domain-sized frame
    ("x_gap_fill", ["Window"], ["CartesianProduct"]),
    # one keyed window (user) + one hash aggregate; no joins at all
    ("x_attribution_last_touch", ["Window", "HashAggregate"],
     ["NestedLoop", "CartesianProduct", "Join"]),
    # pair generation is the equi self-join on the order key with the
    # Apriori min-support prune BEFORE the broadcast stats joins
    ("x_basket_lift", ["HashAggregate", "BroadcastHashJoin"],
     ["CartesianProduct"]),
    # two keyless windows over the ~2.4k-day calendar DOMAIN (budget
    # documented in ordered.py cusum_shift); no join anywhere
    ("x_cusum_shift", ["Window"], ["CartesianProduct", "Join"]),
    # streaming IVF probe: cell-bucketed candidate join, never cartesian
    ("x_ivf_stream", [], ["CartesianProduct"]),
    # round-9 keyless-window sweep pins: both top-k selections over
    # data-sized scored frames must keep their bounded-serial rewrite —
    # bm25's rank<=k filter becomes TakeOrderedAndProject BELOW the
    # window (the window then runs over k rows), rrf keeps the partial
    # WindowGroupLimit heads. Losing either re-opens a single-task sort
    # over every matching document.
    ("x_bm25_topk", ["TakeOrderedAndProject"], []),
    ("x_hybrid_rrf", ["WindowGroupLimit"], []),
    # ABC/Pareto rides the same distributed prefix-sum primitive as the
    # quantile family: range exchange, never a keyless window over the
    # data-keyed part domain
    ("x_abc_pareto", ["rangepartitioning"], ["CartesianProduct"]),
    # winsorized mean's clamp bounds come from the same primitive
    ("x_winsorized_mean", ["rangepartitioning"], ["CartesianProduct"]),
    ("x_gini_concentration", ["rangepartitioning"], ["CartesianProduct"]),
    # linear attribution: one keyed window pass + unions + aggregate —
    # NO join of any kind may appear (a join would mean the per-type
    # credits stopped sharing the single window scan)
    ("x_attribution_linear", ["Window", "Union", "HashAggregate"],
     ["Join", "CartesianProduct"]),
    # first-5-events filter must push partial WindowGroupLimit heads;
    # the final top-20 must be TakeOrdered, never a global sort
    ("x_path_topk", ["WindowGroupLimit", "TakeOrderedAndProject"],
     ["CartesianProduct"]),
]


@pytest.mark.parametrize(
    "name,want,ban", CASES_R9, ids=[c[0] for c in CASES_R9]
)
def test_plan_shape_r9(spark, sf_dir, name, want, ban):
    df = _REG[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for frag in want:
        assert frag in plan, f"{name}: expected plan fragment missing: {frag}"
    for frag in ban:
        assert frag not in plan, f"{name}: banned plan fragment present: {frag}"
    spark.catalog.clearCache()


# ---------------------------------------------------------------- coverage
CASES_R10 = [
    # pure projections: ZERO shuffles — the analyzer/trim run at scan
    # speed (the x_pii_scrub contract)
    ("x_stutter_trim", [], ["Exchange"]),
    ("f_text_match_cjk", [], ["Exchange"]),
    # exactly ONE hash shuffle on the dedup/governance key + its window
    ("x_url_canonical_dedup", ["Window"], ["NestedLoop", "CartesianProduct"]),
    ("x_domain_caps", ["Window"], ["NestedLoop", "CartesianProduct"]),
    # the metadata predicate must reach the candidate parquet scan —
    # filtered search pays for only the matching vectors
    ("x_knn_filtered", ["EqualTo(label,1)"], ["CartesianProduct"]),
    # outer wide join broadcasts the filtered info side
    ("j_order_wide_outer", ["BroadcastHashJoin"],
     ["NestedLoop", "CartesianProduct"]),
    # IVM: base-aggregate + delta-aggregate merge on the group key —
    # keyed joins only, never a cartesian
    ("x_ivm_group_agg", ["HashAggregate"],
     ["NestedLoop", "CartesianProduct"]),
    ("x_knn_filtered_recall", [], ["CartesianProduct"]),
    # fold-boundary fanout is a K-row broadcast NLJ (declared, bounded
    # by K); a true cartesian stays banned
    ("x_time_split_embargo", ["HashAggregate"], ["CartesianProduct"]),
    # one shared-scan aggregate to the 2x2 confusion: no join at all
    ("x_labeler_agreement", ["HashAggregate"],
     ["Join", "NestedLoop", "CartesianProduct"]),
    # weighted quantiles ride the same rangepartitioning prefix-sum
    # primitive as the exact ones — never a single-task global sort
    ("x_weighted_quantiles", ["rangepartitioning"], ["CartesianProduct"]),
    ("x_pseudonymize", [], ["CartesianProduct"]),
]


@pytest.mark.parametrize(
    "name,want,ban", CASES_R10, ids=[c[0] for c in CASES_R10]
)
def test_plan_contract_r10(spark, sf_dir, name, want, ban):
    df = _REG[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for frag in want:
        assert frag in plan, f"{name}: missing {frag!r}"
    for frag in ban:
        assert frag not in plan, f"{name}: banned {frag!r} present"
    spark.catalog.clearCache()


# Every catalog entry gets at least the cartesian ban. Entries with an
# explicit row above carry sharper contracts; everything else lands in
# the generated default list BY CONSTRUCTION, so a new catalog entry can
# never ship unaudited again (the round-8 lesson: the only scale flaw of
# that round hid in exactly the six entries without pins).

# -------------------------------------------------- round-10 (cont.)
CASES_R10B = [
    # OOF target encoding: the ONLY data-sized shuffle is the
    # (key,fold) groupBy; per-key totals ride a window on the tiny
    # aggregate, priors come back broadcast — no sort-merge join of
    # anything data-sized
    ("x_target_encode_oof",
     ["Window", "HashAggregate", "BroadcastHashJoin"],
     ["SortMergeJoin", "CartesianProduct"]),
    # WOE/IV: one groupBy + a 1-row scalar broadcast (declared NLJ);
    # never a keyed sort-merge join
    ("x_woe_iv", ["HashAggregate"],
     ["SortMergeJoin", "CartesianProduct"]),
    # OLS from sufficient statistics: dims broadcast, regression is
    # map-side-combinable aggregation
    ("x_trend_ols", ["BroadcastHashJoin", "HashAggregate"],
     ["SortMergeJoin", "NestedLoop", "CartesianProduct"]),
    # AQP estimator: ONE shared-scan aggregate, estimate + exact audit
    # together — no join of any kind
    ("x_aqp_estimate", ["HashAggregate"],
     ["Join", "NestedLoop", "CartesianProduct"]),
    # readability: pure projection, runs at scan speed — ZERO shuffles
    ("x_readability", [], ["Exchange"]),
    # point-in-time join: STRICT as-of via tag+union+window — a range
    # join must never degenerate to a nested-loop pair blow-up
    ("x_feature_pit", ["Window"], ["NestedLoop", "CartesianProduct"]),
    # KM survival: both running quantities ride the range-partitioned
    # prefix-sum primitive — never a single-task global window
    ("x_kaplan_meier", ["rangepartitioning"], ["CartesianProduct"]),
    # MI: joint groupBy + marginal windows; dims broadcast, never a
    # data-sized sort-merge join
    ("x_mutual_info", ["HashAggregate", "Window"],
     ["SortMergeJoin", "CartesianProduct"]),
    # conformal: order statistic is a KEY-partitioned row_number
    ("x_conformal_interval", ["Window"], ["CartesianProduct"]),
    ("x_seasonal_naive_backtest", ["HashAggregate"],
     ["NestedLoop", "CartesianProduct"]),
    # causal pair: single conditional-aggregate passes, dims broadcast;
    # never a data-sized sort-merge join
    ("x_stratified_ate", ["BroadcastHashJoin", "HashAggregate"],
     ["SortMergeJoin", "CartesianProduct"]),
    ("x_did", ["BroadcastHashJoin", "HashAggregate"],
     ["SortMergeJoin", "NestedLoop", "CartesianProduct"]),
    # graph distribution diagnostics: degree groupBy + scalar aggregate
    ("x_degree_powerlaw", ["HashAggregate"],
     ["NestedLoop", "CartesianProduct"]),
    ("x_assortativity", ["HashAggregate"],
     ["NestedLoop", "CartesianProduct"]),
    # chi2: joint groupBy + marginal windows, dims broadcast
    ("x_chi2_independence", ["HashAggregate", "Window"],
     ["SortMergeJoin", "CartesianProduct"]),
    # imputation: three tiny broadcast mean tables against one scan
    ("x_impute_hierarchical", ["BroadcastHashJoin", "HashAggregate"],
     ["SortMergeJoin", "CartesianProduct"]),
    ("x_cate_by_stratum", ["BroadcastHashJoin", "HashAggregate"],
     ["SortMergeJoin", "NestedLoop", "CartesianProduct"]),
    # segment-keyed KM: every running quantity is a SEGMENT-partitioned
    # window — no prefix-sum machinery, no single-task global window
    ("x_kaplan_meier_by_segment", ["Window"],
     ["SortMergeJoin", "CartesianProduct"]),
]


@pytest.mark.parametrize(
    "name,want,ban", CASES_R10B, ids=[c[0] for c in CASES_R10B]
)
def test_plan_contract_r10b(spark, sf_dir, name, want, ban):
    df = _REG[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for frag in want:
        assert frag in plan, f"{name}: missing {frag!r}"
    for frag in ban:
        assert frag not in plan, f"{name}: banned {frag!r} present"
    spark.catalog.clearCache()


_ALL_EXPLICIT = (
    {c[0] for c in CASES}
    | {c[0] for c in CASES_R3}
    | {c[0] for c in CASES_R4}
    | {c[0] for c in CASES_R5}
    | {c[0] for c in CASES_R8}
    | {c[0] for c in CASES_R8B}
    | {c[0] for c in CASES_R9}
    | {c[0] for c in CASES_R10}
    | {c[0] for c in CASES_R10B}
    # audited by dedicated non-parametrized tests above
    | {"x_corpus_pipeline", "x_entity_resolution"}
)

_DEFAULT_AUDIT = sorted(set(_REG) - _ALL_EXPLICIT)


def test_audit_rows_reference_real_entries():
    """Explicit audit rows must name live registry entries (a renamed
    catalog entry must take its audit row along)."""
    stale = _ALL_EXPLICIT - set(_REG)
    assert not stale, f"audit rows for unknown entries: {sorted(stale)}"


@pytest.mark.parametrize("name", _DEFAULT_AUDIT)
def test_plan_default_no_cartesian(spark, sf_dir, name):
    """Default audit for entries without a sharper contract: the plan
    must never contain a true cartesian product of data-sized frames
    (1-row broadcast NLJ attachments are the declared pattern and stay
    allowed)."""
    df = _REG[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, (
        f"{name}: CartesianProduct in plan"
    )
    spark.catalog.clearCache()


def test_suffix_span_pairs_plan(spark, sf_dir):
    """Round-11 suffix dedup contracts (the plan has no cut that would
    hide the shape):
    the df-cap + diagonal merge must be a gram-keyed equi-join plus a
    fine-grained (pair, diag)-KEYED run merge — never a nested-loop or
    cartesian pair blow-up, and no single-task global window. Since r14
    the run merge is one aggregate fold (sort_array + aggregate()) per
    (doc_a, doc_b, diag) group instead of lag+sum windows — the
    contract pins the grouping keys on the aggregate instead of the
    window partition spec."""
    from sparkstreaming_realtime_project_spark.operators import dedup as dd
    from sparkstreaming_realtime_project_spark.sources.batch import load_table

    df = dd.suffix_span_pairs(
        load_table(spark, sf_dir, "documents"), "text", "doc_id",
        k=8, min_len=16, max_df=64,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the df-cap count window survives; the run merge is an aggregate
    assert "Window" in plan and "Aggregate" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "collect_list(struct(pa" in plan, "run-merge fold lost"
    # the run-merge aggregate groups by (doc_a, doc_b, diag) — a
    # global orderBy-only shape would collapse to one task
    import re

    assert re.search(
        r"keys=\[doc_a#\d+L?, doc_b#\d+L?, diag#\d+", plan
    ), "run-merge aggregate is not (doc_a, doc_b, diag)-keyed"


def test_detail_keyset_plan(spark, sf_dir):
    """Keyset page: top-k via TakeOrderedAndProject (never a global
    sort of the match set), cursor attached as a 1-row broadcast NLJ
    (the declared pattern), no cartesian."""
    df = _REG["q_detail_keyset"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    spark.catalog.clearCache()


def test_suffix_scrub_plan(spark, sf_dir):
    """Round-12 scrub contracts (no cut): the apply step must
    keep the text out of every shuffle — the coverage side that joins
    back onto the token arrays is a doc_id-keyed aggregate of POSITION
    lists — and stays equi-join-only (no cartesian/nested-loop), with
    the pair stage's (doc_a, doc_b, diag) window intact underneath."""
    import re

    from sparkstreaming_realtime_project_spark.operators import dedup as dd
    from sparkstreaming_realtime_project_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    for fn, part in (
        (dd.suffix_scrub, r"doc_a#\d+L?, doc_b#\d+L?, diag#\d+"),
        (dd.suffix_self_scrub, r"doc_id#\d+L?, dist#\d+"),
    ):
        df = fn(docs, "text", "doc_id")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan and "NestedLoop" not in plan
        assert re.search(part, plan), f"{fn.__name__}: run-merge window lost"
        assert "collect_list" in plan, (
            f"{fn.__name__}: coverage must aggregate position lists"
        )
        spark.catalog.clearCache()


def test_capped_by_count_matches_aggregate_join(spark, sf_dir):
    """r13: every candidate-fanout cap (suffix df-cap, LSH bucket cap,
    winnow fp-cap) now computes the group size as a count window over
    the join key instead of aggregate + join-back. Pin the rewrite's
    two contracts: (1) the surviving row set is IDENTICAL to the old
    shape, including the == cap boundary; (2) the window is partitioned
    by the key — never a single-task global window."""
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_project_spark.operators.dedup import (
        _capped_by_count,
    )

    rows = [(g, i) for g, n in [("a", 1), ("b", 3), ("c", 4), ("d", 6)]
            for i in range(n)]
    df = spark.createDataFrame(rows, "g string, i int")
    cap = 4
    got = _capped_by_count(df, ["g"], cap)
    low = (
        df.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= cap).select("g")
    )
    want = df.join(low, "g")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.columns == df.columns  # helper column must not leak
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, "cap window must partition by key"
    # cap=None is the uncapped exact mode: pure passthrough
    assert _capped_by_count(df, ["g"], None) is df
    spark.catalog.clearCache()


def test_winnow_cap_window_is_partitioned(spark, sf_dir):
    """The fp-cap window inside x_winnow_substring_pairs (and the g-cap
    inside x_suffix_span_pairs) must stay key-partitioned: a global
    window here would serialize the whole fingerprint table through one
    task at 100 TB."""
    for name in ("x_winnow_substring_pairs", "x_suffix_span_pairs"):
        df = _REG[name].spark(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan, f"{name}: global window/exchange"
        spark.catalog.clearCache()
