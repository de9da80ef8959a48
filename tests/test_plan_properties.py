"""Physical-plan regression tests (SURVEY.md §4): the scale properties the
engine promises are asserted on the optimized plans themselves, so a
refactor that silently degrades a plan (loses a broadcast, blocks
pushdown, introduces a nested-loop join) fails CI, not a 100 TB run.

Streaming entries are skipped (their plan exists only inside a running
query); everything else is pure `.explain` inspection — no job runs.
"""

from __future__ import annotations

import pytest

from markt_database_analyzer_spark.catalog import REGISTRY

SF = "/root/testdata/sf0.001"

STREAMING = {name for name, spec in REGISTRY.items() if "streaming" in spec.tags}


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(set(REGISTRY) - STREAMING))
def test_no_cartesian_or_nested_loop_join(spark, name):
    """Engine-wide invariant: no catalog plan degenerates to a cartesian
    product or nested-loop join — every join is hash/sort-merge/broadcast
    on real keys (the bucketed range join exists precisely to keep
    interval predicates out of BroadcastNestedLoopJoin)."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, name
    # Principled exceptions — operators that are all-pairs BY DEFINITION,
    # where a broadcast nested loop of a small side is the correct plan:
    #   similarity_ivf_topk        probe stage crossJoins queries × a
    #                              handful of centroids
    #   similarity_bruteforce_topk exact kNN IS scan × broadcast(queries);
    #                              the scalable alternative is the IVF entry
    #   dedup_ngram_jaccard_sample all-pairs verifier on an explicit
    #                              sample; at scale it runs on LSH
    #                              candidates (dedup_minhash_lsh), which
    #                              equi-join
    #   text_tfidf_top_terms       injects the 1-row corpus-size aggregate
    #                              via crossJoin(broadcast(N))
    #   similarity_ivf_kmeans_topk Lloyd assignment crossJoins the corpus
    #                              with the broadcast k-row centroid set
    #   eval_ann_recall_at_k       wraps similarity_bruteforce_topk as the
    #                              recall ground truth — all-pairs on the
    #                              sampled query panel BY DEFINITION (the
    #                              production path it grades is the IVF)
    #   embeddings_truncate_recall  two exact rankings (full + truncated
    #                              dims) over the sampled query panel —
    #                              same ground-truth rationale
    allowed_bnlj = {
        "similarity_ivf_topk",
        "similarity_bruteforce_topk",
        "similarity_ivf_kmeans_topk",
        "eval_ann_recall_at_k",
        "embeddings_truncate_recall",
        # MaxSim late interaction scores corpus × broadcast(query panel)
        # — all-pairs BY DEFINITION (the production path puts an ANN
        # candidate stage in front; the scorer itself is the operator)
        "similarity_maxsim_late_interaction",
        "dedup_ngram_jaccard_sample",
        "text_tfidf_top_terms",
        # injects the 1-row exact-percentile threshold via
        # crossJoin(broadcast(thr)) — same shape as tfidf's corpus-size N
        "filter_quality_quantile",
        # injects the 1-row vocabulary-size aggregate (add-α smoothing
        # denominator) via crossJoin(broadcast(V))
        "text_bigram_logprob",
        # Q15/Q22/Q11 scalar subqueries (max revenue / global avg balance /
        # global mean part value) decorrelate to crossJoin(broadcast(1-row
        # agg)) by design
        "tpch_q15_top_supplier",
        "tpch_q22_sleeper_accounts",
        "tpch_q11_important_stock",
        # corpus × broadcast(classes×3 labeled anchor panel) with a
        # self-exclusion inequality — all-pairs against a CONSTANT panel
        # BY DEFINITION (the MaxSim/bruteforce rationale)
        "ml_knn_classify_embeddings",
        # class × segment-domain zero-filled grid (classes × 5 segments)
        # plus the 1-row N total — both broadcast domain/scalar joins
        "privacy_t_closeness",
        # injects the 1-row above/below totals via crossJoin(broadcast) —
        # the tfidf corpus-size idiom
        "stats_mood_median_test",
        # 1-row observed-logP broadcast into the bounded k-domain frame
        "stats_fisher_exact_2x2",
        # 4x4 marginal grid (ra x rb) + the 1-row expected-sum scalar
        "eval_cohens_kappa_weighted",
        # six 1-row max-normalizer broadcasts (one per HITS half-step) —
        # the PageRank entry's nn-scalar idiom
        "graph_hits_scores",
        # corpus-max-day + group-size 1-row scalar broadcasts (the
        # Kaplan-Meier censoring idiom)
        "events_logrank_test",
        # funnel stage counts are four 1-row aggregates crossJoined into
        # the single output row — same scalar-broadcast idiom
        "events_funnel_stages",
        # DSIR selection threshold: n-th largest Gumbel key via
        # distributed top-n, injected as crossJoin(broadcast(1-row min))
        "sample_dsir_importance",
        # injects the 1-row basket total (n_orders) via
        # crossJoin(broadcast) — the tfidf corpus-size idiom; the pair
        # join itself is a co-partitioned equi-join on the order key
        "finance_basket_association_rules",
        # 1-row grand total N broadcast into the (lang x source) cell
        # frame and both margin frames — three scalar-broadcast joins
        "stats_mutual_information",
        # 1-row (n_a, n_b) totals broadcast into the domain-bounded bin
        # spine — the Kaplan-Meier censoring idiom
        "stats_wasserstein_binned",
        # 1-row group-size pair broadcast onto the dim-bounded mean-gap
        # frame — the scalar-broadcast idiom
        "eval_embedding_mmd_shift",
        # 1-row series mean broadcast into the calendar-bounded daily
        # frame (delta/lambda are fractions of it)
        "events_page_hinkley",
        # two scalar broadcasts (min day, then the 1-row OLS fit) into
        # the calendar-bounded daily frame
        "ts_durbin_watson",
        # 1-row (n1, n2, V) totals broadcast into the vocabulary frame
        # for add-alpha smoothing — the tfidf corpus-size idiom
        "text_unigram_kl_divergence",
        # 1-row clipped-count pivot + 1-row length totals crossJoined
        # into the single corpus-BLEU output row
        "eval_bleu_adjacent_pairs",
        # the chrF twin of the BLEU row above — 3-row clip pivot
        # crossJoined into the 1-row length-total frame
        "eval_chrf_adjacent_pairs",
        # the k=3 nest of the basket row above — the same 1-row
        # n_orders scalar broadcast; the cubic join itself is the
        # co-partitioned order-key equi-join
        "finance_basket_triples",
        # ADC scan IS reconstructed-corpus × broadcast(queries) — the
        # all-pairs scoring PQ exists to make cheap; at scale it runs
        # per IVF cell (IVF-PQ), same shape as similarity_ivf_topk
        "similarity_pq_adc_topk",
        # IVF-PQ probe crossJoins queries × the broadcast k-row centroid
        # set (same principled shape as similarity_ivf_kmeans_topk)
        "similarity_ivf_pq_topk",
        # composed pipeline inherits the 1-row scalar broadcasts of its
        # stages (LM vocab size, p90 NLL threshold)
        "pipeline_quality_curate",
        # r3 tranches: the same 1-row scalar-broadcast idiom —
        # corpus totals (PMI/BM25), marginal totals + dof (chi2),
        # basket count (assoc rules), vertex count (PageRank), the
        # metrics×RI single-row merge (DQ suite), the global-mean
        # normalizer (seasonal index), and the reference-date broadcast
        # (RFM). Every one is a broadcast of an exactly-1-row aggregate.
        "text_pmi_collocations",
        "search_bm25_topk",
        "stats_chi2_lang_source",
        "assoc_rules_parts",
        "graph_pagerank_bipartite",
        "dq_constraint_suite",
        "ts_seasonal_index_how",
        "segment_rfm_customers",
        # the min-class target (balanced sampling), revenue total
        # (pareto), corpus max-day (rolling engagement), and the
        # broadcast unit-vector / norm frames (power iteration) are all
        # exactly-1-row broadcasts as well
        "sample_balanced_classes",
        "parts_abc_pareto",
        "growth_rolling_engagement",
        "embeddings_pca_power_component",
        # BPE: each merge step broadcasts the 1-row argmax pair into the
        # vocabulary rewrite
        "text_bpe_train_merges",
        # rolling WAU (exact and HLL) broadcast the 1-row corpus max-day
        "growth_rolling_wau_hll",
        # CCNet buckets inherit the LM scorer's 1-row vocab-size broadcast
        "text_ccnet_buckets",
        # triangle stats stitch three 1-row aggregates (nodes/edges/
        # triangles) into the single output row — the funnel idiom
        "graph_triangle_count",
        # KS broadcasts the 1-row (n1, n2) totals into the ECDF frame;
        # ACF broadcasts the 1-row series mean — both the scalar idiom
        "stats_ks_test",
        "ts_autocorrelation",
        # KM broadcasts the 1-row corpus max-day; STL broadcasts the
        # 1-row residual sigma — the same scalar idiom
        "events_kaplan_meier",
        "ts_stl_residual_outliers",
        # Naive Bayes scores every test token against ALL langs (5-row
        # prior frame) plus the 1-row vocab-size scalar — both broadcast
        "classify_naive_bayes_langid",
        # Benford broadcasts the 1-row digit-total; quantile
        # normalization broadcasts the 1-row pooled order-statistic
        # vector — the scalar idiom
        "stats_benford_digits",
        "stats_quantile_normalize",
        # PAV's cubic enumeration is inequality self-joins of a 24-row
        # hourly aggregate — bounded-grid broadcast NLJ by design
        "iso_regression_pav",
        # info gain broadcasts the 1-row corpus total + the 5-row lang
        # totals onto the vocab grid; PSI broadcasts the 1-row decile
        # edge array; grid clustering stitches the 1-row noise totals —
        # all the scalar idiom
        "text_info_gain",
        "dq_psi_drift",
        "cluster_grid_density",
        # theta-pairing joins the 5-row per-type sketch summaries on an
        # inequality (type_a < type_b) — a bounded broadcast NLJ
        "sketch_kmv_intersection",
        # same inequality pairing over the ≤5-row type frame; everything
        # downstream is ≤ k·|pairs| sketch rows
        "sketch_kmv_set_ops",
        # BFS stitches the 1-row total/reached aggregates into the
        # unreached row — the funnel scalar idiom
        "graph_bfs_distance",
        # Holt crossJoins the 1-row fitted (level, trend) state with the
        # 7-row horizon spine — the scalar idiom
        "ts_holt_forecast",
        # hard-negative mining IS corpus × broadcast(anchors) — the
        # similarity_bruteforce_topk shape; the IVF-cell variant is the
        # scale path
        "sample_hard_negatives",
        # confusion matrix inherits NB's 5-row prior/vocab scalar
        # broadcasts and crosses the 5-row class list with the
        # predictions — bounded by #classes
        "eval_confusion_matrix",
        # freshness stitches the 1-row high-water mark onto the 5-row
        # per-type frame — the scalar idiom
        "dq_freshness_lag",
        # peak detection broadcasts the 1-row p75 threshold — the
        # scalar idiom
        "ts_peak_detection",
        # the LOCF spine IS users × broadcast(hour range) — the bounded
        # spine crossJoin idiom (a_lifetime_rate_curve precedent)
        "gapfill_locf_hourly",
        # Cramer's V inherits the chi2 contingency machinery's 1-row
        # marginal-totals broadcast; Kruskal-Wallis broadcasts the
        # 1-row tie-correction aggregate — both the scalar idiom
        "stats_cramers_v",
        "stats_kruskal_wallis",
        # burstiness broadcasts the 1-row corpus count onto the term
        # frame; the permutation test broadcasts the 1-row observed
        # sufficient statistics onto the replicate gates and the 1-row
        # extreme-count back onto the output — all the scalar idiom
        "text_burstiness",
        "stats_permutation_test",
        # part-6/7/8 entries: every crossJoin is the exactly-1-row
        # scalar-broadcast idiom — CUPED's time midpoint + pooled
        # moments, JSD's split totals, Nelson-Aalen's corpus max-day,
        # FDR's global moments, PRF's corpus stats (nd, avgdl), PACF's
        # series mean, and the jackknife's grand totals / rbar
        "stats_cuped_adjustment",
        "dq_jensen_shannon_drift",
        "events_nelson_aalen",
        "stats_fdr_bh_nations",
        "search_pseudo_relevance_feedback",
        "ts_pacf_yule_walker",
        "stats_jackknife_ratio_se",
        # part-9/10: the stump broadcasts the 1-row (n, pos) totals
        # onto the domain frame; QL retrieval broadcasts the 1-row
        # collection-token total and the 1-row query-model constant —
        # all the scalar idiom
        "ml_decision_stump_gini",
        "search_query_likelihood_dirichlet",
        # part-11/12: the G-test inherits the chi2 contingency
        # machinery's 1-row marginal-totals broadcast (scalar idiom);
        # RBO joins the 20-row literal depth spine to the ≤20-row
        # max-rank frame on an inequality — a bounded broadcast NLJ of
        # two constant-size frames (the iso_regression_pav precedent)
        "stats_gtest_independence",
        "eval_rank_biased_overlap",
        # part-13: zone maps broadcast the 1-row corpus bounds onto the
        # zone assignment and cross the 128-row zone frame with the
        # 3-row literal predicate spine; LTOB broadcasts the 1-row
        # series start and the ~60-row anchor-context frame — all
        # bounded scalar/spine broadcasts
        "stats_zone_map_pruning",
        "ts_downsample_ltob",
        # part-14: the F1 sweep broadcasts the 1-row (n, pos) totals
        # onto the domain frame — the ml_decision_stump_gini idiom
        "eval_f1_threshold_sweep",
        # part-15: the lognormal fit broadcasts the 1-row (n, mu,
        # sigma) moments onto the ECDF domain frame — the scalar idiom
        "stats_lognormal_fit_ks",
        # part-17: VaR/CVaR broadcasts the 1-row (k, n) tail-cut onto
        # the day-grain ranked frame (scalar idiom); the LSH recall
        # eval's ground truth is all-pairs BY DEFINITION on an explicit
        # bounded sample (the dedup_ngram_jaccard_sample precedent) and
        # its three counts stitch via 1-row broadcasts
        "finance_var_cvar",
        "dedup_lsh_recall_eval",
        # part-18: the gate-uniformity audit broadcasts the 1-row
        # total onto the ECDF domain frame — the scalar idiom
        "dq_hash_gate_uniformity",
        # part-19: the A/B readout broadcasts the 1-row arm-pairing
        # aggregate back onto the 2-row per-arm frame — the scalar idiom
        "stats_bayes_beta_binomial",
        # part-19: the heatmap broadcasts the 1-row grid mean/sd onto
        # the ≤168-cell dow×hour grid — the scalar idiom
        "events_dow_hour_heatmap",
        # r7: Grubbs broadcasts the 1-row (n, mean, sd) moments onto the
        # day frame; Ljung-Box broadcasts the 1-row series mean onto the
        # hourly frame (the ts_autocorrelation idiom) — both scalar
        "stats_grubbs_test",
        "stats_ljung_box",
        # r7: Kendall tau's pair enumeration IS an inequality self-join
        # of the bounded day-grain frame (iso_regression_pav precedent),
        # and its tie/count scalars stitch via 1-row broadcasts
        "stats_kendall_tau_daily",
        # r7: SAX broadcasts the 1-row PAA moment pair onto the segment
        # frame — the scalar idiom
        "ts_sax_symbols",
        # r7: Theil broadcasts the 1-row mean onto the cents projection;
        # Neyman broadcasts the 1-row allocation denominator onto the
        # strata frame — both the scalar idiom
        "stats_theil_index",
        "sample_stratified_neyman",
        # r7: capture-recapture stitches three 1-row aggregates into the
        # single output row — the funnel scalar idiom
        "stats_capture_recapture",
        # r7: the cosine audit is all-pairs BY DEFINITION on the
        # hash-gated sample (dedup_ngram_jaccard_sample precedent);
        # Pettitt broadcasts the 1-row day count onto the U_t frame
        "similarity_cosine_hist_sample",
        "ts_pettitt_changepoint",
        # r7: A-D and Cook's D broadcast 1-row moment/scale aggregates
        # onto the day frame — the scalar idiom
        "stats_anderson_darling",
        "stats_cooks_distance",
        # r7: PPS broadcasts the 1-row weight total onto the cum frame
        "sample_pps_systematic",
        # r7: Friedman's completeness filter crossJoins the 1-row
        # distinct-type count (the oracle's scalar subquery) — scalar
        # idiom, replacing an eager driver-side count()
        "stats_friedman_test",
        # r7: the entropy rate broadcasts the 1-row transition total
        # onto the states² frame — the scalar idiom
        "events_entropy_rate",
        # r7: each ESD round broadcasts its 1-row moments onto the
        # remaining day frame — the scalar idiom, five times
        "stats_esd_outliers",
        # HLL stitches the 1-row exact-distinct audit aggregate
        # onto the 1-row sketch estimate — the funnel scalar idiom
        "sketch_hll_cardinality",
        # Bloom stitches the 1-row bit-count audit onto the 1-row
        # probe aggregate — the same scalar idiom (the probe join
        # itself is a broadcast equi-join on pos)
        "sketch_bloom_membership",
    }
    if name not in allowed_bnlj:
        assert "BroadcastNestedLoopJoin" not in plan, name


@pytest.mark.parametrize(
    "name", ["j1_revenue_by_priority", "c_gain_by_nation", "a3_value_counts_nation"]
)
def test_dim_joins_broadcast(spark, name):
    """Dimension joins must broadcast — a shuffled join against a small
    dim would add an exchange of the full fact side."""
    assert "BroadcastHashJoin" in _plan(spark, name), name


def test_column_pruning_reaches_scan(spark):
    """S2: a two-column projection must not scan all lineitem columns."""
    plan = _plan(spark, "a4_first_last_per_order")
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    assert "l_comment" not in scan and "l_shipmode" not in scan
    assert "l_orderkey" in scan


def test_partition_pruning_reaches_scan(spark):
    """source_partition_pruning's claim: the day filter must prune at
    PLANNING time — PartitionFilters on the scan of the hive-partitioned
    layout, so non-matching directories never open."""
    from markt_database_analyzer_spark.catalog import REGISTRY

    df = REGISTRY["source_partition_pruning"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(
        line for line in plan.splitlines()
        if "FileScan parquet" in line and "/tmp/mda_r7_part_" in line
    )
    assert "PartitionFilters: [" in scan, scan
    assert "event_day" in scan.split("PartitionFilters")[1][:200], scan


def test_filter_pushdown_reaches_scan(spark):
    """Predicate pushdown: the IN-list filter must appear in PushedFilters,
    not only as a post-scan Filter node."""
    plan = _plan(spark, "p_filters_inlist")
    assert "PushedFilters: [" in plan
    assert "In(p_container" in plan or "In(p_brand" in plan or "IsNotNull" in plan


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """SURVEY §4.4's storage-side join strategy, pinned end-to-end: two
    tables bucketed+sorted into the same bucket count on the join key
    must sort-merge-join with ZERO exchanges — each task reads matching
    bucket files directly. This is the plan that makes the fact⨝fact
    join (lineitem⨝orders at 100 TB, where neither side broadcasts)
    scale: the shuffle happens once at write time, then every downstream
    join of the two tables is free."""
    from pyspark.sql import functions as F

    from markt_database_analyzer_spark.sources import read_table, write_bucketed

    li = read_table(spark, SF, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = read_table(spark, SF, "orders").select("o_orderkey", "o_orderpriority")
    write_bucketed(li, "li_b", ["l_orderkey"], 8, path=str(tmp_path / "li_b"))
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        "orders_b", ["l_orderkey"], 8, path=str(tmp_path / "orders_b"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # pin the regime bucketing exists for: neither side broadcastable
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("li_b").join(spark.table("orders_b"), "l_orderkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert "SelectedBucketsCount" in plan, plan
        # and it computes the right thing
        n = j.count()
        assert n == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS orders_b")


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """The 100 TB pruning lever between broadcast and bucketing: when a
    shuffle join's build side carries a selective predicate, Spark injects
    a runtime bloom filter (`might_contain`) into the probe-side scan so
    fact rows that cannot match never reach the exchange. On production
    thresholds this fires only when the probe scan is >= 10 GB (right: at
    toy scale the filter costs more than it saves); the test lowers the
    thresholds to pin that the session leaves the feature ON and the plan
    shape is injectable."""
    from pyspark.sql import functions as F

    from markt_database_analyzer_spark.sources import read_table

    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        orders = read_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = read_table(spark, SF, "lineitem")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_tpch_q6_predicates_push_to_scan(spark):
    """Q6 is the pushdown litmus test: all scan predicates must reach
    PushedFilters and the scan must read only the 4 referenced columns."""
    plan = _plan(spark, "tpch_q6_revenue_forecast")
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    assert "PushedFilters: [" in plan
    # the toString rendering truncates the filter list; the leading
    # IsNotNull trio + the first range predicate are enough to prove the
    # predicates reached the reader rather than a post-scan Filter only
    assert "IsNotNull(l_quantity)" in plan
    assert "GreaterThanOrEqual(l_shipda" in plan
    assert "l_returnflag" not in scan and "l_partkey" not in scan


def test_tpch_q5_snowflake_broadcasts_dims(spark):
    """Q5: every dimension arm must broadcast; the only shuffle join
    allowed is lineitem x orders."""
    plan = _plan(spark, "tpch_q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan


def test_tpch_q1_is_one_flat_aggregate(spark):
    """Q1's eight aggregates (dsum x4, davg x3, count) are one
    map-side-combined hash agg: a single hash exchange on the group key,
    no per-partition pre-aggregation keyed on ``spark_partition_id``."""
    plan = _plan(spark, "tpch_q1_pricing_summary")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "spark_partition_id" not in plan.lower(), plan


def test_tpch_q3_top10_uses_take_ordered(spark):
    """Q3's ORDER BY + LIMIT must compile to TakeOrderedAndProject —
    a global sort of the aggregate would be a scale bug."""
    plan = _plan(spark, "tpch_q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan


def test_vocab_topk_uses_take_ordered(spark):
    plan = _plan(spark, "vocab_top_terms")
    assert "TakeOrderedAndProject" in plan


def test_srp_band_join_shuffles_skinny_codes_only(spark):
    """The SRP band self-join (``banded_pairs``) must be an equi-join
    whose inputs carry only (id, band_id, band_key) — vectors must NOT
    flow through the candidate-generation exchange."""
    from markt_database_analyzer_spark.datapipe import similarity as sim
    from markt_database_analyzer_spark.datapipe.util import banded_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    mat = sim.srp_matrix(64)
    from pyspark.sql import functions as F

    vecd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    codes = emb.select(
        F.col("vec_id").alias("id"),
        F.posexplode(F.array(*sim.srp_band_codes(vecd, mat))).alias("band_id", "band_key"),
    )
    cand = banded_pairs(codes)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the exchanges feeding the join must not materialize the vector column
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "embedding" not in line, line


def test_tpch_q4_semi_join_keeps_equi_key(spark):
    """Q4's EXISTS must compile to a LeftSemi HASH join on orderkey with
    the shipdate>orderdate inequality as a residual condition — never a
    nested-loop theta join over orders x lineitem."""
    plan = _plan(spark, "tpch_q4_order_priority")
    assert "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_tpch_q16_anti_join_broadcasts_exclusions(spark):
    """Q16's NOT IN must decorrelate to a broadcast LEFT ANTI join against
    the tiny excluded-supplier set, and the distinct count must expand to
    a two-phase aggregate (partial_count(distinct ...) map-side)."""
    plan = _plan(spark, "tpch_q16_supplier_cnt_by_parttype")
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count(distinct" in plan, plan


def test_tpch_q13_join_partitioning_feeds_first_agg(spark):
    """Q13 at scale (broadcast disabled, the 100 TB shape): the outer
    join sort-merges on custkey and the per-customer count must reuse
    that partitioning — NO exchange between the join and the first
    aggregate — and the non-key join predicate must still push to the
    orders scan."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "tpch_q13_customer_distribution")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "LeftOuter" in plan, plan
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in plan, plan
    # root-first rendering: the per-customer aggregate sits ABOVE the join;
    # the text between them must contain no Exchange (partitioning reused)
    agg_at = plan.find("HashAggregate(keys=[c_custkey")
    join_at = plan.find("SortMergeJoin")
    assert 0 <= agg_at < join_at, plan
    assert "Exchange" not in plan[agg_at:join_at], plan[agg_at:join_at]


def test_winnowing_pairs_shuffle_ints_only(spark):
    """The winnowing inverted-index self-join must exchange (id, fph)
    ints only — document text must never cross a shuffle boundary."""
    plan = _plan(spark, "dedup_winnowing_pairs")
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


def test_tpch_q8_single_shuffle_join(spark):
    """Q8's seven-relation snowflake must resolve to broadcasts plus at
    most ONE shuffled join (lineitem x orders); the share is two sums in
    one hash agg, never a pivot or a second pass."""
    plan = _plan(spark, "tpch_q8_market_share")
    shuffled = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert shuffled <= 1, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_tpch_q10_filters_push_and_top20_takes_ordered(spark):
    """Q10: both selective filters reach their scans; the top-20 compiles
    to TakeOrderedAndProject, not a global sort."""
    plan = _plan(spark, "tpch_q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_tpch_q19_part_disjunction_pushes_to_scan(spark):
    """Q19: the factored part-only disjunction (brand+size arms) must
    reach the part scan as a pushed Or predicate — the join must not see
    unmatched brands."""
    plan = _plan(spark, "tpch_q19_disjunctive_revenue")
    scan = next(
        line
        for line in plan.splitlines()
        if "FileScan parquet" in line and "p_brand" in line
    )
    assert "Or(" in plan, plan
    assert "p_name" not in scan and "p_retailprice" not in scan


def test_tpch_q22_anti_join_on_keys_only(spark):
    """Q22: the NOT EXISTS decorrelates to a LEFT ANTI join and the
    orders side is pre-projected to its join key (no wider columns)."""
    plan = _plan(spark, "tpch_q22_sleeper_accounts")
    assert "LeftAnti" in plan
    orders_scan = next(
        line
        for line in plan.splitlines()
        if "FileScan parquet" in line and "o_custkey" in line
    )
    assert "o_totalprice" not in orders_scan and "o_orderdate" not in orders_scan


def test_tpch_q2_correlated_min_decorrelates_once(spark):
    """Q2: the correlated min-cost subquery must run as ONE per-part
    aggregate joined back (two HashAggregate pairs total: offers and
    best), with the supplier->nation->region leg fully broadcast."""
    plan = _plan(spark, "tpch_q2_min_cost_supplier")
    assert "BroadcastHashJoin" in plan
    # offers agg (partial+final) + best agg (partial+final) + nothing more
    # on the fact path; a re-evaluated correlation would add aggregates
    assert plan.count("HashAggregate") <= 8, plan


def test_tpch_q9_single_fact_shuffle(spark):
    """Q9: part/supplier/nation all broadcast; the only exchange on the
    fact path is lineitem x orders and the final group-by."""
    plan = _plan(spark, "tpch_q9_product_profit")
    shuffled = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert shuffled <= 1, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_tpch_q12_filters_push_to_scan(spark):
    """Q12: the flag IN-list and ship-year filters prune the lineitem
    scan; the cross-table lateness predicate stays a residual join
    filter (it cannot push below the join)."""
    plan = _plan(spark, "tpch_q12_shipmode_priority")
    assert "In(l_returnflag" in plan, plan


def test_tpch_q20_threshold_reuses_grouping(spark):
    """Q20: the per-part threshold aggregates OVER the (part, supplier)
    sums — the second agg's key is a prefix of the first's, so no join
    shape may degenerate to nested-loop and the part filter must reach
    the part scan pushed."""
    plan = _plan(spark, "tpch_q20_potential_promotion")
    assert "StringEndsWith(p_name,widget)" in plan, plan
    assert "LeftSemi" in plan, plan


def test_tpch_q21_no_fact_self_join(spark):
    """Q21: both EXISTS decorrelate into ONE per-order distinct-supplier
    aggregate joined back — the lineitem relation is scanned for the
    late set and the per-order stats, never paired row-to-row with
    itself (no more than 2 lineitem scans, no cartesian shapes)."""
    plan = _plan(spark, "tpch_q21_waiting_supplier")
    li_scans = sum(
        1
        for line in plan.splitlines()
        if "FileScan parquet" in line and "l_orderkey" in line
    )
    assert li_scans <= 2, plan
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """A fact table partitioned on the join key must be pruned at
    runtime by a selective broadcast dim (DPP): the fact scan carries a
    dynamicpruning subquery in its partition filters, so at 100 TB a
    one-month dim filter touches one month of fact files, not the whole
    table. This is free from Catalyst ONLY if the layout partitions on
    the join key — which is the write-side discipline
    sources/sinks.write_partitioned exists to enforce."""
    from pyspark.sql import functions as F

    from markt_database_analyzer_spark.sources.readers import read_table

    fact_dir = f"{tmp_path}/fact_by_month"
    (
        read_table(spark, "/root/testdata/sf0.01", "orders")
        .withColumn("omonth", F.date_format("o_orderdate", "yyyy-MM"))
        .write.partitionBy("omonth")
        .mode("overwrite")
        .parquet(fact_dir)
    )
    dim = spark.createDataFrame(
        [("1995-03", 1), ("1995-04", 0)], "omonth string, flag int"
    )
    fact = spark.read.parquet(fact_dir)
    joined = (
        fact.join(F.broadcast(dim).filter(F.col("flag") == 1), "omonth")
        .groupBy("omonth")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    rows = joined.collect()
    assert len(rows) == 1 and rows[0].omonth == "1995-03" and rows[0].n > 0


@pytest.mark.parametrize(
    "name", ["multimodal_decode_real", "multimodal_decode_audio"]
)
def test_decode_entries_are_map_only(spark, name):
    """Both real-codec entries are two chained Arrow map stages —
    a join or aggregate appearing here would mean the fixture builder or
    featurizer grew a shuffle it does not need."""
    plan = _plan(spark, name)
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan, plan
