"""Physical-plan regression guards (SURVEY.md §7.2): the properties
that make the headline queries scale are pinned here so a refactor
can't silently trade a broadcast for a shuffle, lose a pushed filter,
or reintroduce a global sort / all-pairs join.
"""

from __future__ import annotations

import pytest

from iot_etl_spark.plans import registry
from tests.conftest import SF_DIR


def _plans(spark, name):
    df = registry.QUERIES[name](spark, SF_DIR)
    qe = df._jdf.queryExecution()
    return qe.executedPlan().toString(), qe.toString()


def test_pushdown_reaches_parquet_scans(spark):
    """Filters land in the scan (PushedFilters), not above it."""
    for name, frag in [
        ("device_stats", "PushedFilters: [IsNotNull"),
        ("sql_shipping_priority", "LessThan(o_orderdate"),
        ("pricing_summary", "PushedFilters"),
        ("q5_local_supplier_volume", "GreaterThanOrEqual(o_orderdate"),
    ]:
        _, full = _plans(spark, name)
        assert frag in full, (name, frag)


def test_dim_joins_broadcast(spark):
    """Dimension/small-side joins are broadcast hash joins — the fact
    side never shuffles for enrichment."""
    for name in [
        "enriched_lineitem_topk",
        "sql_shipping_priority",
        "decontaminate_overlap",
        "unigram_logprob_score",
        "customer_activity_split",
        "q5_local_supplier_volume",
    ]:
        plan, _ = _plans(spark, name)
        assert "BroadcastHashJoin" in plan, name


def test_topk_compiles_to_take_ordered(spark):
    """ORDER BY + LIMIT never runs a global sort."""
    for name in ["enriched_lineitem_topk", "recent_anomalies_topk",
                 "sql_shipping_priority", "token_heavy_hitters",
                 "q10_returned_items", "vocab_coverage_curve"]:
        plan, _ = _plans(spark, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "], true, 0" not in plan, name  # no global Sort node


def test_row_level_outputs_have_no_global_sort(spark):
    """Unlimited row-level queries must not end in a full sort (the
    driver hash is order-insensitive; a terminal orderBy is a full
    shuffle+sort for nothing at scale). Window-function sorts are
    per-partition (global=false) and allowed."""
    for name in ["zscore_anomaly", "lag_features", "rolling_window_stats",
                 "text_quality_stats", "simhash_fingerprint", "doc_chunks",
                 "repetition_stats", "time_grid_gapfill", "value_histogram",
                 "top_devices_per_type", "sensor_drift"]:
        plan, _ = _plans(spark, name)
        assert "], true, 0" not in plan, name


def test_no_cartesian_or_nested_loop_joins(spark):
    """Near-dup/candidate joins are banded bucket joins — never an
    all-pairs product. (The embedding top-k queries legitimately
    broadcast a 1-row query vector; they are excluded.)"""
    for name in ["simhash_near_pairs", "dedup_ngram_jaccard",
                 "minhash_lsh_candidates", "embedding_similar_pairs",
                 "dedup_clusters"]:
        plan, _ = _plans(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_column_pruning_reaches_scans(spark):
    """Projections prune at the parquet scan (ReadSchema): queries
    that don't touch wide columns must not read them — at 100 TB the
    unread column is the cheapest column."""
    cases = [
        # (query, column that must NOT be scanned)
        ("token_heavy_hitters", "lang"),       # only text is needed
        ("dedup_exact", "props"),              # never touches events
        ("hourly_event_type_pivot", "props"),  # events: ts+type only
        ("sequence_packing", "source"),
        ("order_priority_counts", "o_custkey"),
    ]
    for name, banned in cases:
        _, full = _plans(spark, name)
        schemas = [ln for ln in full.splitlines() if "ReadSchema" in ln]
        assert schemas, name
        assert not any(banned in ln for ln in schemas), (name, banned, schemas)


def test_q17_broadcasts_part_slice_and_single_shuffle(spark):
    """Q17's decorrelated shape: the part slice joins broadcast; the
    only Exchange is the l_partkey window shuffle."""
    plan, _ = _plans(spark, "q17_small_quantity_revenue")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """With injection thresholds lowered to local-test scale, Catalyst
    arms a runtime Bloom filter from the selective part slice onto the
    lineitem scan (might_contain over bloom_filter_agg) — the
    mechanism that prunes fact row groups on a 100 TB scan without any
    code change. Pinned here so a refactor of Q17's join shape doesn't
    silently lose eligibility (the filter only injects when the
    application side is a plain scan under a shuffle-producing join)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        # injection requires a probable SHUFFLE join (broadcast joins
        # filter at the join already); model the at-scale shape where
        # the fact side shuffles
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        from iot_etl_spark.plans.queries_tpch import Q17_BRAND, Q17_MAX_SIZE
        from iot_etl_spark.sources.tables import load_table
        from pyspark.sql import functions as F

        part_f = (
            load_table(spark, SF_DIR, "part")
            .filter((F.col("p_brand") == Q17_BRAND) & (F.col("p_size") <= Q17_MAX_SIZE))
            .select("p_partkey")
        )
        li = load_table(spark, SF_DIR, "lineitem").select(
            "l_partkey", "l_quantity", "l_extendedprice"
        )
        # plain (non-broadcast-hinted) join: the optimizer decides both
        # the join strategy and the runtime-filter injection
        j = li.join(part_f, li.l_partkey == part_f.p_partkey)
        full = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in full or "might_contain" in full, full
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_semi_anti_join_shapes(spark):
    """The EXISTS/NOT EXISTS/NOT IN family compiles to semi/anti hash
    joins — each probe row emitted at most once, no DISTINCT fix-up,
    no materialized match list."""
    plan, _ = _plans(spark, "q4_priority_with_returns")
    assert "LeftSemi" in plan, plan
    for name in ["q16_supplier_part_counts", "q22_dormant_high_balance"]:
        plan, _ = _plans(spark, name)
        assert "LeftAnti" in plan, name


def test_q19_disjunction_pushed_to_fact_scan(spark):
    """Q19's OR-of-conjunct quantity bands reach the lineitem scan as
    a pushed disjunctive data filter (each band references only
    lineitem columns, so Catalyst extracts the per-side disjunction
    from the mixed predicate), and the whole query runs with zero
    shuffles — broadcast join + single-row aggregate."""
    plan, full = _plans(spark, "q19_disjunctive_revenue")
    scans = [ln for ln in full.splitlines()
             if "FileScan" in ln and "lineitem" in ln and "l_quantity" in ln]
    assert any("OR" in ln.upper() for ln in scans), scans
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_single_fact_scan_decorrelations(spark):
    """Q20/Q21's correlated-aggregate shapes run off ONE scan of the
    fact table (window-over-rollup / window collect_set decorrelation)
    — the textbook multi-CTE forms scan lineitem 2-3 times."""
    for name, max_exch in [("q20_dominant_suppliers", 3),
                           ("q21_sole_blame_supplier", 2)]:
        plan, _ = _plans(spark, name)
        li_scans = sum(1 for ln in plan.splitlines()
                       if "FileScan parquet" in ln and "lineitem" in ln)
        assert li_scans == 1, (name, li_scans)
        assert plan.count("Exchange hashpartitioning") <= max_exch, name


def test_new_tpch_dim_joins_broadcast(spark):
    """The deep-tree queries broadcast every dimension hop; only fact
    tables shuffle."""
    for name in ["q7_volume_shipping", "q8_market_share",
                 "q9_product_type_profit", "q14_promo_revenue",
                 "q2_min_cost_supplier"]:
        plan, _ = _plans(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_constraint_audit_single_scan_single_exchange(spark):
    """The whole declarative constraint suite rides ONE scan and ONE
    aggregate exchange — adding a rule must add a column, not a
    scan."""
    plan, _ = _plans(spark, "constraint_audit")
    scans = sum(1 for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert scans == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_corpus_analytics_avoid_shuffle_joins(spark):
    """tfidf/pmi: document-frequency/unigram sides are broadcast
    (vocabulary-grained); no sort-merge join of token streams, no
    cartesian except the 1-row totals broadcast."""
    for name in ["tfidf_top_terms", "pmi_cooccurrence"]:
        plan, _ = _plans(spark, name)
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_audit_family_plan_shapes(spark):
    """Round-4 audit family: the blocking join is a real equi-join
    (never cartesian/nested-loop), the skew audit is the two-level
    aggregation (exactly 2 exchanges), the vocab curve windows run
    over the post-aggregate vocabulary (no join at all), and the norm
    outlier screen broadcasts its tiny per-label stats."""
    plan, _ = _plans(spark, "blocking_link_pairs")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    plan, _ = _plans(spark, "key_skew_audit")
    assert plan.count("Exchange") == 2, plan.count("Exchange")

    # top-k-first (r5): the head is a TakeOrderedAndProject, the grand
    # total arrives by 1-row broadcast, and the cumulative window runs
    # AFTER the limit — over <=100 rows, never the full vocabulary.
    plan, _ = _plans(spark, "vocab_coverage_curve")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total join
    take_pos = plan.index("TakeOrderedAndProject")
    win_pos = plan.index("Window")
    assert win_pos < take_pos  # Window sits ABOVE the limited head

    plan, _ = _plans(spark, "embedding_norm_outliers")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_session3_bi_plan_shapes(spark):
    """Later round-4 additions: per-key recurrence folds in one
    exchange, weekly share windows partition by week (never a global
    single-partition window), segment top-k broadcasts its dims, and
    the fact-fact delay join has no broadcast-nested-loop fallback."""
    plan, _ = _plans(spark, "holt_forecast_per_device")
    assert plan.count("Exchange") == 1, plan.count("Exchange")

    plan, _ = _plans(spark, "segment_weekly_share")
    assert "SinglePartition" not in plan

    plan, _ = _plans(spark, "top_parts_per_segment")
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan

    plan, _ = _plans(spark, "shipping_delay_stats")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_round6_additions_plan_shapes(spark):
    """Round-6 additions: the edit-distance blocking join is a
    variant-keyed equi-join (never an all-pairs product), the Gini
    rank window partitions by nation (never a global single-partition
    window before aggregation), and the capped co-activity twins keep
    the bucket cap as a partitioned window, no cartesian fallback."""
    plan, _ = _plans(spark, "editdist_blocking_pairs")
    # candidate generation must be a variant-keyed EQUI-join (the
    # 1-row summary stitch at the end is a legitimate broadcast
    # cross join, same exclusion as the embedding top-k family)
    assert "CartesianProduct" not in plan
    assert any(j in plan for j in
               ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))

    plan, _ = _plans(spark, "nation_revenue_gini")
    # the only SinglePartition allowed is none: ranks partition by
    # nation and the result stays per-nation
    assert "SinglePartition" not in plan

    for name in ["device_cooccurrence_capped", "triangle_count_graph_capped"]:
        plan, _ = _plans(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_repetition_stats_is_shuffle_free(spark):
    """The round-6 sorted-run rewrite computes the whole per-doc
    repetition profile inside one map stage: ZERO exchanges — the
    previous explode -> two-level aggregate shuffled the full bigram
    stream to regroup what each row already contained."""
    plan, _ = _plans(spark, "repetition_stats")
    assert plan.count("Exchange") == 0, plan.count("Exchange")

def test_analytics3_plan_shapes(spark):
    """Analytics batch 3: the periodogram reads events ONCE (series
    stats are windows over the post-aggregate hour frame, not a
    re-scan) and keeps the term fold in two exchanges; the FIFO match
    never self-joins the ranked stream (pair fold is a group-by);
    the skyline's only unpartitioned window runs AFTER the bucket-
    local prune."""
    plan, _ = _plans(spark, "dft_periodogram")
    assert plan.count("FileScan") == 1, plan.count("FileScan")
    assert plan.count("Exchange") <= 3, plan.count("Exchange")

    plan, _ = _plans(spark, "fifo_click_purchase_match")
    # one scan for the matched leg, one for the counts leg
    assert plan.count("FileScan") <= 2, plan.count("FileScan")
    assert "CartesianProduct" not in plan

    plan, _ = _plans(spark, "skyline_supplier_frontier")
    assert "CartesianProduct" not in plan
    # phase-1 windows are bucket-partitioned; exactly one global
    # frontier pass may run single-partition (on the pruned union)
    assert plan.count("Exchange SinglePartition") <= 1


def test_round7_plan_shapes(spark):
    """Round-7 additions: the ridge fit is ONE scan + ONE global
    aggregate exchange (training as aggregation); the bitmap distinct
    never falls back to an Expand-based COUNT(DISTINCT); the clamped
    balance shuffles once onto the Arrow grouped-map; BH's only
    single-partition exchange is the bounded p-cell window (one scan
    total); the SCD2 PIT join is user-keyed, never a cartesian; BFS
    stays equi-join shaped across all unrolled hops."""
    plan, _ = _plans(spark, "ridge_normal_equations")
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange") == 1

    plan, _ = _plans(spark, "bitmap_exact_distinct")
    assert plan.count("FileScan") == 1
    assert plan.count("Expand") == 0
    assert plan.count("Exchange") == 2

    plan, _ = _plans(spark, "clamped_running_balance")
    # r13: grouped-map -> partition-map fold (guide §4.5); the shuffle
    # onto the Arrow stage stays single and a JVM Sort (not Python)
    # orders each user's deltas
    assert plan.count("MapInPandas") + plan.count("PythonMapInArrow") == 1
    assert plan.count("FlatMapGroupsInPandas") == 0
    assert plan.count("Exchange") == 1
    assert "Sort " in plan

    plan, _ = _plans(spark, "device_mad_pandas")
    # r13: same grouped-map -> partition-map rewrite as
    # clamped_running_balance (guide §4.5) — one Exchange onto the
    # Arrow stage, a JVM Sort grouping each user's values
    assert plan.count("MapInPandas") + plan.count("PythonMapInArrow") == 1
    assert plan.count("FlatMapGroupsInPandas") == 0
    assert plan.count("Exchange") == 1
    assert "Sort " in plan

    plan, _ = _plans(spark, "benjamini_hochberg_fdr")
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange SinglePartition") <= 1

    plan, _ = _plans(spark, "scd2_point_in_time")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan, _ = _plans(spark, "bfs_hop_distance")
    assert "CartesianProduct" not in plan

    plan, _ = _plans(spark, "sprt_sequential_monitor")
    # the only global window runs over the ~30-row daily pre-aggregate
    assert plan.count("FileScan") == 1


def test_round8_plan_shapes(spark):
    """Round-8 additions: the funnel and Page-Hinkley run their whole
    per-user recursion on ONE scan (windows chained over one user
    partitioning); schema drift and Theil-U2 each stay single-scan
    after the lineage-fan-out rewrites (self-joins would re-run the
    upstream subtree); the only single-partition exchange sits over
    the bounded calendar-day grid."""
    plan, _ = _plans(spark, "window_funnel_conversion")
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange") == 2  # user window + depth agg
    assert "CartesianProduct" not in plan

    plan, _ = _plans(spark, "page_hinkley_drift")
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange") == 1  # one user_id exchange, reused

    plan, _ = _plans(spark, "schema_drift_daily")
    assert plan.count("FileScan") == 1  # window first-seen, no self-join

    plan, _ = _plans(spark, "theil_u_forecast_skill")
    assert plan.count("FileScan") == 1  # range-frame lags, no self-joins
    assert plan.count("Exchange") == 2

    plan, _ = _plans(spark, "null_rate_drift_daily")
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange SinglePartition") == 1  # day-grid lag

    plan, _ = _plans(spark, "ngram_uniqueness_rate")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan, _ = _plans(spark, "ivf_probe_recall_curve")
    # the expensive brute-force scoring arm is read from the stage
    # cache (4 consumers, 1 compute); probe branches are TakeOrdered
    assert plan.count("TakeOrderedAndProject") >= 4
    assert "CartesianProduct" not in plan


def test_round9_plan_shapes(spark):
    """Round-9 additions: the yield curve's document scan prunes to
    the n_chars column (the raw text is never read); the global Gini
    has NO per-row global sort — its only single-partition work sits
    over the bounded distinct-revenue cell frame; Kendall's pair join
    is keyed per device (sort-merge/hash on user_id, no cartesian);
    component stats read BOTH graph artifacts from the stage cache
    (no min-label loop in the plan: no iterative scans)."""
    _, full = _plans(spark, "length_filter_yield_curve")
    import re

    doc_reads = re.findall(r"ReadSchema: struct<([^>]*)>", full)
    doc_scan = [r for r in doc_reads if "n_chars" in r]
    assert doc_scan and all(r == "n_chars:bigint" for r in doc_scan), doc_reads

    plan, _ = _plans(spark, "gini_customer_revenue")
    # exactly one single-partition exchange (cell-frame window +
    # scalar agg share it); no Sort over the customer rows' exchange
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan") == 1

    plan, _ = _plans(spark, "kendall_trend_per_device")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan, _ = _plans(spark, "coactivity_component_stats")
    # both inputs are materialized artifacts: scans only, no iteration
    assert "LogicalRDD" not in plan  # no localCheckpoint CC loop inline
    assert "CartesianProduct" not in plan


def test_round10_plan_shapes(spark):
    """Round-10 additions: Kruskal-Wallis reads only (event_type,
    value) and never sorts the raw rows globally — its one ordered
    window runs over the distinct-value cell frame; Durbin-Watson and
    Croston are single-scan per-device window pipelines with no
    cartesian anywhere; MASE's lag-7 self-join is keyed, never a
    nested loop; the priority sample's per-stratum rank is a
    partitioned window (no global Sort node); the silhouette distance
    pass joins exploded vectors to the centroid frame via broadcast."""
    import re

    _, full = _plans(spark, "kruskal_wallis_value_by_type")
    ev_reads = re.findall(r"ReadSchema: struct<([^>]*)>", full)
    assert ev_reads and all(
        set(r.split(",")) <= {"event_type:string", "value:double"} for r in ev_reads
    ), ev_reads
    plan, _ = _plans(spark, "kruskal_wallis_value_by_type")
    assert "CartesianProduct" not in plan

    for name in ("durbin_watson_per_device", "croston_intermittent_demand"):
        plan, _ = _plans(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert plan.count("FileScan") == 1, name

    plan, _ = _plans(spark, "mase_daily_per_device")
    assert "CartesianProduct" not in plan
    # the lag-7 self-join must be keyed (hash); the only BNLJ allowed
    # is the 1-row holdout-boundary scalar broadcast (crossJoin(mx))
    assert "BroadcastHashJoin" in plan

    plan, _ = _plans(spark, "priority_sample_per_type")
    # No GLOBAL sort anywhere: Spark 4.x renders SortExec as
    # "Sort [<ordering>], <global>, 0" — a global sort is "], true" and
    # is always fed by an Exchange rangepartitioning. Assert both the
    # explicit node form and the range-shuffle that implements it
    # (ADVICE r10: the old '], true, 0' substring matched any Sort
    # node's tail and pinned nothing specific).
    assert not re.search(r"Sort \[[^\]]*\], true", plan), plan
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan

    plan, _ = _plans(spark, "silhouette_by_label")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_round11_plan_shapes(spark):
    """Round-11 batch: no cartesian products, no global sorts
    (Exchange rangepartitioning), dimension/statistic frames broadcast,
    and the fact never re-scanned more than the documented budget
    (bounded helper frames are localCheckpoint'd -> Scan ExistingRDD)."""
    import re

    budgets = {  # max FileScan nodes allowed in the final plan
        "friedman_test_day_blocks": 2,
        "mood_median_test": 2,
        "grubbs_outlier_scan": 3,
        "chow_break_test": 1,
        "neyman_allocation_plan": 1,
        "calinski_harabasz_index": 2,
        "davies_bouldin_index": 1,
        "fisher_g_periodicity": 1,
        "zorder_pruning_audit": 2,
        "rbp_err_retrieval_eval": 2,
        "cdc_chunk_dedup": 1,
        "g_test_type_dow": 3,
        "ewma_control_chart": 1,
        "partial_corr_value_hour": 1,
        "cochran_q_test": 1,
        "mcc_classifier_eval": 1,
    }
    for name, budget in budgets.items():
        plan, _ = _plans(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "Exchange rangepartitioning" not in plan, name
        assert not re.search(r"Sort \[[^\]]*\], true", plan), name
        assert plan.count("FileScan") <= budget, (
            name, plan.count("FileScan"))

    # the statistic-side joins stay broadcast (fact side never
    # shuffles for a k-row frame)
    for name in ("grubbs_outlier_scan", "neyman_allocation_plan",
                 "calinski_harabasz_index", "zorder_pruning_audit"):
        plan, _ = _plans(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_round12_plan_shapes(spark):
    """Round-12 batch: no cartesian products, no global sorts
    (Exchange rangepartitioning), statistic frames broadcast, and the
    fact never re-scanned more than the documented budget (bounded
    cell frames are localCheckpoint'd -> Scan ExistingRDD; the two
    rescan-by-design queries are mahalanobis — aggregate then score —
    and the LM pair, whose sublinear tables derive from the same
    corpus scan)."""
    import re

    budgets = {  # max FileScan nodes allowed in the final plan
        "energy_distance_weekend": 1,
        "cramer_von_mises_weekend": 1,
        "ansari_bradley_scale": 1,
        "jarque_bera_by_type": 1,
        "bartlett_variance_test": 1,
        "welch_anova_value": 1,
        "dunn_posthoc_pairwise": 1,
        "kendall_w_concordance": 1,
        "kpss_level_stationarity": 1,
        "mahalanobis_outlier_topk": 2,
        "hotelling_t2_weekend": 1,
        "theil_inequality_decomposition": 1,
        "rmst_restricted_mean_survival": 1,
        "bigram_perplexity_heldout": 4,
        "anderson_darling_ksample": 1,
        # second round-12 batch
        "page_trend_test": 1,
        "jonckheere_terpstra_dayparts": 1,
        "spectral_entropy_hourly": 1,
        "rayleigh_event_times": 1,
        "breusch_pagan_lm": 2,
        "cooks_distance_topk": 1,
        # mirrors bm25_retrieval's postings construction (tf feeds
        # dl/st/dfx/qt) over the small documents table
        "rbo_rank_agreement": 10,
        # third round-12 batch
        "pettitt_changepoint_daily": 1,
        "seasonal_mann_kendall": 1,
        "bartels_rank_randomness": 1,
        # every FileScan here reads the SMALL materialized edge-stage
        # parquet (edge list + degree projections + anti-join side),
        # never the fact table — the adamic_adar stage-reuse shape
        "link_prediction_scores": 9,
    }
    for name, budget in budgets.items():
        plan, _ = _plans(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "Exchange rangepartitioning" not in plan, name
        assert not re.search(r"Sort \[[^\]]*\], true", plan), name
        assert plan.count("FileScan") <= budget, (
            name, plan.count("FileScan"))

    # broadcast DIRECTION pin (VERDICT r12 item 3): the degree attach
    # must broadcast the 25-row top-k HEAD into the |V|-row node
    # joins, never the reverse — i.e. a BroadcastExchange sits within
    # a couple of plan lines above the TakeOrderedAndProject that
    # builds the head (r14: the head is a filter+TakeOrdered over the
    # materialized wedge-score stage, so a Project may intervene). At
    # 100x the degree table is the unbounded side.
    plan, _ = _plans(spark, "link_prediction_scores")
    assert re.search(
        r"BroadcastExchange[^\n]*\n(?:[^\n]*\n){0,2}[^\n]*TakeOrderedAndProject",
        plan,
    ), "no BroadcastExchange over the top-k head"

    # top-k is TakeOrderedAndProject (never a global sort) and the
    # moment frame rides a broadcast back onto the fact
    for name in ("mahalanobis_outlier_topk", "cooks_distance_topk"):
        plan, _ = _plans(spark, name)
        assert "TakeOrderedAndProject" in plan, name
    plan, _ = _plans(spark, "mahalanobis_outlier_topk")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # LM tables broadcast onto the held-out stream (no fact-side
    # shuffle for scoring)
    plan, _ = _plans(spark, "bigram_perplexity_heldout")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_round13_plan_shapes(spark):
    """Round-13 batch: no cartesian products, no global sorts, and
    per-query FileScan budgets (bounded cell/daily frames are
    localCheckpoint'd -> Scan ExistingRDD, so most budgets are 0-1;
    kmv re-reads the cached shingle stage for the two exact twins;
    hhi reads the three star tables once each)."""
    import re

    budgets = {
        "kuiper_test_hours": 1,
        "cliffs_delta_weekend": 0,
        "mood_scale_test": 0,
        "von_neumann_ratio_daily": 0,
        "cox_stuart_trend": 0,
        "quade_test_blocks": 0,
        "cronbach_alpha_hours": 0,
        "icc_oneway_types": 1,
        # r14: the triple self-join became lead() windows over ONE
        # daily-rollup scan — the localCheckpoint (and its eager job)
        # is gone, so the plan legitimately shows a single FileScan
        "permutation_entropy_daily": 1,
        "sample_entropy_daily": 0,
        "kmv_distinct_setops": 2,
        "bloom_filter_fpr_audit": 1,
        "dagostino_k2_normality": 0,
        "classifier_ks_separation": 1,
        "herfindahl_concentration": 3,
    }
    for name, budget in budgets.items():
        plan, _ = _plans(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "Exchange rangepartitioning" not in plan, name
        assert not re.search(r"Sort \[[^\]]*\], true", plan), name
        assert plan.count("FileScan") <= budget, (
            name, plan.count("FileScan"))
    # the KS argmax is a TakeOrderedAndProject over score cells, and
    # the HHI dim joins broadcast (the lineitem side never shuffles
    # for supplier/nation enrichment)
    plan, _ = _plans(spark, "classifier_ks_separation")
    assert "TakeOrderedAndProject" in plan
    plan, _ = _plans(spark, "herfindahl_concentration")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_latest_per_device_limits_before_shuffle(spark):
    """latest_per_device's window keeps its partial group limit below
    the shuffle, so each map task ships at most one row per key."""
    plan, _ = _plans(spark, "latest_per_device")
    below_shuffle = plan.split("Exchange hashpartitioning", 1)[1]
    assert "WindowGroupLimit" in below_shuffle and "Partial" in below_shuffle
