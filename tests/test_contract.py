"""Driver-contract guards: the three surfaces the build driver and the
bench harness consume must keep their exact shapes — a regression here
blanks a whole round's verification, so it gets its own tests.

Spark-session-free where possible (fast collection); the bench run
uses a tiny single-query subset at sf0.001.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The names each round registered: the STATUS.md changelog of that
# round must list every one (test_status_ledger_matches_registry).
ROUND13_REGISTRATIONS: list[str] = [
    "kuiper_test_hours",
    "cliffs_delta_weekend",
    "mood_scale_test",
    "von_neumann_ratio_daily",
    # second round-13 batch (trend/blocked/reliability)
    "cox_stuart_trend",
    "quade_test_blocks",
    "cronbach_alpha_hours",
    "icc_oneway_types",
    # third round-13 batch (complexity, sketches, model QA, OLAP)
    "permutation_entropy_daily",
    "sample_entropy_daily",
    "kmv_distinct_setops",
    "bloom_filter_fpr_audit",
    "dagostino_k2_normality",
    "classifier_ks_separation",
    "herfindahl_concentration",
]

ROUND12_REGISTRATIONS: list[str] = [
    "energy_distance_weekend",
    "cramer_von_mises_weekend",
    "ansari_bradley_scale",
    "jarque_bera_by_type",
    "bartlett_variance_test",
    "welch_anova_value",
    "dunn_posthoc_pairwise",
    "kendall_w_concordance",
    "kpss_level_stationarity",
    "mahalanobis_outlier_topk",
    "hotelling_t2_weekend",
    "theil_inequality_decomposition",
    "rmst_restricted_mean_survival",
    "bigram_perplexity_heldout",
    "anderson_darling_ksample",
    "stream_session_then_agg",
    # second round-12 batch (ordered-alternative, spectral/circular,
    # regression diagnostics, retrieval agreement)
    "page_trend_test",
    "jonckheere_terpstra_dayparts",
    "spectral_entropy_hourly",
    "rayleigh_event_times",
    "breusch_pagan_lm",
    "cooks_distance_topk",
    "rbo_rank_agreement",
    # third round-12 batch (changepoint/trend/randomness, graph panel)
    "pettitt_changepoint_daily",
    "seasonal_mann_kendall",
    "bartels_rank_randomness",
    "link_prediction_scores",
]

ROUND11_REGISTRATIONS: list[str] = [
    "friedman_test_day_blocks",
    "mood_median_test",
    "grubbs_outlier_scan",
    "chow_break_test",
    "neyman_allocation_plan",
    "calinski_harabasz_index",
    "davies_bouldin_index",
    "fisher_g_periodicity",
    "zorder_pruning_audit",
    "rbp_err_retrieval_eval",
    "cdc_chunk_dedup",
    "g_test_type_dow",
    "ewma_control_chart",
    "partial_corr_value_hour",
    "cochran_q_test",
    "mcc_classifier_eval",
]


def test_entry_module_contract():
    sys.path.insert(0, REPO)
    import __spark_entry__ as e

    qs = e.queries()
    osql = e.oracle_sql()
    assert callable(e.entry)
    assert len(qs) >= 157
    # every query callable, every oracle a non-empty SQL string, and
    # the two dicts cover the same names (zero rows-only checks)
    assert set(qs) == set(osql)
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in osql.values())


def test_bench_emits_contract_json_line(tmp_path):
    """bench.py's LAST stdout line must be the driver's JSON contract,
    and the full map must land in BENCH_LOCAL.json (whose committed
    full-registry content is restored afterwards)."""
    local = os.path.join(REPO, "BENCH_LOCAL.json")
    saved = open(local).read() if os.path.exists(local) else None
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        BENCH_QUERIES="order_priority_counts",
        SPARK_DRIVER_MEMORY="2g",
    )
    try:
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True, text=True, env=env, cwd=REPO, timeout=420,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        last = out.stdout.strip().splitlines()[-1]
        r = json.loads(last)
        assert r["metric"] == "total_query_wall_time"
        assert r["unit"] == "sec"
        assert r["sf"] == 0.001
        assert r["n_failed"] == 0
        assert set(r["queries"]) == {"order_priority_counts"}
        assert r["queries"]["order_priority_counts"] > 0
        with open(local) as fh:
            disk = json.load(fh)
        assert disk["queries"] == r["queries"]
    finally:
        if saved is not None:
            with open(local, "w") as fh:
                fh.write(saved)


def test_status_ledger_matches_registry():
    """STATUS.md's per-round ledgers cannot drift from the registry
    (VERDICT r10 item 4): every name in ROUND{11,12,13}_REGISTRATIONS
    must be registered with an oracle, and every registration must
    appear in its round's STATUS changelog; any '+N naive ... pins' claim in
    the round-11 changelog must match the two r11 property modules'
    actual test count."""
    import re

    sys.path.insert(0, REPO)
    from iot_etl_spark.plans import ORACLES

    R11, R12, R13 = ROUND11_REGISTRATIONS, ROUND12_REGISTRATIONS, ROUND13_REGISTRATIONS
    for n in R11 + R12 + R13:
        assert n in ORACLES, n
    status = open(os.path.join(REPO, "STATUS.md")).read()
    sec11 = status.split("## Round-11 changelog")[1].split("## Round-10")[0]
    for n in R11:
        assert n in sec11, f"{n} missing from the STATUS round-11 changelog"
    sec12 = status.split("## Round-12 changelog")[1].split("## Round-11")[0]
    for n in R12:
        assert n in sec12, f"{n} missing from the STATUS round-12 changelog"
    sec13 = status.split("## Round-13 changelog")[1].split("## Round-12")[0]
    for n in R13:
        assert n in sec13, f"{n} missing from the STATUS round-13 changelog"
    claim = re.search(r"\+(\d+) naive-reimplementation pins", sec11)
    if claim:
        n_tests = 0
        for mod in ("test_r11_properties.py", "test_r11b_properties.py"):
            src = open(os.path.join(REPO, "tests", mod)).read()
            n_tests += len(re.findall(r"^def test_", src, re.M))
        assert int(claim.group(1)) == n_tests, (claim.group(1), n_tests)


def test_campaign_ledger_headline_is_mechanical():
    """The oracle-independence campaign's 'N pinned of M' headline is
    DERIVED, not hand-maintained (VERDICT r11 item 3): a registry
    query counts as pinned iff a campaign module
    (tests/test_*_properties.py or tests/test_r*_invariants.py)
    references QUERIES['name']; STATUS.md's round-12 changelog must
    carry exactly 'Campaign ledger (mechanical): **N of M**' with N =
    that derived count and M = the live registry size."""
    import glob
    import re

    sys.path.insert(0, REPO)
    from iot_etl_spark.plans import QUERIES

    campaign = sorted(
        glob.glob(os.path.join(REPO, "tests", "test_*_properties.py"))
    ) + sorted(glob.glob(os.path.join(REPO, "tests", "test_r*_invariants.py")))
    assert len(campaign) >= 26  # the module set only grows
    pat = re.compile(r"QUERIES\[\s*['\"]([a-z0-9_]+)['\"]\s*\]")
    pinned: set[str] = set()
    for f in campaign:
        with open(f) as fh:
            pinned |= {n for n in pat.findall(fh.read()) if n in QUERIES}
    status = open(os.path.join(REPO, "STATUS.md")).read()
    m = re.search(r"Campaign ledger \(mechanical\): \*\*(\d+) of (\d+)\*\*", status)
    assert m, "STATUS.md must carry the mechanical campaign-ledger headline"
    assert int(m.group(1)) == len(pinned), (int(m.group(1)), len(pinned))
    assert int(m.group(2)) == len(QUERIES), (int(m.group(2)), len(QUERIES))


# Classification of every registry name that carries NO campaign pin
# (VERDICT r12 item 4 — the partition is CODE, not prose). Classes:
#   relational   — declarative join/filter/agg/window/pivot spec; the
#                  DuckDB oracle executes the same declarative spec in
#                  an independent engine, so there is no shared
#                  formula text that could be wrong on both sides.
#   streaming    — stream_* queries; the oracle is an independent
#                  batch recomputation of the streamed result.
#   approx_twin  — *_approx / *_capped variants pinned equal to their
#                  exact siblings (test_approx_twins / test_graph_caps
#                  — mechanically verified below).
#   composition  — report layers over a shared candidate/cluster
#                  stage whose core machinery carries its own pins
#                  (dedup family, span grams); the layer itself is
#                  relational.
_RESIDUE_CLASSES = {
    # --- approx/capped twins
    "device_cooccurrence_capped": "approx_twin",
    "median_ci_order_stats_approx": "approx_twin",
    "pagerank_device_graph_capped": "approx_twin",
    "quality_percentile_gate_approx": "approx_twin",
    "rfm_segments_approx": "approx_twin",
    "supplier_pareto_share_approx": "approx_twin",
    "triangle_count_graph_capped": "approx_twin",
    "value_deciles_approx": "approx_twin",
    # --- compositions over pinned machinery
    "adamic_adar_linkpred": "composition",    # capped coactivity edges
    "blocking_link_pairs": "composition",     # blocked candidates
    "corpus_keep_verdict": "composition",     # dedup-family verdicts
    "dedup_cluster_size_hist": "composition", # cluster labels
    "dedup_clusters": "composition",          # cluster labels
    "dedup_family_signatures": "composition", # minhash signatures
    "dedup_keep_best": "composition",         # cluster labels
    "dedup_span_rewrite": "composition",      # span gram machinery
    "duplicated_span_stats": "composition",   # span gram machinery
    "editdist_blocking_pairs": "composition", # blocked candidates
    "semantic_dedup_verdict": "composition",  # embed LSH pair stage
    # --- everything below is a declarative relational spec
    "bpe_token_stats": "relational",
    "catalog_profile": "relational",
    "column_profile_events": "relational",
    "constraint_audit": "relational",
    "corpus_datasheet": "relational",
    "cube_type_dow": "relational",
    "customer_activity_split": "relational",
    "daily_agg_business_hours": "relational",
    "data_quality_metrics": "relational",
    "device_availability": "relational",
    "device_cooccurrence": "relational",
    "device_health_24h": "relational",
    "device_stats": "relational",
    "dim_time_calendar": "relational",
    "distinct_devices_per_type": "relational",
    "doc_chunks": "relational",
    "embedding_truncation_audit": "relational",
    "enriched_lineitem_topk": "relational",
    "flagship_enriched_hourly": "relational",
    "full_transform_pipeline": "relational",
    "grouping_sets_matrix": "relational",
    "hour_of_day_profile": "relational",
    "hourly_device_agg": "relational",
    "hourly_event_type_pivot": "relational",
    "hourly_rollup": "relational",
    "latency_profile": "relational",
    "latest_per_device": "relational",
    "multimodal_bytes_stats": "relational",
    "order_payment_reconcile": "relational",
    "order_priority_counts": "relational",
    "pack_efficiency_stats": "relational",
    "pii_redaction_stats": "relational",
    "pricing_summary": "relational",
    "props_map_extract": "relational",
    "props_variant_extract": "relational",
    "q10_returned_items": "relational",
    "q11_important_parts": "relational",
    "q12_priority_by_status": "relational",
    "q13_customer_distribution": "relational",
    "q14_promo_revenue": "relational",
    "q15_top_supplier": "relational",
    "q16_supplier_part_counts": "relational",
    "q17_small_quantity_revenue": "relational",
    "q18_large_volume_customers": "relational",
    "q19_disjunctive_revenue": "relational",
    "q20_dominant_suppliers": "relational",
    "q21_sole_blame_supplier": "relational",
    "q22_dormant_high_balance": "relational",
    "q2_min_cost_supplier": "relational",
    "q4_priority_with_returns": "relational",
    "q5_local_supplier_volume": "relational",
    "q6_forecast_revenue": "relational",
    "q7_volume_shipping": "relational",
    "q8_market_share": "relational",
    "q9_product_type_profit": "relational",
    "range_join_click_counts": "relational",
    "recent_anomalies_topk": "relational",
    "referential_integrity_audit": "relational",
    "reservoir_sample_per_type": "relational",
    "revenue_by_nation": "relational",
    "sample_mix_summary": "relational",
    "schema_drift_audit": "relational",
    "session_path_topk": "relational",
    "sql_lateral_recent_orders": "relational",
    "sql_recursive_dedup_roots": "relational",
    "sql_shipping_priority": "relational",
    "time_grid_gapfill": "relational",
    "top_customers_by_revenue": "relational",
    "top_devices_per_type": "relational",
    "top_parts_per_segment": "relational",
    "unpivot_type_metrics": "relational",
    "user_set_ops": "relational",
    "weekend_weekday_comparison": "relational",
    "bucketed_join_revenue": "relational",
}


def test_unpinned_residue_is_classified():
    """pinned + classified exemptions == registry, with zero
    unclassified residue and zero stale classifications (a name that
    GAINS a pin must leave the exemption map). Streaming queries
    classify by prefix; every approx_twin exemption must actually be
    referenced by a twin-equality module."""
    import glob
    import re

    sys.path.insert(0, REPO)
    from iot_etl_spark.plans import QUERIES

    campaign = sorted(
        glob.glob(os.path.join(REPO, "tests", "test_*_properties.py"))
    ) + sorted(glob.glob(os.path.join(REPO, "tests", "test_r*_invariants.py")))
    pat = re.compile(r"QUERIES\[\s*['\"]([a-z0-9_]+)['\"]\s*\]")
    pinned: set[str] = set()
    for f in campaign:
        with open(f) as fh:
            pinned |= {n for n in pat.findall(fh.read()) if n in QUERIES}

    classified = set(_RESIDUE_CLASSES)
    streaming = {n for n in QUERIES if n.startswith("stream_")} - pinned
    unaccounted = set(QUERIES) - pinned - classified - streaming
    assert not unaccounted, sorted(unaccounted)
    stale = classified & pinned
    assert not stale, sorted(stale)
    ghost = classified - set(QUERIES)
    assert not ghost, sorted(ghost)
    assert len(pinned) + len(classified) + len(streaming) == len(QUERIES)

    twin_src = ""
    for mod in ("test_approx_twins.py", "test_graph_caps.py"):
        with open(os.path.join(REPO, "tests", mod)) as fh:
            twin_src += fh.read()
    for n, cls in _RESIDUE_CLASSES.items():
        if cls == "approx_twin":
            assert f'"{n}"' in twin_src, f"{n}: no twin-equality pin found"
