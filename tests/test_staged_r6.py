"""The round-6 slate (plans/staged_r6.py): every query registers at
import and must match its DuckDB oracle."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR_SMOKE, slate


def _staged():
    return slate("staged_r6")


def test_staged_now_registered():
    """Every slate name is live in the registry with its oracle."""
    from cioos_siooc_data_transform_spark.plans import all_oracles, all_queries

    names = set(STAGED_NAMES)
    missing = names - set(all_queries())
    assert not missing, f"slate queries not registered: {missing}"
    missing_o = names - set(all_oracles())
    assert not missing_o, f"slate oracles not registered: {missing_o}"


STAGED_NAMES = [
    # wave A — TPC-H completion
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q11_important_stock",
    "q16_parts_supplier_count",
    "q20_potential_promotion",
    # wave B — GSW round-out
    "gsw_theta_rk4",
    "gsw_ct_from_t_rk4",
    "gsw_sigma3_sigma4",
    "gsw_pt_from_ct",
    # wave C — analytics
    "orders_gap_islands",
    "events_autocorr_lag1",
    "orders_yoy_growth",
    "events_value_entropy",
    "customer_first_last_delta",
    "events_top2_share",
    "nation_revenue_share",
    "customer_recency_bands",
    # wave D — LLM pipeline
    "text_duplicate_ngram_fraction",
    "vocab_js_divergence",
    "embedding_energy_outliers",
    "knn_graph_degree_stats",
    "dedup_window_lines",
    "contamination_split_audit",
    "text_char_class_profile",
    "minhash_band_tuning_audit",
    # wave E — sketch merges
    "sketch_hll_merge_daily",
    "sketch_hll_intersection",
    # wave F — reference vertical
    "ios_profile_sigma_theta",
    # wave G — forward as-of + conversion latency
    "asof_join_forward",
    "funnel_time_to_convert",
    # wave H — exact corr matrix, 2-D histogram, Saunders inversion
    "lineitem_corr_matrix",
    "lineitem_hist2d",
    "gsw_pressure_from_depth",
    # wave I — PQ ADC + corpus-shape quick wins
    "similarity_pq_adc_topk",
    "text_hapax_ratio",
    "events_interarrival_stats",
    "doc_length_deciles",
    # wave J — ABC classes, CDF probes, basket rules, recall audit, OHLC
    "orders_abc_classification",
    "events_cdf_at_values",
    "basket_rule_metrics",
    "dedup_lsh_recall_audit",
    "events_ohlc_downsample",
    # wave K — diversity corr, HHI, completeness, dim variance, coverage
    "doc_diversity_length_corr",
    "supplier_nation_herfindahl",
    "events_missing_hours_audit",
    "embedding_dim_variance",
    "doc_ngram_coverage_curve",
    # wave L — final three (slate = exactly 50, one full driver sample)
    "text_word_length_profile",
    "lineitem_returns_rate_by_month",
    "doc_source_lang_chi2",
]


def test_staged_name_list_is_complete():
    qs, _ = _staged()
    assert sorted(qs) == sorted(STAGED_NAMES)


@pytest.mark.parametrize("name", STAGED_NAMES)
def test_staged_query_matches_oracle(spark, name):
    from tests.oracle_harness import compare_query

    qs, os_ = _staged()
    ok, msg = compare_query(spark, SF_DIR_SMOKE, qs[name], os_[name])
    assert ok, f"{name}: {msg}"


def test_activate_idempotent_after_import():
    """Registration happens once, at import: registering a served
    builder again under its own name and oracle is a no-op."""
    from cioos_siooc_data_transform_spark.plans import (
        all_oracles,
        all_queries,
        register,
    )

    before = (all_queries(), all_oracles())
    for name, fn in slate("staged_r6")[0].items():
        register(name, before[1][name])(fn)
    assert (all_queries(), all_oracles()) == before


def test_staged_plans_never_cartesian(spark):
    """The staged round-6 set must obey the live registry's 100 TB plan
    invariants: no CartesianProduct anywhere, and no
    BroadcastNestedLoopJoin in pair-generating dedup plans. Scalar
    assemblies (1-row aggregate cross joins) and broadcast probe/grid
    literals are the allowed BNLJ shapes elsewhere."""
    qs, _ = _staged()
    for name, fn in qs.items():
        df = fn(spark, SF_DIR_SMOKE)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "CartesianProduct" not in plan, name
        if name.startswith("dedup_") and name != "dedup_lsh_recall_audit":
            # the recall audit's final row is three single-row
            # aggregates cross-joined (scalar assembly); its
            # pair-generating joins are bucket/shingle equi-joins.
            assert "BroadcastNestedLoopJoin" not in plan, name
