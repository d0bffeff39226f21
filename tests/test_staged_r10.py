"""The round-10 slate (plans/staged_r10.py): every query registers at
import and must match its DuckDB oracle. graph_degree_gini runs on
ranked_cumsum_two_pass (no key-scaled global window)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR_SMOKE, slate


def _staged():
    return slate("staged_r10")


def test_staged_now_registered():
    """Every slate name is live in the registry with its oracle."""
    from cioos_siooc_data_transform_spark.plans import all_oracles, all_queries

    names = set(STAGED_NAMES)
    missing = names - set(all_queries())
    assert not missing, f"slate queries not registered: {missing}"
    missing_o = names - set(all_oracles())
    assert not missing_o, f"slate oracles not registered: {missing_o}"


def test_activate_idempotent_after_import():
    """Registration happens once, at import: registering a served
    builder again under its own name and oracle is a no-op."""
    from cioos_siooc_data_transform_spark.plans import (
        all_oracles,
        all_queries,
        register,
    )

    before = (all_queries(), all_oracles())
    for name, fn in slate("staged_r10")[0].items():
        register(name, before[1][name])(fn)
    assert (all_queries(), all_oracles()) == before


def test_registered_callables_are_the_staged_ones():
    """Every pinned name is served by a builder defined in this slate,
    not by a same-name builder elsewhere."""
    from cioos_siooc_data_transform_spark.plans import all_queries

    live = all_queries()
    owner = "cioos_siooc_data_transform_spark.plans.staged_r10"
    foreign = {
        n: live[n].__module__ for n in STAGED_NAMES if live[n].__module__ != owner
    }
    assert not foreign, f"staged_r10 names served elsewhere: {foreign}"


STAGED_NAMES = [
    # wave A — GSW closed-form tail
    "gsw_adiabatic_lapse_rate_ice",
    "gsw_specvol_ice",
    "gsw_salinity_scale_conversions",
    "gsw_o2sol_sp_pt",
    # wave B — Newton/fixed-slope inversions
    "gsw_pt0_from_t_ice",
    "gsw_pressure_freezing_ct",
    "gsw_sa_freezing_from_ct",
    # wave C — classical statistical tests from integer-exact sums
    "lineitem_welch_ttest",
    "lineitem_cramers_v",
    "lineitem_spearman_discount_qty",
    "events_runs_test",
    "events_ljung_box",
    "events_dispersion_index",
    # wave D — business/pipeline audits
    "orders_association_lift",
    "customer_rfm_segments",
    "orders_kaplan_meier",
    "events_ewma_daily",
    "orders_bollinger_bands",
    "tpch_referential_integrity_profile",
    # wave E — text retrieval/readability/vocabulary
    "text_bm25_topk",
    "text_readability_flesch",
    "source_vocab_jaccard",
    # wave F — graph analytics on the co-purchase edge set
    "graph_kcore3_peeling",
    "graph_adamic_adar_linkpred",
    "graph_degree_gini",
    # wave G — embedding-corpus health audits
    "embedding_anisotropy_audit",
    "embedding_label_margin",
    "embedding_pca_power_iteration",
    # wave H — dedup-adjacent pipeline machinery
    "dedup_sorted_neighborhood",
    "dedup_blocking_quality_audit",
    "sample_hash_uniformity_chisq",
    "dedup_jaccard_threshold_sweep",
    # wave I — events extreme-value / temporal texture
    "events_pot_gpd_fit",
    "events_interarrival_burstiness",
    # wave J — GSW 75-term analytic-derivative tail + ITS-90 scales
    "gsw_specvol_first_derivatives",
    "gsw_rho_second_derivatives",
    "gsw_temperature_scale_conversions",
    # wave K — robust/econometric statistics
    "customer_acctbal_levene_test",
    "events_daily_mad_anomalies",
    "orders_seasonal_naive_backtest",
    "orders_diff_in_diff_holiday",
    # wave L — probabilistic-structure audits
    "sketch_bloom_fpr_audit",
    "sample_stratified_split_audit",
    # wave M — corpus-distribution text analytics
    "text_source_unigram_jsd",
    "text_sentence_length_profile",
    # wave N — embedding-space geometry audits
    "embedding_knn_hubness",
    "embedding_triplet_margin_violations",
    # wave O — two-pass-rank operator reuse
    "customer_segment_migration",
    "events_kruskal_wallis_value",
    # wave P — round-10 top-up: context-length budget audit
    "doc_context_overflow_rate",
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
