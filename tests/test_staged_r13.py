"""The round-13 slate (plans/staged_r13.py): every query registers at
import and must match its DuckDB oracle. Its GSW freezing-poly +
Saunders + wave-M family earned its first driver rows in round 14. The
one calendar-bounded window in the slate (events_page_hinkley_drift)
carries its justified allowlist entry in tests/test_plans.py."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR_SMOKE, slate


def _staged():
    return slate("staged_r13")


def test_staged_now_registered_except_deferred():
    """Every slate name is live in the registry with its oracle."""
    from cioos_siooc_data_transform_spark.plans import all_oracles, all_queries

    names = set(STAGED_NAMES)
    missing = names - set(all_queries())
    assert not missing, f"slate queries not registered: {missing}"
    missing_o = names - set(all_oracles())
    assert not missing_o, f"slate oracles not registered: {missing_o}"


ROTATED_R13 = {
    "graph_pagerank_iterations",
    "geo_containment_join",
    "ranking_window_bodc",
    "tz_fixed_offset",
    "dedup_exact",
}


def test_rotation_names_are_fresh():
    """The 5 round-13 rotated names earned their fresh green rows
    (CORRECTNESS_r13) and must have REJOINED _CHECKED in round 14,
    and still be live registry entries."""
    from cioos_siooc_data_transform_spark.plans import all_queries

    import __spark_entry__ as entrymod

    not_back = ROTATED_R13 - entrymod._CHECKED
    assert not not_back, f"r13-rotated names did not rejoin _CHECKED: {not_back}"
    live = set(all_queries())
    assert ROTATED_R13 <= live, f"rotated names missing from registry: {ROTATED_R13 - live}"


ROTATED_R14 = {
    # round-13 optimization-moved names (moved-code-rotates-first)
    "dedup_semantic_clusters",
    "similarity_lsh_topk",
    "dedup_embedding_cosine",
    "knn_graph_degree_stats",
    "dedup_fingerprint_winnowing",
    "embedding_random_projection",
    "similarity_pq_adc_topk",
    # oldest load-bearing round-1 greens
    "dedup_minhash_lsh",
    "ios_parse_measurements",
    "filter_projection",
    "anti_join_orphans",
    # mid-round-14 moves: edge derivation moved to
    # operators/graphs.py::copurchase_pair_support
    "market_basket_pairs",
    "graph_triangle_count",
    # mid-round-14 moves: the shared _distinct_shingles reuse anchor
    # changed from a global distinct to repartition(doc_id) (same rows,
    # new plan) — all 24 checked consumers rotate with it
    "dedup_transitivity_audit", "dedup_component_source_purity",
    "dedup_minhash_hashes_sweep", "dedup_shingle_df_profile",
    "dedup_pipeline_pairs", "dedup_pipeline_pairs_xxhash",
    "dedup_ngram_jaccard", "dedup_components", "dedup_cross_snapshot",
    "dedup_minhash_estimate_accuracy", "dedup_containment_pairs",
    "dedup_lsh_precision_audit", "text_dup_quality_association",
    "dedup_sample_pair_bias", "dedup_lsh_band_tradeoff",
    "dedup_bucket_cap_sweep", "dedup_bbit_minhash",
    "dedup_bag_jaccard_pairs", "dedup_component_size_histogram",
    "dedup_layer_funnel", "dedup_sorted_neighborhood",
    "dedup_jaccard_threshold_sweep", "minhash_band_tuning_audit",
    "dedup_lsh_recall_audit",
}


#: The slate's GSW freezing-poly + Saunders + wave-M family, registered
#: fresh in round 14 (their first driver rows).
ACTIVATED_R14 = frozenset(
    {
        "gsw_salinity_scale_roundtrips",
        "gsw_ct_freezing_poly",
        "gsw_t_freezing_poly",
        "gsw_sa_freezing_from_ct_poly",
        "gsw_ct_freezing_derivs_poly",
        "gsw_z_from_p",
        "gsw_p_from_z",
        "gsw_ct_entropy_from_pt",
        "gsw_melting_ice_equilibrium_ratio",
        "gsw_adiabatic_lapse_rate_from_ct",
    }
)


def test_fresh_sample_leads_round14():
    """The driver takes the FIRST 50 names in dict order; the fresh
    (not-in-_CHECKED) prefix must be exactly the 10 ACTIVATED_R14
    names + the 37 round-14 rotated names (11 from the
    committed queue + 2 copurchase moved-code rotations + 24
    shingle-anchor moved-code rotations), and must lead the dict order
    so the driver's 50-name sample covers them all (the remaining
    slots fall to _CHECKED names as regression coverage)."""
    import __spark_entry__ as entrymod

    names = list(entrymod.queries())
    fresh = [n for n in names if n not in entrymod._CHECKED]
    expected = ACTIVATED_R14 | ROTATED_R14
    assert set(fresh) == expected, (
        f"unexpected fresh set: +{set(fresh) - expected} -{expected - set(fresh)}"
    )
    assert len(fresh) <= 50, "fresh names must fit the driver's 50-name sample"
    assert names[: len(fresh)] == fresh, "fresh names must lead the dict order"


STAGED_NAMES: list[str] = [
    # wave A — inversion, inequality, seasonal trend, kNN mutuality
    "gsw_ct_from_rho",
    "customer_spend_atkinson_index",
    "orders_seasonal_mann_kendall",
    "embedding_knn_mutuality",
    # wave B — error isolation, allocation, margin/lead-time audits
    "ios_malformed_file_audit",
    "sample_neyman_allocation",
    "part_margin_audit",
    "supplier_leadtime_consistency",
    # wave C — sequential drift, blocked ranks, precision, language mix
    "events_page_hinkley_drift",
    "events_friedman_dow_test",
    "dedup_lsh_precision_audit",
    "text_multilingual_doc_audit",
    # wave D — model adequacy and definition sweeps
    "orders_backtest_residual_ljungbox",
    "text_langid_stopword_budget",
    "customer_churn_window_sweep",
    "dedup_shingle_size_sweep",
    # wave E — clumpiness, label AUC, semantic tau sweep, truncation
    "customer_purchase_clumpiness",
    "embedding_cosine_label_auc",
    "dedup_semantic_tau_sweep",
    "pack_truncation_loss_audit",
    # wave F — Weibull shape, dup-quality, header completeness,
    # ice enthalpy at freezing
    "orders_gap_weibull_shape",
    "text_dup_quality_association",
    "ios_header_completeness_profile",
    "gsw_pot_enthalpy_ice_freezing",
    # wave G — rank stability, seasonality growth, char affinity
    "nation_rank_stability_tau",
    "orders_seasonal_amplitude_trend",
    "text_char_trigram_lang_affinity",
    # wave H — drift index, percolation robustness, sampling pair bias
    "orders_value_psi_drift",
    "graph_hub_removal_robustness",
    "dedup_sample_pair_bias",
    # wave I — exact-Gibbs (IAPWS-08) *_t_exact surfaces via symdiff
    "gsw_specvol_rho_t_exact",
    "gsw_sound_speed_t_exact",
    "gsw_kappa_t_exact",
    "gsw_alpha_beta_t_exact",
    "gsw_enthalpy_t_exact",
    "gsw_chem_potential_dilution_t_exact",
    "gsw_pot_rho_t_exact",
    # wave J — PSS-78 conductivity/salinity battery
    "gsw_sp_from_c",
    "gsw_c_from_sp",
    "gsw_hill_ratio_at_sp2",
    "gsw_salinity_scale_roundtrips",
    # wave K — freezing polynomial family
    "gsw_ct_freezing_poly",
    "gsw_t_freezing_poly",
    "gsw_sa_freezing_from_ct_poly",
    "gsw_ct_freezing_derivs_poly",
    # wave L — height/pressure conversions
    "gsw_z_from_p",
    "gsw_p_from_z",
    # wave M — forward conversions, ice-melt equilibrium, lapse from CT
    "gsw_ct_entropy_from_pt",
    "gsw_melting_ice_equilibrium_ratio",
    "gsw_adiabatic_lapse_rate_from_ct",
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
    for name, fn in slate("staged_r13")[0].items():
        register(name, before[1][name])(fn)
    assert (all_queries(), all_oracles()) == before


def test_registered_callables_are_the_staged_ones():
    """Every pinned name is served by a builder defined in this slate,
    not by a same-name builder elsewhere."""
    from cioos_siooc_data_transform_spark.plans import all_queries

    live = all_queries()
    owner = "cioos_siooc_data_transform_spark.plans.staged_r13"
    foreign = {
        n: live[n].__module__ for n in STAGED_NAMES if live[n].__module__ != owner
    }
    assert not foreign, f"staged_r13 names served elsewhere: {foreign}"


def test_reload_does_not_mutate_registry():
    """Executing the module a second time cannot swap the live
    builders: its first registration is refused, so the registry is
    unchanged."""
    import importlib.util

    from cioos_siooc_data_transform_spark.plans import (
        all_oracles,
        all_queries,
        staged_r13,
    )

    before = (all_queries(), all_oracles())
    spec = importlib.util.spec_from_file_location("r13_copy", staged_r13.__file__)
    with pytest.raises(ValueError, match="already registered"):
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
    assert (all_queries(), all_oracles()) == before
