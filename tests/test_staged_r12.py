"""The round-12 slate (plans/staged_r12.py): every query registers at
import and must match its DuckDB oracle. Round 12 was the first
executed _CHECKED rotation round (see __spark_entry__.py ROTATION); the
slate is DETECTOR-CLEAN (zero allowlist entries needed)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR_SMOKE, slate


def _staged():
    return slate("staged_r12")


def test_staged_now_fully_registered():
    """Every slate name is live in the registry with its oracle."""
    from cioos_siooc_data_transform_spark.plans import all_oracles, all_queries

    names = set(STAGED_NAMES)
    missing = names - set(all_queries())
    assert not missing, f"slate queries not registered: {missing}"
    missing_o = names - set(all_oracles())
    assert not missing_o, f"slate oracles not registered: {missing_o}"


def test_rotation_names_rejoined_checked():
    """The 5 round-12 rotated names earned fresh green rows
    (CORRECTNESS_r12) and REJOINED _CHECKED in round 13. In round 14,
    two of them (dedup_semantic_clusters, similarity_lsh_topk) rotated
    OUT again per the moved-code-rotates-first policy (their operators
    were restructured by the round-13 optimizations); those two must be
    fresh, the other three must still be checked, and all five live."""
    from cioos_siooc_data_transform_spark.plans import all_queries

    import __spark_entry__ as entrymod

    rotated = {
        "q1_pricing_summary",
        "dedup_semantic_clusters",
        "similarity_lsh_topk",
        "similarity_topk_bruteforce",
        "similarity_ivf_topk",
    }
    rerotated_r14 = {"dedup_semantic_clusters", "similarity_lsh_topk"}
    not_back = (rotated - rerotated_r14) - entrymod._CHECKED
    assert not not_back, f"r12-rotated names did not rejoin _CHECKED: {not_back}"
    stale = rerotated_r14 & entrymod._CHECKED
    assert not stale, f"round-14 re-rotated names still in _CHECKED: {stale}"
    live = set(all_queries())
    assert rotated <= live, f"rotated names missing from registry: {rotated - live}"


#: The five names whose first driver rows landed in round 13, not 12.
CARRIED_TO_R13 = frozenset(
    {
        "sketch_cm_width_sweep",
        "part_unit_price_dispersion",
        "partsupp_stock_cover_audit",
        "customer_discounted_ltv",
        "similarity_srp_bit_independence",
    }
)


def test_activated_names_are_checked():
    """Every round-12-green name (the 45 activated + the 5 rotation
    re-earns, per CORRECTNESS_r12.json) must sit in _CHECKED so the
    fresh sample is spent on never-checked names only. The
    CARRIED_TO_R13 names earned their green rows in round 13 and must
    now be checked too."""
    import __spark_entry__ as entrymod

    qs, _ = _staged()
    # dedup_bucket_cap_sweep and dedup_lsh_band_tradeoff rotated OUT
    # again MID-round-14: they consume the shared _distinct_shingles
    # helper, whose reuse anchor changed (moved-code-rotates-first).
    rerotated_r14 = {"dedup_bucket_cap_sweep", "dedup_lsh_band_tradeoff"}
    missing = (set(qs) - CARRIED_TO_R13 - rerotated_r14) - entrymod._CHECKED
    assert not missing, f"r12-green staged names not in _CHECKED: {missing}"
    stale = rerotated_r14 & entrymod._CHECKED
    assert not stale, f"round-14 re-rotated names still in _CHECKED: {stale}"
    unchecked = CARRIED_TO_R13 - entrymod._CHECKED
    assert not unchecked, (
        f"CARRIED_TO_R13 names earned green rows in round 13, must be "
        f"checked now: {unchecked}"
    )


def test_activate_idempotent_after_import():
    """Registration happens once, at import: registering a served
    builder again under its own name and oracle is a no-op."""
    from cioos_siooc_data_transform_spark.plans import (
        all_oracles,
        all_queries,
        register,
    )

    before = (all_queries(), all_oracles())
    for name, fn in slate("staged_r12")[0].items():
        register(name, before[1][name])(fn)
    assert (all_queries(), all_oracles()) == before


def test_registered_callables_are_the_staged_ones():
    """Every pinned name is served by a builder defined in this slate,
    not by a same-name builder elsewhere."""
    from cioos_siooc_data_transform_spark.plans import all_queries

    live = all_queries()
    owner = "cioos_siooc_data_transform_spark.plans.staged_r12"
    foreign = {
        n: live[n].__module__ for n in STAGED_NAMES if live[n].__module__ != owner
    }
    assert not foreign, f"staged_r12 names served elsewhere: {foreign}"


STAGED_NAMES: list[str] = [
    # wave A — GSW CT-derivative tranche (symdiff)
    "gsw_ct_first_derivatives",
    "gsw_ct_second_derivatives",
    "gsw_pt_first_derivatives",
    "gsw_entropy_first_derivatives",
    # wave B — robust trend / spectrum / variance components
    "orders_theil_sen_trend",
    "events_spectral_flatness",
    "customer_spend_intraclass_corr",
    # wave C — sampling/index composition audits
    "sample_pps_horvitz_thompson",
    "multimodal_frame_hash_dedup",
    "dedup_lsh_band_tradeoff",
    # wave D — GSW completions + paired rank test + acquisition mix
    "gsw_specvol_second_derivatives",
    "gsw_t_from_pt0_ice",
    "orders_wilcoxon_signed_rank",
    "orders_new_customer_share_trend",
    # wave E — chain-rule closure + null models + knob sweeps
    "gsw_entropy_second_derivatives",
    "decontam_ngram_size_sweep",
    "graph_triangle_config_null",
    "embedding_centroid_classifier_confusion",
    # wave F — enthalpy curvature, data profiling, regional decomposition
    "gsw_enthalpy_second_derivatives",
    "tpch_fd_violation_audit",
    "nation_revenue_shift_share",
    # wave G — reference-domain depth
    "ios_channel_unit_profile",
    # wave H — information structure, windows, budgets, demand patterns
    "text_ngram_entropy_rate_curve",
    "text_sttr_by_source",
    "multimodal_fps_sweep",
    "part_demand_sbc_classification",
    # wave I — enthalpy-coordinate derivatives, winnowing sweep, rank
    # fidelity, attribute assortativity
    "gsw_rho_first_derivatives_wrt_enthalpy",
    "dedup_winnowing_window_sweep",
    "graph_price_assortativity",
    # wave J — rank fidelity, truncated counts, calibration, QTE
    "similarity_adc_rank_correlation",
    "customer_order_count_ztp_fit",
    "text_langid_calibration_curve",
    "orders_quantile_treatment_effect",
    # wave K — distribution distance, index balance, cell audits
    "customer_energy_distance_segments",
    "similarity_ivf_cell_balance",
    "part_price_ending_digits",
    "events_type_hour_stdres_outliers",
    # wave L — process tests and coverage/threshold curves
    "orders_gap_exponentiality_ks",
    "text_oov_vocab_curve",
    "graph_support_threshold_sweep",
    "supplier_type_concentration_cr4",
    # wave M — freezing inversion in t, guard cost curve, retention,
    # stochastic dominance
    "gsw_sa_freezing_from_t",
    "dedup_bucket_cap_sweep",
    "events_dayk_retention_curve",
    "orders_priority_stochastic_dominance",
    # wave N — slate close-out part 2 (== CARRIED_TO_R13)
    "sketch_cm_width_sweep",
    "part_unit_price_dispersion",
    "partsupp_stock_cover_audit",
    "customer_discounted_ltv",
    "similarity_srp_bit_independence",
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


def test_reload_does_not_mutate_registry():
    """Executing the module a second time cannot swap the live
    builders: its first registration is refused, so the registry is
    unchanged."""
    import importlib.util

    from cioos_siooc_data_transform_spark.plans import (
        all_oracles,
        all_queries,
        staged_r12,
    )

    before = (all_queries(), all_oracles())
    spec = importlib.util.spec_from_file_location("r12_copy", staged_r12.__file__)
    with pytest.raises(ValueError, match="already registered"):
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
    assert (all_queries(), all_oracles()) == before
