"""The round-11 slate (plans/staged_r11.py): every query registers at
import and must match its DuckDB oracle. The three calendar-bounded
windows in the slate (events_changepoint_binseg2, orders_max_drawdown,
orders_rolling_corr_12m) carry justified allowlist entries in
tests/test_plans.py."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR_SMOKE, slate


def _staged():
    return slate("staged_r11")


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
    for name, fn in slate("staged_r11")[0].items():
        register(name, before[1][name])(fn)
    assert (all_queries(), all_oracles()) == before


def test_registered_callables_are_the_staged_ones():
    """Every pinned name is served by a builder defined in this slate,
    not by a same-name builder elsewhere."""
    from cioos_siooc_data_transform_spark.plans import all_queries

    live = all_queries()
    owner = "cioos_siooc_data_transform_spark.plans.staged_r11"
    foreign = {
        n: live[n].__module__ for n in STAGED_NAMES if live[n].__module__ != owner
    }
    assert not foreign, f"staged_r11 names served elsewhere: {foreign}"


STAGED_NAMES: list[str] = [
    # wave A — dedup/cluster-quality and corpus-health audits
    "dedup_transitivity_audit",
    "text_burrows_delta",
    "embedding_intrinsic_dim_two_nn",
    "graph_rich_club_coefficient",
    # wave B — time-series / econometric statistics
    "lineitem_weighted_price_quantiles",
    "orders_max_drawdown",
    "events_extremal_index_intervals",
    "orders_fixed_effects_trend",
    "events_conversion_lag",
    "lineitem_median_polish",
    # wave C — GSW Gibbs-derivative tail (symbolic differentiation)
    "gsw_cp_t_exact",
    "gsw_pot_enthalpy_from_t_ice",
    # wave D — Gibbs symdiff battery + pipeline/queueing audits
    "gsw_chem_potential_t_derivative",
    "dedup_component_source_purity",
    "orders_littles_law_audit",
    # wave E — knob-tuning sweeps over existing machinery
    "embedding_prefix_dim_recall",
    "pack_chunk_size_sweep",
    # wave F — GSW twin tail (ice coefficients, spiciness refs, Baltic)
    "gsw_ice_expansion_coefficients",
    "gsw_spiciness1_2",
    "gsw_sa_from_sp_baltic",
    # wave G — diagnostics battery
    "lineitem_grubbs_outlier_test",
    "events_allan_variance",
    "lineitem_breusch_pagan_test",
    # wave H — structure-quality audits
    "dedup_simhash_bit_balance",
    "graph_brand_modularity",
    "partsupp_price_spread_audit",
    # wave I — inversions and distribution machinery
    "gsw_pt_from_entropy",
    "events_ks_two_sample",
    "embedding_davies_bouldin",
    # wave J — temporal joins/windows
    "events_time_to_conversion",
    "orders_rolling_corr_12m",
    # wave K — distribution-shape battery
    "lineitem_jarque_bera",
    "lineitem_lorenz_asymmetry",
    "events_gpd_return_levels",
    "docs_lang_source_mutual_info",
    # wave L — composition tail
    "gsw_entropy_from_ct",
    "customer_segment_dissimilarity_index",
    "events_user_count_nbd_fit",
    "orders_tail_model_comparison",
    # wave M — index/process-health audits
    "similarity_pq_codebook_utilization",
    "customer_acctbal_bowley_skew",
    "lineitem_return_rate_p_chart",
    "text_chars_per_token_by_lang",
    # wave N — slate close-out
    "events_attribution_window_join",
    "lineitem_chow_test",
    "orders_annual_harmonic_fit",
    "events_changepoint_binseg2",
    "dedup_minhash_hashes_sweep",
    "sketch_hll_precision_sweep",
    "text_langid_confusion_matrix",
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
