"""The round-9 slate (plans/staged_r9.py): every query registers at
import and must match its DuckDB oracle. It also serves the
staged-Horner twins of gsw_dynamic_enthalpy / gsw_enthalpy, which
replaced the flat forms kept unregistered in plans/staged_r5.py; the
twins re-earned driver rows on their new expression trees."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR_SMOKE, slate


def _staged():
    """(slate queries, their oracles, {replacement: (fn, oracle)})."""
    qs, os_ = slate("staged_r9")
    reps = {n: (qs.pop(n), os_.pop(n)) for n in REPLACEMENT_NAMES if n in qs}
    return qs, os_, reps


def test_staged_now_registered():
    """Every slate name is live in the registry with its oracle."""
    from cioos_siooc_data_transform_spark.plans import all_oracles, all_queries

    names = set(STAGED_NAMES) | set(REPLACEMENT_NAMES)
    missing = names - set(all_queries())
    assert not missing, f"slate queries not registered: {missing}"
    missing_o = names - set(all_oracles())
    assert not missing_o, f"slate oracles not registered: {missing_o}"


def test_replacements_recheck_completed():
    """The replaced names left _CHECKED at the round-9 activation,
    re-earned green driver rows on the new expression trees
    (CORRECTNESS_r09.json has both), and
    returned to _CHECKED at the round-10 activation. If this fails
    because a replacement is missing from _CHECKED, its re-check never
    landed — do NOT just add it; find the green row first."""
    import __spark_entry__ as e

    _, _, reps = _staged()
    unrechecked = set(reps) - e._CHECKED
    assert not unrechecked, (
        f"replacement names never re-checked after activation: {unrechecked}"
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
    for name, fn in slate("staged_r9")[0].items():
        register(name, before[1][name])(fn)
    assert (all_queries(), all_oracles()) == before


STAGED_NAMES = [
    # wave A — analytic alpha/beta/ratio
    "gsw_alpha_beta_75term",
    # wave C — ice second-derivative quantities (Table-6 + FD pinned)
    "gsw_kappa_const_t_ice",
    "gsw_internal_energy_ice",
    "gsw_helmholtz_energy_ice",
    "gsw_sound_speed_ice",
    # wave D — statistical audits
    "lineitem_simpson_paradox_audit",
    "interval_union_coverage",
    "events_dft_power_daily_weekly",
    "events_block_maxima_gumbel",
    # wave E — ANN tuning, LM backoff, finance/ops round-out
    "similarity_ivf_nprobe_curve",
    "lm_trigram_backoff_logprob",
    "orders_backlog_aging",
    "lineitem_price_index_laspeyres",
    "quality_filter_funnel",
    "events_record_breaks",
    # wave F — sketch/split/session audits
    "sketch_kmv_distinct",
    "temporal_split_leakage_audit",
    "sessionize_gap_sensitivity",
    # wave G — imputation/quantization/distribution audits
    "events_mean_imputation_audit",
    "similarity_int8_recall_audit",
    "orders_lognormal_fit_audit",
    # wave H — inventory/graph/two-way-variance round-out
    "part_abc_xyz_matrix",
    "graph_degree_powerlaw_fit",
    "events_weekday_hour_twoway_anova",
    # wave I — pipeline plumbing/monitoring round-out
    "multimodal_chunk_manifest",
    "events_out_of_order_profile",
    "embedding_label_centroid_drift",
    "user_growth_accounting",
    "dedup_vocab_impact",
    "part_name_token_topk",
    # wave J — MLD, density derivatives, tail index, circular stats
    "gsw_mixed_layer_pressure",
    "gsw_rho_first_derivatives",
    "events_pareto_tail_index",
    "events_circular_mean_hour",
    # wave K — inequality/seasonal/reach round-out
    "part_brand_price_theil_index",
    "orders_seasonal_trend_decomposition",
    "graph_two_hop_reach_profile",
    # wave L — GSW derivative/inversion surfaces + rank test
    "gsw_t_freezing_derivatives",
    "gsw_enthalpy_first_derivatives",
    "gsw_ct_maxdensity",
    "gsw_pot_enthalpy_from_pt",
    "lineitem_mannwhitney_returnflag",
    # wave M — changepoint, Kendall tau-b, bias audit, quantile norm
    "events_changepoint_location",
    "lineitem_kendall_tau_contingency",
    "orders_first_vs_repeat_value",
    "supplier_balance_quantile_normalize",
    # wave N — slate completion: ice chemical potential, Cohen's kappa
    "gsw_chem_potential_water_ice",
    "doc_quality_cohen_kappa",
]

REPLACEMENT_NAMES = [
    # wave B — staged-Horner dynamic-enthalpy migrations
    "gsw_dynamic_enthalpy",
    "gsw_enthalpy",
]


def test_staged_name_list_is_complete():
    qs, _, reps = _staged()
    assert sorted(qs) == sorted(STAGED_NAMES)
    assert sorted(reps) == sorted(REPLACEMENT_NAMES)


@pytest.mark.parametrize("name", STAGED_NAMES)
def test_staged_query_matches_oracle(spark, name):
    from tests.oracle_harness import compare_query

    qs, os_, _ = _staged()
    ok, msg = compare_query(spark, SF_DIR_SMOKE, qs[name], os_[name])
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", REPLACEMENT_NAMES)
def test_replacement_matches_oracle(spark, name):
    from tests.oracle_harness import compare_query

    _, _, reps = _staged()
    fn, oracle = reps[name]
    ok, msg = compare_query(spark, SF_DIR_SMOKE, fn, oracle)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", REPLACEMENT_NAMES)
def test_replacement_value_identical_to_flat_form(spark, name):
    """The staged-Horner twin must reproduce the original flat-form
    query's quantized output row-for-row at the smoke SF (the regrouped
    tree differs only in last-ulp rounding below the output floor).
    Since the round-8 early pull the replacement IS the live registry
    entry, so compare against the retired flat builders kept in
    plans/staged_r5.py."""
    from cioos_siooc_data_transform_spark.plans import staged_r5

    flat = {
        "gsw_dynamic_enthalpy": staged_r5.gsw_dynamic_enthalpy,
        "gsw_enthalpy": staged_r5.gsw_enthalpy,
    }[name]
    _, _, reps = _staged()
    fn, _ = reps[name]
    new = {tuple(r) for r in fn(spark, SF_DIR_SMOKE).collect()}
    old = {tuple(r) for r in flat(spark, SF_DIR_SMOKE).collect()}
    assert new == old


def test_registered_callables_are_the_staged_ones():
    """Every pinned name is served by a builder defined in this slate,
    not by a same-name builder elsewhere."""
    from cioos_siooc_data_transform_spark.plans import all_queries

    live = all_queries()
    owner = "cioos_siooc_data_transform_spark.plans.staged_r9"
    foreign = {
        n: live[n].__module__
        for n in STAGED_NAMES + REPLACEMENT_NAMES
        if live[n].__module__ != owner
    }
    assert not foreign, f"staged_r9 names served elsewhere: {foreign}"


