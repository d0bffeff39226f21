"""STAGED round-14 queries — NOT registered (round-14 runway seed).

Same contract as staged_r5..r13: LOCAL registry, strict-harness pytest
coverage in tests/test_staged_r14.py, idempotent ``activate()``.
Activation order: staged_r9 (round 9) -> ... -> staged_r13 (round 13)
-> this module (round 14). Budget: <= 50 fresh names at activation.

Content so far (13 of the 50-name budget):

- Wave A (8) — the GSW ice-melt / frazil mass-budget tranche, now that
  every ingredient ships (75-term staged enthalpy + analytic first
  derivatives, IAPWS-06 ice chain, freezing polynomial + symdiff
  derivatives, the full seawater Gibbs): melting_ice_SA_CT_ratio
  (non-equilibrium, explicit ice temperature), melting_ice_into_
  seawater under the complete-melt envelope, frazil_ratios_adiabatic
  (the three dSA/dCT/dP ratios in one pass), potential enthalpy of ice
  from pt0 + its Newton inverse, latentheat_melting recomputed from
  the EXACT Gibbs chemical potential (cross-anchor against the
  registered polynomial form), sigma0 and the rho/specvol_alpha_beta
  tuple surfaces.
- Wave B (5) — decision-stats battery: Benjamini-Hochberg FDR over the
  per-nation mean tests (first p-value surface, via the A&S normal
  tail in functions/stats.py), newsvendor safety-stock/reorder-point
  policy, 5-fold split balance χ², Freedman-Diaconis bin widths from
  exact discrete IQRs, and a Gini-gain decision-stump split search
  that reuses ntile_two_pass for its thresholds.

ACTIVATION NOTE (round 14, pre-audited in round 10 via
plan_guards.find_unpartitioned_windows at sf0.001): SEVEN bounded hits
to allowlist at activation, all bounded-axis shapes —
doc_quality_stump_split (bounded candidate-threshold table + scalar
assembly), events_periodogram_candidates (bounded period alphabet),
orders_bh_fdr_nation_tests (25-nation p-value table),
orders_bootstrap_ci_revenue (32 bounded replicates),
orders_kfold_balance_audit (fold x segment table),
orders_naive_interval_coverage and orders_sens_slope_monthly
(per-MONTH rollups; the Sen pair join is months x months, bounded).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cioos_siooc_data_transform_spark.plans.staged_r11 import _stage_sql_cte
from cioos_siooc_data_transform_spark.plans.staged_r13 import (
    _ctf_deriv_sql,
    _q6,
    _q9,
    _q12,
)
from cioos_siooc_data_transform_spark.session import read_table as _t

STAGED_QUERIES: dict[str, Callable[..., Any]] = {}
STAGED_ORACLES: dict[str, str] = {}


def activate() -> int:
    """Round-14 activation (idempotent)."""
    from cioos_siooc_data_transform_spark.plans.registry import ORACLES, QUERIES

    n = 0
    for name, fn in STAGED_QUERIES.items():
        if name not in QUERIES:
            QUERIES[name] = fn
            ORACLES[name] = STAGED_ORACLES[name]
            n += 1
    return n


# ---------------------------------------------------------------------------
# Shared melt-grid inputs: warm seawater (CT far above freezing, so the
# melting queries sit inside their validity envelope), sub-zero ice
# temperatures below the pure-water freezing point at every p, and a
# small ice mass fraction (complete melt guaranteed — verified by the
# ct_final > ct_freezing pin in tests).
# ---------------------------------------------------------------------------
_MELT_IN_SQL = """
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity % 30 AS DOUBLE) AS t,
           CAST(30.0 + l_discount * 50 AS DOUBLE) AS s,
           CAST(l_linenumber * 100.0 AS DOUBLE) AS p,
           -CAST(l_quantity % 20 AS DOUBLE) - 1.5 AS t_ih,
           (CAST(l_quantity % 5 AS DOUBLE) + 1.0) / 100.0 AS w_ih
    FROM lineitem
"""


def _melt_in_sql() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r5 import _SA_SQL

    return f"""
      SELECT *, {_SA_SQL} AS sa
      FROM ({_MELT_IN_SQL})
    """


def _melt_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cioos_siooc_data_transform_spark.plans.staged_r5 import _SA_SQL

    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity") % 30).cast("double").alias("t"),
        (F.lit(30.0) + F.col("l_discount") * 50).cast("double").alias("s"),
        (F.col("l_linenumber") * 100.0).cast("double").alias("p"),
        (-(F.col("l_quantity") % 20).cast("double") - 1.5).alias("t_ih"),
        (((F.col("l_quantity") % 5).cast("double") + 1.0) / 100.0).alias(
            "w_ih"
        ),
    )
    return base.withColumn("sa", F.expr(_SA_SQL))


def _melt_query(name: str, stages_fn, outs):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _melt_inputs(spark, sf_dir)
        for sname, expr in stages_fn():
            df = df.withColumn(sname, F.expr(expr))
        return df.select(
            "l_orderkey",
            "l_linenumber",
            *[F.expr(e).alias(c) for c, e in outs],
        )

    staged = _stage_sql_cte(_melt_in_sql(), stages_fn())
    sel = ",\n           ".join(f"{e} AS {c}" for c, e in outs)
    STAGED_QUERIES[name] = fn
    STAGED_ORACLES[name] = f"""
    SELECT l_orderkey, l_linenumber,
           {sel}
    FROM ({staged})
    """
    return fn


# ---------------------------------------------------------------------------
# melting_ice_SA_CT_ratio — non-equilibrium form (GSW twin:
# gsw_melting_ice_SA_CT_ratio / _poly): the ratio of SA to CT changes
# when ice at its OWN temperature t_Ih melts into seawater at (SA, CT):
# ratio = SA·h_CT / (h − h_Ih(t_Ih) − SA·h_SA), all enthalpy pieces
# the staged 75-term forms (McDougall, Barker & Feistel 2013). The
# envelope (CT ≥ 0 °C > CT_f, t_Ih ≤ −1.5 °C < t_f(0, p)) keeps both
# reference validity guards satisfied by construction.
# ---------------------------------------------------------------------------
def _melt_ratio_stages():
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        enthalpy_first_derivatives_stages,
        enthalpy_stages,
    )

    stages = [("__mr_ct", ct_from_t_sql("s", "t", "p"))]
    stages += enthalpy_stages("sa", "__mr_ct", "p", x="__mr_h_")
    stages += enthalpy_first_derivatives_stages(
        "sa", "__mr_ct", "p", x="__mr_d_"
    )
    stages += gibbs_ice_stages("t_ih", "p", x="__mr_gi_", out="__mr_")
    return stages


_melt_query(
    "gsw_melting_ice_sa_ct_ratio",
    _melt_ratio_stages,
    [
        (
            "sa_ct_ratio",
            _q9("(sa*h_ct / (__mr_h_out - __mr_enthalpy_ice - sa*h_sa))"),
        ),
    ],
)


# ---------------------------------------------------------------------------
# melting_ice_into_seawater — complete-melt envelope (GSW twin:
# gsw_melting_ice_into_seawater): bulk conservative mixing
# sa_f = (1−w)·SA, h_f = (1−w)·h + w·h_Ih, then CT_final from the
# staged Newton CT←enthalpy inversion. The reference routes through
# gsw_frazil_properties to decide whether ice REMAINS; with warm
# seawater and w_Ih ≤ 6 % all ice melts (ct_final > CT_freezing pinned
# in tests), where frazil_properties reduces to exactly this mixing.
# ---------------------------------------------------------------------------
def _melt_into_stages():
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_enthalpy_stages,
        ct_from_t_sql,
        enthalpy_stages,
    )

    stages = [("__mi_ct", ct_from_t_sql("s", "t", "p"))]
    stages += enthalpy_stages("sa", "__mi_ct", "p", x="__mi_h_")
    stages += gibbs_ice_stages("t_ih", "p", x="__mi_gi_", out="__mi_")
    stages += [
        ("__mi_sab", "((1.0e0 - w_ih)*sa)"),
        (
            "__mi_hb",
            "((1.0e0 - w_ih)*__mi_h_out + w_ih*__mi_enthalpy_ice)",
        ),
    ]
    stages += ct_from_enthalpy_stages("__mi_hb", "__mi_sab", "p")
    return stages


_melt_query(
    "gsw_melting_ice_into_seawater",
    _melt_into_stages,
    [
        ("sa_final", _q9("__mi_sab")),
        ("ct_final", _q9("ct_from_enthalpy")),
    ],
)


# ---------------------------------------------------------------------------
# frazil_ratios_adiabatic — the three ratios dSA/dCT, dSA/dP, dCT/dP
# (pressure in Pa) of a seawater + frazil-ice mixture under adiabatic
# pressure change (GSW twin: gsw_frazil_ratios_adiabatic / _poly;
# McDougall, Barker & Feistel 2013 eqns): every ingredient is a staged
# surface this package already anchors — the freezing polynomial + its
# symdiff derivatives, the Millero t_f line + its symdiff derivatives,
# the 75-term enthalpy + analytic first derivatives, and the IAPWS-06
# ice chain (cp, enthalpy, lapse −g_Tp/g_TT).
# ---------------------------------------------------------------------------
def _tf_deriv_sql(s: str, p: str, var: int) -> str:
    """∂t_freezing/∂SA (var=0; the Millero line is written in practical
    salinity, so the chain 1/uPS applies) or ∂/∂p (var=1, K/dbar)."""
    from cioos_siooc_data_transform_spark.functions.symdiff import (
        derivative_sql,
    )
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        t_freezing_sql,
    )

    orders = (1, 0) if var == 0 else (0, 1)
    return derivative_sql(t_freezing_sql, (s, p), orders)


def _frazil_stages():
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_SSO,
        _lit,
        ct_freezing_poly_sql,
        enthalpy_first_derivatives_stages,
        enthalpy_stages,
        t_freezing_sql,
    )

    ups = _lit(GSW_SSO / 35.0)
    stages = [
        ("__fz_ctf", ct_freezing_poly_sql("sa", "p", "0.0e0")),
        ("__fz_tf", t_freezing_sql("s", "p")),
        # freezing-line first derivatives; the SA derivatives chain
        # through sp = SA/uPS for the Millero line.
        ("__fz_ctf_sa", _ctf_deriv_sql("sa", "p", 0)),
        ("__fz_ctf_p", _ctf_deriv_sql("sa", "p", 1)),
        ("__fz_tf_sa", f"({_tf_deriv_sql('s', 'p', 0)}/{ups})"),
        ("__fz_tf_p", _tf_deriv_sql("s", "p", 1)),
    ]
    stages += enthalpy_stages("sa", "__fz_ctf", "p", x="__fz_h_")
    stages += enthalpy_first_derivatives_stages(
        "sa", "__fz_ctf", "p", x="__fz_d_"
    )
    stages += gibbs_ice_stages("__fz_tf", "p", x="__fz_gi_", out="__fz_")
    stages += [
        ("__fz_gamma", "(-__fz_gi_gtp/__fz_gi_gtt)"),
        ("__fz_wcp", "(__fz_cp_ice*w_ih/(1.0e0 - w_ih))"),
        # tf_p / ctf_p below are per-dbar on both sides of the ratio,
        # while gamma is per-Pa: convert tf_p to per-Pa (1e-4) to match
        # the reference's Pa-based ratios throughout.
        ("__fz_part", "((1.0e-4*__fz_tf_p - __fz_gamma)/(1.0e-4*__fz_ctf_p))"),
        ("__fz_b1", "(h_ct + __fz_wcp*__fz_part)"),
        (
            "__fz_b2",
            "(__fz_h_out - __fz_enthalpy_ice"
            " - sa*(h_sa + __fz_wcp*(__fz_tf_sa - __fz_part*__fz_ctf_sa)))",
        ),
        (
            "__fz_rb3",
            "(1.0e0/(__fz_h_out - __fz_enthalpy_ice"
            " - sa*(h_sa + h_ct*__fz_ctf_sa + __fz_wcp*__fz_tf_sa)))",
        ),
    ]
    return stages


_melt_query(
    "gsw_frazil_ratios_adiabatic",
    _frazil_stages,
    [
        ("dsa_dct_frazil", _q9("(sa*__fz_b1/__fz_b2)")),
        # per-Pa pressure ratios are tiny — emit ×1e9 / ×1e12.
        (
            "dsa_dp_frazil_e9",
            _q9("(1.0e9*sa*(1.0e-4*__fz_ctf_p)*__fz_b1*__fz_rb3)"),
        ),
        (
            "dct_dp_frazil_e9",
            _q9("(1.0e9*(1.0e-4*__fz_ctf_p)*__fz_b2*__fz_rb3)"),
        ),
    ],
)


# ---------------------------------------------------------------------------
# Potential enthalpy of ice from pt0_ice and its inverse (GSW twins:
# gsw_pot_enthalpy_from_pt_ice, gsw_pt_from_pot_enthalpy_ice):
# h_pot_Ih = h_Ih(pt0, 0) via the IAPWS-06 chain at zero sea pressure;
# the inverse is two Newton steps with the exact derivative
# dh/dpt = cp_Ih(pt, 0), seeded from a linear estimate around the
# pure-water anchor (−333.4 kJ/kg at 0 °C, cp_Ih ≈ 2.1 kJ/(kg·K)).
# ---------------------------------------------------------------------------
def _pot_h_ice_stages():
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )

    return gibbs_ice_stages("t_ih", "0.0e0", x="__ph_gi_", out="__ph_")


_melt_query(
    "gsw_pot_enthalpy_from_pt_ice",
    _pot_h_ice_stages,
    [("pot_enthalpy_ice", _q6("__ph_enthalpy_ice"))],
)


def _pt_from_pot_h_stages():
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )

    # Roundtrip construction: target h from the forward chain at the
    # grid's own pt0 = t_ih, then invert.
    stages = list(
        gibbs_ice_stages("t_ih", "0.0e0", x="__pi_gi_", out="__pi_t_")
    )
    stages += [
        ("__pi_h", "__pi_t_enthalpy_ice"),
        ("__pi_pt0", "((__pi_h + 333426.0e0)/2096.0e0)"),
    ]
    for i in range(2):
        cur = f"__pi_pt{i}"
        chain = gibbs_ice_stages(cur, "0.0e0", x=f"__pi_g{i}_", out=f"__pi_o{i}_")
        stages += chain
        stages += [
            (
                f"__pi_pt{i + 1}",
                f"({cur} - (__pi_o{i}_enthalpy_ice - __pi_h)"
                f"/__pi_o{i}_cp_ice)",
            ),
        ]
    stages.append(("pt_from_pot_enthalpy_ice", "__pi_pt2"))
    return stages


_melt_query(
    "gsw_pt_from_pot_enthalpy_ice",
    _pt_from_pot_h_stages,
    [("pt_ice", _q9("pt_from_pot_enthalpy_ice"))],
)


# ---------------------------------------------------------------------------
# latentheat_melting from the EXACT Gibbs chemical potential (the
# reference's own construction: L = 1000·(µ_W − T·∂µ_W/∂T) − h_Ih at
# the freezing line; gsw_latentheat_melting in the C toolbox). The
# registered polynomial-form latentheat_melting (staged_r8) anchors the
# pure-water limit; this twin recomputes it from gibbs_sw_sql +
# t_deriv_chem_potential_water_sql and must agree to ~1 J/kg (tests).
# ---------------------------------------------------------------------------
def _latentheat_exact_stages():
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        gibbs_sw_sql,
        t_deriv_chem_potential_water_sql,
        t_freezing_sql,
    )

    stages = [("__lh_tf", t_freezing_sql("s", "p"))]
    stages += [
        ("__lh_g", gibbs_sw_sql("sa", "__lh_tf", "p")),
        ("__lh_gsa", gibbs_sw_sql("sa", "__lh_tf", "p", dsa=1)),
        ("__lh_mu", "(1.0e-3*(__lh_g - sa*__lh_gsa))"),
        (
            "__lh_dmu",
            t_deriv_chem_potential_water_sql("sa", "__lh_tf", "p"),
        ),
    ]
    stages += gibbs_ice_stages("__lh_tf", "p", x="__lh_gi_", out="__lh_")
    stages += [
        (
            "latentheat",
            "(1000.0e0*(__lh_mu - (273.15e0 + __lh_tf)*__lh_dmu)"
            " - __lh_enthalpy_ice)",
        ),
    ]
    return stages


_melt_query(
    "gsw_latentheat_melting_exact",
    _latentheat_exact_stages,
    [("latentheat", _q6("latentheat"))],
)


# ---------------------------------------------------------------------------
# sigma0 and the rho/specvol_alpha_beta tuple surfaces (GSW twins:
# gsw_sigma0, gsw_rho_alpha_beta, gsw_specvol_alpha_beta) — the
# 75-term polynomial pieces already anchored individually, exposed in
# the reference's tuple shapes.
# ---------------------------------------------------------------------------
def _sigma0_stages():
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        specvol_sql,
    )

    return [
        ("__s0_ct", ct_from_t_sql("s", "t", "p")),
        ("__s0_v", specvol_sql("sa", "__s0_ct", "0.0e0")),
    ]


_melt_query(
    "gsw_sigma0",
    _sigma0_stages,
    [("sigma0", _q6("(1.0e0/__s0_v - 1000.0e0)"))],
)


def _rho_alpha_beta_stages():
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_OFFSET,
        GSW_SFAC,
        _lit,
        ct_from_t_sql,
        specvol_deriv_poly_sql,
        specvol_sql,
    )

    # specvol_deriv_poly_sql works in the fit coordinates
    # xs = sqrt(sfac·SA + offset), ys = CT/40, z = p/1e4.
    return [
        ("__rab_ct", ct_from_t_sql("s", "t", "p")),
        ("__rab_xs", f"sqrt({_lit(GSW_SFAC)}*sa + {_lit(GSW_OFFSET)})"),
        ("__rab_ys", "(__rab_ct*0.025e0)"),
        ("__rab_z", "(p*1.0e-4)"),
        ("__rab_v", specvol_sql("sa", "__rab_ct", "p")),
        (
            "__rab_vct",
            specvol_deriv_poly_sql("__rab_xs", "__rab_ys", "__rab_z", dys=1),
        ),
        (
            "__rab_vsa",
            specvol_deriv_poly_sql("__rab_xs", "__rab_ys", "__rab_z", dxs=1),
        ),
    ]


def _rab_outs():
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_SFAC,
        _lit,
    )

    # v_CT = 0.025·v_ys, v_SA = (sfac/2xs)·v_xs in physical units.
    alpha = "(0.025e0*__rab_vct/__rab_v)"
    beta = (
        f"(-({_lit(GSW_SFAC)}/(2.0e0*__rab_xs))*__rab_vsa/__rab_v)"
    )
    return [
        ("rho", _q6("(1.0e0/__rab_v)")),
        ("specvol_e6", _q6("(1.0e6*__rab_v)")),
        ("alpha", _q12(alpha)),
        ("beta", _q12(beta)),
    ]


_melt_query(
    "gsw_rho_specvol_alpha_beta",
    _rho_alpha_beta_stages,
    _rab_outs(),
)


# ===========================================================================
# Wave B — decision-stats battery: BH false-discovery control (the
# first p-value surface — functions/stats.py ships the A&S 7.1.26
# normal tail as ONE literal tree so parity is exact), inventory
# policy quantiles, k-fold split balance, Freedman-Diaconis binning,
# and a decision-stump split quality search that reuses the scale-safe
# ntile operator.
# ===========================================================================
def _register(name: str, oracle: str):
    def deco(fn):
        STAGED_QUERIES[name] = fn
        STAGED_ORACLES[name] = oracle
        return fn

    return deco


def _bh_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.stats import (
        normal_two_sided_p_sql,
    )

    return f"""
    WITH per AS (
      SELECT c.c_nationkey AS nk,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS HUGEINT)) AS s,
             sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS HUGEINT)
                 * CAST(floor(o.o_totalprice * 100.0 + 0.5) AS HUGEINT)) AS s2
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    ),
    gstats AS (
      SELECT CAST(sum(n) AS DOUBLE) AS nn,
             CAST(sum(s) AS DOUBLE) AS ss,
             CAST(sum(s2) AS DOUBLE) AS sss
      FROM per
    ),
    z AS (
      SELECT nk, n,
             (CAST(s AS DOUBLE)/CAST(n AS DOUBLE) - ss/nn)
               / sqrt((sss/nn - (ss/nn)*(ss/nn)) / CAST(n AS DOUBLE)) AS zval
      FROM per CROSS JOIN gstats
    ),
    p AS (
      SELECT nk, n, zval, {normal_two_sided_p_sql("zval")} AS pval,
             CAST(row_number() OVER (ORDER BY {normal_two_sided_p_sql("zval")}, nk)
                  AS DOUBLE) AS k,
             CAST(count(*) OVER () AS DOUBLE) AS m
      FROM z
    ),
    kmax AS (
      SELECT coalesce(max(CASE WHEN pval <= 0.05 * k / m THEN k END), 0.0)
               AS km
      FROM p
    )
    SELECT CAST(nk AS BIGINT) AS nation_key, n AS n_orders,
           floor(zval * 1.0e6 + 0.5) / 1.0e6 AS z,
           floor(pval * 1.0e9 + 0.5) / 1.0e9 AS p_value,
           (k <= kmax.km) AS bh_reject
    FROM p CROSS JOIN kmax
    """


@_register("orders_bh_fdr_nation_tests", oracle="__LAZY_BH__")
def orders_bh_fdr_nation_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR (α = 0.05) over the 25 per-nation
    mean-order-value z-tests — the multiple-comparisons discipline a
    segment-scan dashboard needs (25 simultaneous tests at α = 0.05
    expect ~1.25 false positives; BH bounds the EXPECTED false-
    discovery fraction instead). z from exact integer sums; the p-value
    is the A&S 7.1.26 normal tail (functions/stats.py — one literal
    tree, exact parity); the step-up rank pass runs over the 25-row
    nation aggregate (bounded by the dimension). Scale shape: one
    map-side-combinable fact agg + broadcast scalars."""
    from cioos_siooc_data_transform_spark.functions.stats import (
        normal_two_sided_p_sql,
    )
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("decimal(19,0)")
    per = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents).cast("decimal(38,0)").alias("s"),
            F.sum(cents * cents).cast("decimal(38,0)").alias("s2"),
        )
    )
    glob = per.agg(
        F.sum("n").cast("double").alias("nn"),
        F.sum("s").cast("double").alias("ss"),
        F.sum("s2").cast("double").alias("sss"),
    )
    z = per.crossJoin(F.broadcast(glob)).select(
        "nk",
        "n",
        (
            (F.col("s").cast("double") / F.col("n").cast("double")
             - F.col("ss") / F.col("nn"))
            / F.sqrt(
                (F.col("sss") / F.col("nn")
                 - (F.col("ss") / F.col("nn")) * (F.col("ss") / F.col("nn")))
                / F.col("n").cast("double")
            )
        ).alias("zval"),
    )
    pcol = F.expr(normal_two_sided_p_sql("zval"))
    wp = Window.orderBy(pcol, F.col("nk"))
    p = z.select(
        "nk",
        "n",
        "zval",
        pcol.alias("pval"),
        F.row_number().over(wp).cast("double").alias("k"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("double").alias("m"),
    )
    kmax = p.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("pval") <= 0.05 * F.col("k") / F.col("m"),
                    F.col("k"),
                )
            ),
            F.lit(0.0),
        ).alias("km")
    )
    return p.crossJoin(F.broadcast(kmax)).select(
        F.col("nk").cast("long").alias("nation_key"),
        F.col("n").alias("n_orders"),
        (F.floor(F.col("zval") * 1.0e6 + 0.5) / 1.0e6).alias("z"),
        (F.floor(F.col("pval") * 1.0e9 + 0.5) / 1.0e9).alias("p_value"),
        (F.col("k") <= F.col("km")).alias("bh_reject"),
    )


STAGED_ORACLES["orders_bh_fdr_nation_tests"] = _bh_oracle()


@_register(
    "part_safety_stock_policy",
    oracle="""
    WITH daily AS (
      SELECT p.p_brand AS brand, l.l_shipdate AS d,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    s AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(qty) AS DOUBLE) AS s1,
             CAST(sum(CAST(qty AS HUGEINT) * CAST(qty AS HUGEINT)) AS DOUBLE)
               AS s2
      FROM daily GROUP BY 1
    )
    SELECT brand, n_days,
           floor(s1 / CAST(n_days AS DOUBLE) * 1.0e6 + 0.5) / 1.0e6
             AS mu_daily,
           floor(sqrt(s2 / CAST(n_days AS DOUBLE)
                      - (s1/CAST(n_days AS DOUBLE))*(s1/CAST(n_days AS DOUBLE)))
                 * 1.0e6 + 0.5) / 1.0e6 AS sigma_daily,
           floor(1.6448536269514722e0
                 * sqrt(s2 / CAST(n_days AS DOUBLE)
                        - (s1/CAST(n_days AS DOUBLE))*(s1/CAST(n_days AS DOUBLE)))
                 * sqrt(7.0e0) * 1.0e6 + 0.5) / 1.0e6 AS safety_stock,
           floor((7.0e0 * s1 / CAST(n_days AS DOUBLE)
                  + 1.6448536269514722e0
                    * sqrt(s2 / CAST(n_days AS DOUBLE)
                           - (s1/CAST(n_days AS DOUBLE))
                             *(s1/CAST(n_days AS DOUBLE)))
                    * sqrt(7.0e0)) * 1.0e6 + 0.5) / 1.0e6 AS reorder_point
    FROM s
    """,
)
def part_safety_stock_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor-style inventory policy per brand: daily demand mean/σ
    from exact integer sums, 95 % service-level safety stock
    z₀.₉₅·σ·√L (L = 7 days) and reorder point L·µ + SS — the standard
    base-stock recipe on the fact table. Two map-side-combinable aggs
    (brand×day, then brand); population σ (the demand history IS the
    population modeled)."""
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    daily = (
        li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_shipdate").alias("d"))
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"))
    )
    s = daily.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("qty").cast("double").alias("s1"),
        F.sum(
            F.col("qty").cast("decimal(19,0)") * F.col("qty").cast("decimal(19,0)")
        ).cast("double").alias("s2"),
    )
    nd = F.col("n_days").cast("double")
    mu = F.col("s1") / nd
    sig = F.sqrt(F.col("s2") / nd - mu * mu)
    z95 = 1.6448536269514722
    import math

    safety = z95 * sig * math.sqrt(7.0)
    return s.select(
        "brand",
        "n_days",
        (F.floor(mu * 1.0e6 + 0.5) / 1.0e6).alias("mu_daily"),
        (F.floor(sig * 1.0e6 + 0.5) / 1.0e6).alias("sigma_daily"),
        (F.floor(safety * 1.0e6 + 0.5) / 1.0e6).alias("safety_stock"),
        (F.floor((7.0 * mu + safety) * 1.0e6 + 0.5) / 1.0e6).alias(
            "reorder_point"
        ),
    )


@_register(
    "orders_kfold_balance_audit",
    oracle="""
    WITH f AS (
      SELECT ((o.o_custkey * 2654435761) % 4294967296) % 5 AS fold,
             c.c_mktsegment AS seg
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    ct AS (
      SELECT fold, seg, CAST(count(*) AS BIGINT) AS n
      FROM f GROUP BY 1, 2
    ),
    m AS (
      SELECT fold, seg, n,
             CAST(sum(n) OVER (PARTITION BY fold) AS BIGINT) AS fold_tot,
             CAST(sum(n) OVER (PARTITION BY seg) AS BIGINT) AS seg_tot,
             CAST(sum(n) OVER () AS BIGINT) AS grand
      FROM ct
    ),
    chi AS (
      SELECT fold,
             CAST(max(fold_tot) AS BIGINT) AS n_orders,
             floor(sum(
               (CAST(n AS DOUBLE)
                - CAST(fold_tot AS DOUBLE)*CAST(seg_tot AS DOUBLE)
                  /CAST(grand AS DOUBLE))
               * (CAST(n AS DOUBLE)
                  - CAST(fold_tot AS DOUBLE)*CAST(seg_tot AS DOUBLE)
                    /CAST(grand AS DOUBLE))
               / (CAST(fold_tot AS DOUBLE)*CAST(seg_tot AS DOUBLE)
                  /CAST(grand AS DOUBLE))) * 1.0e6 + 0.5) / 1.0e6
               AS chi2_part
      FROM m GROUP BY fold
    )
    SELECT CAST(fold AS BIGINT) AS fold, n_orders, chi2_part
    FROM chi
    """,
)
def orders_kfold_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold split balance audit: folds assigned by the deterministic
    Knuth multiplicative hash on customer key (the engine's standard
    seedless-split idiom — same arithmetic both engines, no
    engine-specific hash), then a per-fold χ² contribution against the
    independence expectation over market segments. A skewed fold shows
    up as a large chi2_part; expected O(dof) ≈ 4 per fold under random
    assignment. The window passes run over the 25-row fold×segment
    contingency table (bounded by both dimensions)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    f = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        (((F.col("o_custkey") * 2654435761) % 4294967296) % 5).alias("fold"),
        F.col("c_mktsegment").alias("seg"),
    )
    ct = f.groupBy("fold", "seg").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    m = ct.select(
        "fold",
        "seg",
        "n",
        F.sum("n").over(Window.partitionBy("fold")).cast("long").alias(
            "fold_tot"
        ),
        F.sum("n").over(Window.partitionBy("seg")).cast("long").alias(
            "seg_tot"
        ),
        F.sum("n")
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("long")
        .alias("grand"),
    )
    exp = (
        F.col("fold_tot").cast("double")
        * F.col("seg_tot").cast("double")
        / F.col("grand").cast("double")
    )
    dev = F.col("n").cast("double") - exp
    return m.groupBy(F.col("fold").cast("long").alias("fold")).agg(
        F.max("fold_tot").cast("long").alias("n_orders"),
        (F.floor(F.sum(dev * dev / exp) * 1.0e6 + 0.5) / 1.0e6).alias(
            "chi2_part"
        ),
    )


@_register(
    "lineitem_fd_bin_width",
    oracle="""
    WITH q AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM lineitem
    ),
    ranked AS (
      SELECT flag, cents,
             row_number() OVER (PARTITION BY flag ORDER BY cents) AS rn,
             count(*) OVER (PARTITION BY flag) AS n
      FROM q
    ),
    s AS (
      SELECT flag,
             CAST(max(n) AS BIGINT) AS n,
             CAST(max(CASE WHEN rn = (n - 1) // 4 + 1 THEN cents END)
                  AS BIGINT) AS p25,
             CAST(max(CASE WHEN rn = ((n - 1) * 3) // 4 + 1 THEN cents END)
                  AS BIGINT) AS p75,
             CAST(min(cents) AS BIGINT) AS lo,
             CAST(max(cents) AS BIGINT) AS hi
      FROM ranked GROUP BY flag
    )
    SELECT flag, n, CAST(p75 - p25 AS BIGINT) AS iqr_cents,
           floor(2.0e0 * CAST(p75 - p25 AS DOUBLE)
                 / pow(CAST(n AS DOUBLE), 1.0e0/3.0e0) * 1.0e6 + 0.5)
             / 1.0e6 AS fd_width_cents,
           CAST(ceil(CAST(hi - lo AS DOUBLE)
                / (2.0e0 * CAST(p75 - p25 AS DOUBLE)
                   / pow(CAST(n AS DOUBLE), 1.0e0/3.0e0))) AS BIGINT)
             AS fd_bins
    FROM s
    """,
)
def lineitem_fd_bin_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freedman–Diaconis histogram bin-width recommendation per return
    flag: width = 2·IQR/n^(1/3) with the IQR from EXACT discrete order
    statistics (the percentile-bands idiom — both engines pick the
    identical element at index floor((n−1)q)+1), so the only float is
    the final division. The bin count this recommends feeds the
    value_histogram family's bucket choice. One rank window per flag
    (3 balanced groups), then a single agg."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    q = li.select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    wr = Window.partitionBy("flag").orderBy("cents")
    wn = Window.partitionBy("flag")
    ranked = q.select(
        "flag",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    s = ranked.groupBy("flag").agg(
        F.max("n").cast("long").alias("n"),
        F.max(
            F.when(
                F.col("rn") == ((F.col("n") - 1) / 4).cast("long") + 1,
                F.col("cents"),
            )
        ).cast("long").alias("p25"),
        F.max(
            F.when(
                F.col("rn") == ((F.col("n") - 1) * 3 / 4).cast("long") + 1,
                F.col("cents"),
            )
        ).cast("long").alias("p75"),
        F.min("cents").cast("long").alias("lo"),
        F.max("cents").cast("long").alias("hi"),
    )
    iqr = (F.col("p75") - F.col("p25")).cast("double")
    width = 2.0 * iqr / F.pow(F.col("n").cast("double"), 1.0 / 3.0)
    return s.select(
        "flag",
        "n",
        (F.col("p75") - F.col("p25")).cast("long").alias("iqr_cents"),
        (F.floor(width * 1.0e6 + 0.5) / 1.0e6).alias("fd_width_cents"),
        F.ceil((F.col("hi") - F.col("lo")).cast("double") / width)
        .cast("long")
        .alias("fd_bins"),
    )


def _stump_oracle() -> str:
    return """
    WITH lbl AS (
      SELECT n_chars, doc_id,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ),
    dec AS (
      SELECT n_chars,
             ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
      FROM lbl
    ),
    thr AS (
      SELECT CAST(max(n_chars) AS BIGINT) AS threshold
      FROM dec GROUP BY decile
      HAVING decile < 10
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_tot,
             CAST(sum(pos) AS BIGINT) AS pos_tot
      FROM lbl
    ),
    split AS (
      SELECT t.threshold,
             CAST(sum(CASE WHEN l.n_chars <= t.threshold THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_le,
             CAST(sum(CASE WHEN l.n_chars <= t.threshold THEN l.pos ELSE 0 END)
                  AS BIGINT) AS pos_le
      FROM lbl l CROSS JOIN thr t
      GROUP BY t.threshold
    ),
    gain AS (
      SELECT s.threshold, s.n_le, s.pos_le,
             floor((
               2.0e0*(CAST(pos_tot AS DOUBLE)/n_tot)
                    *(1.0e0 - CAST(pos_tot AS DOUBLE)/n_tot)
               - (CAST(n_le AS DOUBLE)/n_tot)
                 * 2.0e0*(CAST(pos_le AS DOUBLE)/n_le)
                       *(1.0e0 - CAST(pos_le AS DOUBLE)/n_le)
               - (CAST(n_tot - n_le AS DOUBLE)/n_tot)
                 * 2.0e0*(CAST(pos_tot - pos_le AS DOUBLE)/(n_tot - n_le))
                       *(1.0e0 - CAST(pos_tot - pos_le AS DOUBLE)
                                 /(n_tot - n_le))
             ) * 1.0e9 + 0.5) / 1.0e9 AS gini_gain
      FROM split s CROSS JOIN tot
    )
    SELECT threshold, n_le, pos_le, gini_gain,
           (gini_gain >= max(gini_gain) OVER ()) AS is_best
    FROM gain
    """


@_register("doc_quality_stump_split", oracle="__LAZY_STUMP__")
def doc_quality_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split search: the Gini-impurity gain of
    thresholding n_chars at each inner decile boundary for predicting
    lang = 'en' — the quality-classifier feature-selection primitive
    (which length cut separates English best). Thresholds come from
    ntile_two_pass (the scale-safe decile assignment, bit-identical to
    the builtin), the per-threshold counts from ONE conditional
    aggregate over a 9-row broadcast, gains from exact integer count
    ratios. Deciles with duplicate maxima collapse via GROUP BY
    threshold on both engines identically."""
    from pyspark.sql import Window

    from cioos_siooc_data_transform_spark.operators.windows import (
        ntile_two_pass,
    )

    docs = _t(spark, sf_dir, "documents")
    lbl = docs.select(
        "n_chars",
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    dec = ntile_two_pass(
        lbl.select("n_chars", "doc_id"), "n_chars", "doc_id", 10,
        out_col="decile",
    )
    thr = (
        dec.filter(F.col("decile") < 10)
        .groupBy("decile")
        .agg(F.max("n_chars").cast("long").alias("threshold"))
        .select("threshold")
    )
    tot = lbl.agg(
        F.count(F.lit(1)).cast("long").alias("n_tot"),
        F.sum("pos").cast("long").alias("pos_tot"),
    )
    split = (
        lbl.crossJoin(F.broadcast(thr))
        .groupBy("threshold")
        .agg(
            F.sum(F.when(F.col("n_chars") <= F.col("threshold"), 1).otherwise(0))
            .cast("long")
            .alias("n_le"),
            F.sum(
                F.when(F.col("n_chars") <= F.col("threshold"), F.col("pos"))
                .otherwise(0)
            )
            .cast("long")
            .alias("pos_le"),
        )
    )
    g = split.crossJoin(F.broadcast(tot))
    nt = F.col("n_tot").cast("double")
    pt = F.col("pos_tot").cast("double")
    nl = F.col("n_le").cast("double")
    pl = F.col("pos_le").cast("double")
    gini_parent = 2.0 * (pt / nt) * (1.0 - pt / nt)
    gini_le = 2.0 * (pl / nl) * (1.0 - pl / nl)
    gini_gt = (
        2.0 * ((pt - pl) / (nt - nl)) * (1.0 - (pt - pl) / (nt - nl))
    )
    gain = (
        gini_parent - (nl / nt) * gini_le - ((nt - nl) / nt) * gini_gt
    )
    out = g.select(
        "threshold",
        "n_le",
        "pos_le",
        (F.floor(gain * 1.0e9 + 0.5) / 1.0e9).alias("gini_gain"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return out.select(
        "threshold",
        "n_le",
        "pos_le",
        "gini_gain",
        (F.col("gini_gain") >= F.max("gini_gain").over(wall)).alias(
            "is_best"
        ),
    )


STAGED_ORACLES["doc_quality_stump_split"] = _stump_oracle()


# ===========================================================================
# Wave C — LLM-pipeline knob/audit round-out: sampling-temperature
# sweep, exact-dup cluster Zipf slope, quality-score calibration,
# int4 quantization audit, Fano burstiness, bigram entropy rate.
# ===========================================================================
@_register(
    "mixture_temperature_entropy_sweep",
    oracle="""
    WITH n AS (
      SELECT source, CAST(count(*) AS DOUBLE) AS n_docs
      FROM documents GROUP BY source
    ),
    ts AS (SELECT CAST(unnest([0.5, 0.7, 1.0, 1.5, 2.0]) AS DOUBLE) AS temp),
    wz AS (
      SELECT temp, source, pow(n_docs, 1.0e0/temp) AS raw,
             sum(pow(n_docs, 1.0e0/temp)) OVER (PARTITION BY temp) AS norm
      FROM n CROSS JOIN ts
    ),
    h AS (
      SELECT temp,
             CAST(count(*) AS BIGINT) AS n_sources,
             -sum((raw/norm) * ln(raw/norm)) AS entropy,
             max(raw/norm) AS max_w
      FROM wz GROUP BY temp
    )
    SELECT temp,
           n_sources,
           floor(entropy * 1.0e9 + 0.5) / 1.0e9 AS entropy_nats,
           floor(exp(entropy) * 1.0e9 + 0.5) / 1.0e9 AS effective_sources,
           floor(max_w * 1.0e9 + 0.5) / 1.0e9 AS max_weight
    FROM h
    """,
)
def mixture_temperature_entropy_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sampling-temperature knob curve for the source mixture: at each
    T the per-source weight is n_s^(1/T) normalized; the sweep reports
    mixture entropy, the effective source count exp(H), and the max
    weight — the diversity/duplication trade-off LLM data recipes tune
    (T→0 approaches uniform-over-docs = biggest source dominates,
    T→∞ approaches uniform-over-sources). Source dimension is tiny, so
    the per-T window is bounded; the sum over (T × source) has ≤ 5·|S|
    terms per group with identical fold order on both engines (each
    group's terms come from one tiny sorted dimension)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    n = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    ts = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(v) for v in (0.5, 0.7, 1.0, 1.5, 2.0)])
        ).alias("temp")
    )
    wz = n.crossJoin(F.broadcast(ts)).select(
        "temp",
        "source",
        F.pow(F.col("n_docs"), 1.0 / F.col("temp")).alias("raw"),
        F.sum(F.pow(F.col("n_docs"), 1.0 / F.col("temp")))
        .over(Window.partitionBy("temp"))
        .alias("norm"),
    )
    w = F.col("raw") / F.col("norm")
    h = wz.groupBy("temp").agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        (-F.sum(w * F.log(w))).alias("entropy"),
        F.max(w).alias("max_w"),
    )
    return h.select(
        "temp",
        "n_sources",
        (F.floor(F.col("entropy") * 1.0e9 + 0.5) / 1.0e9).alias(
            "entropy_nats"
        ),
        (F.floor(F.exp(F.col("entropy")) * 1.0e9 + 0.5) / 1.0e9).alias(
            "effective_sources"
        ),
        (F.floor(F.col("max_w") * 1.0e9 + 0.5) / 1.0e9).alias("max_weight"),
    )


@_register(
    "dedup_exact_cluster_size_zipf",
    oracle="""
    WITH cl AS (
      SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS size
      FROM documents GROUP BY 1
    ),
    hist AS (
      SELECT size, CAST(count(*) AS BIGINT) AS n_clusters
      FROM cl GROUP BY size
    ),
    q AS (
      SELECT size, n_clusters,
             CAST(floor(ln(CAST(size AS DOUBLE)) * 1.0e9 + 0.5) AS BIGINT)
               AS lx,
             CAST(floor(ln(CAST(n_clusters AS DOUBLE)) * 1.0e9 + 0.5)
                  AS BIGINT) AS ly
      FROM hist
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(lx) AS DOUBLE) / 1.0e9 AS sx,
             CAST(sum(ly) AS DOUBLE) / 1.0e9 AS sy,
             CAST(sum(CAST(lx AS HUGEINT) * CAST(lx AS HUGEINT)) AS DOUBLE)
               / 1.0e18 AS sxx,
             CAST(sum(CAST(lx AS HUGEINT) * CAST(ly AS HUGEINT)) AS DOUBLE)
               / 1.0e18 AS sxy
      FROM q
    )
    SELECT n AS n_distinct_sizes,
           CASE WHEN CAST(n AS DOUBLE)*sxx - sx*sx != 0.0 THEN
             floor((CAST(n AS DOUBLE)*sxy - sx*sy)
                   / (CAST(n AS DOUBLE)*sxx - sx*sx) * 1.0e6 + 0.5) / 1.0e6
           END AS zipf_slope
    FROM s
    """,
)
def dedup_exact_cluster_size_zipf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Power-law check of the exact-duplicate cluster-size distribution:
    OLS slope of ln(#clusters) vs ln(size) over the size histogram —
    the shape statistic that tells a dedup pipeline whether duplication
    is head-heavy (slope shallower than −2 means mega-clusters carry
    the mass, so cluster-size caps matter). Per-point logs quantized to
    integer nano-units before the sums (order-independence rule), the
    histogram is bounded by #distinct sizes. Same digest group-by shape
    as dedup_exact — never all-pairs."""
    docs = _t(spark, sf_dir, "documents")
    cl = docs.groupBy(F.md5(F.col("text")).alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )
    hist = cl.groupBy("size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )
    q = hist.select(
        F.floor(F.log(F.col("size").cast("double")) * 1.0e9 + 0.5)
        .cast("decimal(19,0)")
        .alias("lx"),
        F.floor(F.log(F.col("n_clusters").cast("double")) * 1.0e9 + 0.5)
        .cast("decimal(19,0)")
        .alias("ly"),
    )
    s = q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("lx").cast("double") / 1.0e9).alias("sx"),
        (F.sum("ly").cast("double") / 1.0e9).alias("sy"),
        (
            F.sum(F.col("lx") * F.col("lx")).cast("double") / 1.0e18
        ).alias("sxx"),
        (
            F.sum(F.col("lx") * F.col("ly")).cast("double") / 1.0e18
        ).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    den = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / den
    return s.select(
        F.col("n").alias("n_distinct_sizes"),
        F.when(
            den != F.lit(0.0), F.floor(slope * 1.0e6 + 0.5) / 1.0e6
        ).alias("zipf_slope"),
    )


@_register(
    "embedding_int4_quantization_audit",
    oracle="""
    WITH per_vec AS (
      SELECT vec_id,
             CAST(floor(list_max(list_transform(
               CAST(embedding AS DOUBLE[]),
               x -> abs(x - round(x * 7.0 / list_max(list_transform(
                      CAST(embedding AS DOUBLE[]), y -> abs(y))))
                    * list_max(list_transform(
                      CAST(embedding AS DOUBLE[]), y -> abs(y))) / 7.0)))
               * 1.0e9 + 0.5) AS BIGINT) AS max_err_nano,
             CAST(floor(
               list_reduce(list_transform(
                 CAST(embedding AS DOUBLE[]),
                 x -> x * (round(x * 7.0 / list_max(list_transform(
                        CAST(embedding AS DOUBLE[]), y -> abs(y))))
                      * list_max(list_transform(
                        CAST(embedding AS DOUBLE[]), y -> abs(y))) / 7.0)),
                 (a, b) -> a + b)
               / sqrt(list_reduce(list_transform(
                   CAST(embedding AS DOUBLE[]),
                   x -> (round(x * 7.0 / list_max(list_transform(
                          CAST(embedding AS DOUBLE[]), y -> abs(y))))
                        * list_max(list_transform(
                          CAST(embedding AS DOUBLE[]), y -> abs(y))) / 7.0)
                       * (round(x * 7.0 / list_max(list_transform(
                          CAST(embedding AS DOUBLE[]), y -> abs(y))))
                        * list_max(list_transform(
                          CAST(embedding AS DOUBLE[]), y -> abs(y))) / 7.0)),
                   (a, b) -> a + b))
               * 1.0e9 + 0.5) AS BIGINT) AS cos_nano
      FROM embeddings
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(max(max_err_nano) AS BIGINT) AS worst_err_nano,
           CAST(floor(sum(max_err_nano) / count(*)) AS BIGINT)
             AS mean_err_nano,
           CAST(min(cos_nano) AS BIGINT) AS worst_cos_nano,
           CAST(floor(sum(CAST(cos_nano AS HUGEINT)) / count(*)) AS BIGINT)
             AS mean_cos_nano
    FROM per_vec
    """,
)
def embedding_int4_quantization_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """int4 twin of the registered int8 error audit: symmetric 4-bit
    quantization (15 levels, scale = max|x|/7) — the aggressive
    compression tier (8× vs float32). Reports worst/mean absolute
    reconstruction error AND the cosine between the original and the
    dequantized vector (unit-norm inputs, so cosine = dot/|q|): the
    recall-relevant preservation number. Row-local array math (zip-free
    folds, the fold-parity idiom), one tiny agg."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    scale = F.array_max(F.transform(e, lambda y: F.abs(y)))

    def deq(x):
        return F.round(x * 7.0 / scale) * scale / 7.0

    err = F.transform(e, lambda x: F.abs(x - deq(x)))
    dot = F.aggregate(
        F.transform(e, lambda x: x * deq(x)),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    qnorm2 = F.aggregate(
        F.transform(e, lambda x: deq(x) * deq(x)),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    per_vec = emb.select(
        "vec_id",
        F.floor(F.array_max(err) * 1.0e9 + 0.5).cast("long").alias(
            "max_err_nano"
        ),
        F.floor(dot / F.sqrt(qnorm2) * 1.0e9 + 0.5).cast("long").alias(
            "cos_nano"
        ),
    )
    return per_vec.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.max("max_err_nano").cast("long").alias("worst_err_nano"),
        F.floor(F.sum("max_err_nano") / F.count(F.lit(1)))
        .cast("long")
        .alias("mean_err_nano"),
        F.min("cos_nano").cast("long").alias("worst_cos_nano"),
        F.floor(
            F.sum(F.col("cos_nano").cast("decimal(19,0)")).cast("double")
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("mean_cos_nano"),
    )


@_register(
    "events_type_fano_factor",
    oracle="""
    WITH span AS (
      SELECT CAST(floor(epoch(max(ts))) AS BIGINT) // 60
             - CAST(floor(epoch(min(ts))) AS BIGINT) // 60 + 1 AS n_minutes
      FROM events
    ),
    mc AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 60 AS minute,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             CAST(sum(c) AS BIGINT) AS n_events,
             CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS DOUBLE)
               AS sum_c2
      FROM mc GROUP BY 1
    )
    SELECT event_type, n_events,
           CAST(span.n_minutes AS BIGINT) AS n_minutes,
           floor((sum_c2 / CAST(span.n_minutes AS DOUBLE)
                  - (CAST(n_events AS DOUBLE)/span.n_minutes)
                    * (CAST(n_events AS DOUBLE)/span.n_minutes))
                 / (CAST(n_events AS DOUBLE)/span.n_minutes)
                 * 1.0e6 + 0.5) / 1.0e6 AS fano_factor
    FROM s CROSS JOIN span
    """,
)
def events_type_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance/mean of per-minute counts over the FULL
    observation window, zero minutes included via the span term) per
    event type — 1 for a Poisson stream, > 1 for bursty arrival, the
    dispersion diagnostic that decides whether rate-based capacity
    models apply. Zeros enter exactly (they add nothing to Σc² and the
    span normalizer counts them), so no dense minute table is
    materialized; all moments from exact integer sums."""
    ev = _t(spark, sf_dir, "events")
    minute_col = (
        F.floor(F.unix_micros(F.col("ts")) / 1_000_000).cast("long") / 60
    ).cast("long")
    span = ev.agg(
        (
            F.floor(F.unix_micros(F.max("ts")) / 1_000_000).cast("long") / 60
        ).cast("long").alias("hi"),
        (
            F.floor(F.unix_micros(F.min("ts")) / 1_000_000).cast("long") / 60
        ).cast("long").alias("lo"),
    ).select((F.col("hi") - F.col("lo") + 1).alias("n_minutes"))
    mc = ev.groupBy(
        "event_type", minute_col.alias("minute")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    s = mc.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)"))
        .cast("double")
        .alias("sum_c2"),
    )
    out = s.crossJoin(F.broadcast(span))
    tm = F.col("n_minutes").cast("double")
    mu = F.col("n_events").cast("double") / tm
    var = F.col("sum_c2") / tm - mu * mu
    return out.select(
        "event_type",
        "n_events",
        F.col("n_minutes").cast("long").alias("n_minutes"),
        (F.floor(var / mu * 1.0e6 + 0.5) / 1.0e6).alias("fano_factor"),
    )


@_register(
    "text_bigram_entropy_rate",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    bg AS (
      SELECT unnest(list_transform(generate_series(1, greatest(len(words) - 1, 0)),
                    i -> words[i] || ' ' || words[i+1])) AS b
      FROM w
    ),
    bfreq AS (SELECT b, CAST(count(*) AS BIGINT) AS n12 FROM bg GROUP BY b),
    cfreq AS (
      SELECT split_part(b, ' ', 1) AS w1, CAST(sum(n12) AS BIGINT) AS n1
      FROM bfreq GROUP BY 1
    ),
    terms AS (
      SELECT bfreq.n12, cfreq.n1,
             CAST(floor(CAST(bfreq.n12 AS DOUBLE)
                        * ln(CAST(bfreq.n12 AS DOUBLE)/CAST(cfreq.n1 AS DOUBLE))
                        * 1.0e6 - 0.5) AS HUGEINT) AS tq
      FROM bfreq JOIN cfreq ON split_part(bfreq.b, ' ', 1) = cfreq.w1
    )
    SELECT CAST(sum(n12) AS BIGINT) AS n_bigrams,
           CAST(count(*) AS BIGINT) AS vocab_bigrams,
           floor(-CAST(sum(tq) AS DOUBLE) / 1.0e6
                 / CAST(sum(n12) AS DOUBLE) * 1.0e9 + 0.5) / 1.0e9
             AS entropy_rate_nats,
           floor(exp(-CAST(sum(tq) AS DOUBLE) / 1.0e6
                     / CAST(sum(n12) AS DOUBLE)) * 1.0e6 + 0.5) / 1.0e6
             AS perplexity
    FROM terms
    """,
)
def text_bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram entropy rate H(W₂|W₁) = −Σ p(w₁,w₂)·ln p(w₂|w₁)
    and its perplexity — the sequence-predictability number that
    complements the unigram entropy already live (low rate = templated
    text, a strong boilerplate signal). Each term n₁₂·ln(n₁₂/n₁) is
    quantized to integer micro-units BEFORE the global sum
    (order-independence rule: the bigram vocabulary is large, the terms
    negative — floor(x − 0.5) is round-half-AWAY on negatives, matching
    both engines exactly). Counts shuffle map-side-combinably on the
    bigram key; context counts derive from the bigram table."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        word_shingles,
        words_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    bg = docs.select(
        F.explode(word_shingles(words_expr(F.col("text")), 2)).alias("b")
    )
    bfreq = bg.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("n12"))
    cfreq = bfreq.groupBy(
        F.split_part(F.col("b"), F.lit(" "), F.lit(1)).alias("w1")
    ).agg(F.sum("n12").cast("long").alias("n1"))
    terms = bfreq.join(
        cfreq,
        F.split_part(F.col("b"), F.lit(" "), F.lit(1)) == F.col("w1"),
    ).select(
        "n12",
        F.floor(
            F.col("n12").cast("double")
            * F.log(
                F.col("n12").cast("double") / F.col("n1").cast("double")
            )
            * 1.0e6
            - 0.5
        )
        .cast("decimal(38,0)")
        .alias("tq"),
    )
    s = terms.agg(
        F.sum("n12").cast("long").alias("n_bigrams"),
        F.count(F.lit(1)).cast("long").alias("vocab_bigrams"),
        F.sum("tq").cast("double").alias("stq"),
    )
    h = -F.col("stq") / 1.0e6 / F.col("n_bigrams").cast("double")
    return s.select(
        "n_bigrams",
        "vocab_bigrams",
        (F.floor(h * 1.0e9 + 0.5) / 1.0e9).alias("entropy_rate_nats"),
        (F.floor(F.exp(h) * 1.0e6 + 0.5) / 1.0e6).alias("perplexity"),
    )


# ===========================================================================
# Wave D — GSW tail: general-p_ref ice potential temperature, isentropic
# ice compressibility, exact-Gibbs enthalpy at (SA, CT), the CT
# derivative triple wrt in-situ t via the entropy chain rule, and the
# atlas-free Sstar/SP baseline battery.
# ===========================================================================
def _ice14_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cioos_siooc_data_transform_spark.plans.staged_r8 import _ice_inputs

    return _ice_inputs(spark, sf_dir)


def _ice14_in_sql() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r8 import _ICE_IN_SQL

    return _ICE_IN_SQL


def _ice14_query(name: str, stages_fn, outs):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _ice14_inputs(spark, sf_dir)
        for sname, expr in stages_fn():
            df = df.withColumn(sname, F.expr(expr))
        return df.select(
            "l_orderkey",
            "l_linenumber",
            *[F.expr(e).alias(c) for c, e in outs],
        )

    staged = _stage_sql_cte(_ice14_in_sql(), stages_fn())
    sel = ",\n           ".join(f"{e} AS {c}" for c, e in outs)
    STAGED_QUERIES[name] = fn
    STAGED_ORACLES[name] = f"""
    SELECT l_orderkey, l_linenumber,
           {sel}
    FROM ({staged})
    """
    return fn


_PT_ICE_PREF = "200.0e0"  # dbar — exercises the general-p_ref path


def _pt_ice_pref_stages():
    """pt of ice at reference pressure 200 dbar (GSW twin:
    gsw_pt_from_t_ice, general p_ref — the p_ref = 0 special case is
    already staged in r10): entropy match η_Ih(pt, p_ref) =
    η_Ih(t, p), two Newton steps from pt = t with the analytic
    dη/dT = −g_TT (the r10 recipe at nonzero reference)."""
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )

    stages = list(gibbs_ice_stages("t", "p", x="__pi14_0_", out="__pi14_0o_"))
    stages.append(("__pt14_0", "t"))
    for k in (1, 2):
        stages += gibbs_ice_stages(
            f"__pt14_{k - 1}", _PT_ICE_PREF, x=f"__pi14_{k}_",
            out=f"__pi14_{k}o_",
        )
        stages.append(
            (
                f"__pt14_{k}",
                f"(__pt14_{k - 1}"
                f" + (__pi14_{k}o_entropy_ice - __pi14_0o_entropy_ice)"
                f" / __pi14_{k}_gtt)",
            )
        )
    stages.append(("pt_ice_pref", "__pt14_2"))
    return stages


_ice14_query(
    "gsw_pt_from_t_ice",
    _pt_ice_pref_stages,
    [("pt_ice_pref", _q9("pt_ice_pref"))],
)


def _kappa_ice_stages():
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )

    return list(gibbs_ice_stages("t", "p", x="__ki_", out="__kio_"))


_ice14_query(
    "gsw_kappa_ice",
    _kappa_ice_stages,
    [
        # isentropic compressibility (g_Tp² − g_TT·g_pp)/(g_p·g_TT),
        # per Pa ~1e-10 — emit ×1e10.
        (
            "kappa_ice_e10",
            _q9(
                "(1.0e10*(__ki_gtp*__ki_gtp - __ki_gtt*__ki_gpp)"
                "/(__ki_gp*__ki_gtt))"
            ),
        ),
    ],
)


def _h_ct_exact_stages():
    """enthalpy_CT_exact(SA, CT, p) = h_t_exact(SA, t(CT), p) with the
    2-step Newton t(CT) inversion on ct_from_t (dCT/dt within 2 % of 1;
    residual < 1e-12 K) — the grid's CT comes from the forward
    conversion, so t is recovered exactly (roundtrip) and h evaluates
    the full Gibbs there."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        gibbs_sw_sql,
    )

    eps = "1.0e-3"
    stages = [
        ("__hce_ct", ct_from_t_sql("s", "t", "p")),
        ("__hce_t0", "__hce_ct"),
    ]
    for i in range(2):
        cur = f"__hce_t{i}"
        stages += [
            (f"__hce_r{i}", f"({ct_from_t_sql('s', cur, 'p')} - __hce_ct)"),
            (
                f"__hce_d{i}",
                f"(({ct_from_t_sql('s', f'({cur} + {eps})', 'p')}"
                f" - {ct_from_t_sql('s', f'({cur} - {eps})', 'p')})"
                f"/(2.0e0*{eps}))",
            ),
            (f"__hce_t{i + 1}", f"({cur} - __hce_r{i}/__hce_d{i})"),
        ]
    stages += [
        ("__hce_g", gibbs_sw_sql("sa", "__hce_t2", "p")),
        ("__hce_gt", gibbs_sw_sql("sa", "__hce_t2", "p", dt=1)),
        (
            "h_ct_exact",
            "(__hce_g - (273.15e0 + __hce_t2)*__hce_gt)",
        ),
    ]
    return stages


def gsw_enthalpy_ct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Specific enthalpy at (SA, CT, p) from the FULL Gibbs function
    (GSW twin: gsw_enthalpy_CT_exact = enthalpy_t_exact at t(CT)); the
    75-term polynomial twin gsw_enthalpy is already live — this is the
    exact reference surface it approximates (agreement within the
    poly's fit error, ≤ ~7 J/kg over the envelope, pinned in tests)."""
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _inputs,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey", "l_linenumber", "s", "t", "p",
        F.expr(_SA_SQL).alias("sa"),
    )
    for sname, expr in _h_ct_exact_stages():
        df = df.withColumn(sname, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_q6("h_ct_exact")).alias("h_ct_exact"),
    )


def _h_ct_exact_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r13 import (
        _freeze_in_sql,
    )

    staged = _stage_sql_cte(_freeze_in_sql(), _h_ct_exact_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           {_q6("h_ct_exact")} AS h_ct_exact
    FROM ({staged})
    """


STAGED_QUERIES["gsw_enthalpy_ct_exact"] = gsw_enthalpy_ct_exact
STAGED_ORACLES["gsw_enthalpy_ct_exact"] = _h_ct_exact_oracle()


def _ct_derivs_wrt_t_stages(t_col: str = "t"):
    """The CT derivative triple wrt in-situ state (GSW twin:
    gsw_CT_first_derivatives_wrt_t_exact) assembled by the chain rule
    through entropy conservation η(SA,t,p) = η₀(SA,pt0) — every piece
    an existing symbolic-derivative template (η_t, η_SA, η_p on the
    in-situ side; η₀_t, η₀_SA on the pt0 side; CT_SA, CT_pt from the
    ct_from_pt surface):

      ∂pt0/∂t  = η_t/η₀_t,   ∂pt0/∂p = η_p/η₀_t,
      ∂pt0/∂SA = (η_SA − η₀_SA)/η₀_t,
      CT_x = CT_pt·∂pt0/∂x (+ CT_SA for x = SA).

    The reference hand-maintains differentiated coefficient tables for
    the same quantities; here they cannot drift from the base surfaces.
    FD-pinned in tests/test_oceanography_checkvalues.py."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_derivative_sql,
        entropy_from_pt_sql,
        entropy_from_t_sql,
        entropy_p0_derivative_sql,
        entropy_p_derivative_sql,
        entropy_sa_derivative_sql,
        entropy_t_derivative_sql,
        pt0_from_t_sql,
    )

    return [
        # The McDougall-Wotherspoon 1.5-step pt0 is ~1e-5 K off, which
        # would leak ~2e-6 into the derivative ratios evaluated there —
        # one extra Newton polish on the exact entropy match puts the
        # evaluation point at the implicit root to ~1e-10 K, making the
        # chain-rule triple FD-exact (tests).
        ("__cdt_pt0a", pt0_from_t_sql("s", t_col, "p")),
        ("__cdt_eta", entropy_from_t_sql("sa", t_col, "p")),
        ("__cdt_eta0a", entropy_from_pt_sql("sa", "__cdt_pt0a")),
        (
            "__cdt_eta0ta",
            entropy_p0_derivative_sql("sa", "__cdt_pt0a", 0, 1),
        ),
        (
            "__cdt_pt0",
            "(__cdt_pt0a - (__cdt_eta0a - __cdt_eta)/__cdt_eta0ta)",
        ),
        ("__cdt_eta_t", entropy_t_derivative_sql("sa", t_col, "p")),
        ("__cdt_eta_sa", entropy_sa_derivative_sql("sa", t_col, "p")),
        ("__cdt_eta_p", entropy_p_derivative_sql("sa", t_col, "p")),
        (
            "__cdt_eta0_t",
            entropy_p0_derivative_sql("sa", "__cdt_pt0", 0, 1),
        ),
        (
            "__cdt_eta0_sa",
            entropy_p0_derivative_sql("sa", "__cdt_pt0", 1, 0),
        ),
        ("__cdt_ct_pt", ct_derivative_sql("sa", "__cdt_pt0", 0, 1)),
        ("__cdt_ct_sa", ct_derivative_sql("sa", "__cdt_pt0", 1, 0)),
    ]


def gsw_ct_first_derivatives_wrt_t_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """See _ct_derivs_wrt_t_stages. ct_p is per dbar (×1e4 emitted —
    values ~−2e-5 K/dbar)."""
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _inputs,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey", "l_linenumber", "s", "t", "p",
        F.expr(_SA_SQL).alias("sa"),
    )
    for sname, expr in _ct_derivs_wrt_t_stages():
        df = df.withColumn(sname, F.expr(expr))
    ct_t = "(__cdt_ct_pt*__cdt_eta_t/__cdt_eta0_t)"
    ct_p = "(__cdt_ct_pt*__cdt_eta_p/__cdt_eta0_t)"
    ct_sa = (
        "(__cdt_ct_sa + __cdt_ct_pt"
        "*(__cdt_eta_sa - __cdt_eta0_sa)/__cdt_eta0_t)"
    )
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_q9(ct_t)).alias("ct_t_wrt_t"),
        F.expr(_q9(f"(1.0e4*{ct_p})")).alias("ct_p_wrt_t_e4"),
        F.expr(_q9(ct_sa)).alias("ct_sa_wrt_t"),
    )


def _ct_derivs_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r13 import (
        _freeze_in_sql,
    )

    ct_t = "(__cdt_ct_pt*__cdt_eta_t/__cdt_eta0_t)"
    ct_p = "(__cdt_ct_pt*__cdt_eta_p/__cdt_eta0_t)"
    ct_sa = (
        "(__cdt_ct_sa + __cdt_ct_pt"
        "*(__cdt_eta_sa - __cdt_eta0_sa)/__cdt_eta0_t)"
    )
    staged = _stage_sql_cte(_freeze_in_sql(), _ct_derivs_wrt_t_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           {_q9(ct_t)} AS ct_t_wrt_t,
           {_q9(f"(1.0e4*{ct_p})")} AS ct_p_wrt_t_e4,
           {_q9(ct_sa)} AS ct_sa_wrt_t
    FROM ({staged})
    """


STAGED_QUERIES["gsw_ct_first_derivatives_wrt_t_exact"] = (
    gsw_ct_first_derivatives_wrt_t_exact
)
STAGED_ORACLES["gsw_ct_first_derivatives_wrt_t_exact"] = _ct_derivs_oracle()


@_register(
    "gsw_salinity_star_baseline",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(CAST(30.0 + l_discount * 50 AS DOUBLE) * (35.16504e0/35.0e0)
                 / (35.16504e0/35.0e0) * 1.0e9 + 0.5) / 1.0e9 AS sp_from_sa,
           floor(CAST(30.0 + l_discount * 50 AS DOUBLE) * (35.16504e0/35.0e0)
                 * 1.0e9 + 0.5) / 1.0e9 AS sstar_from_sp,
           floor(CAST(30.0 + l_discount * 50 AS DOUBLE) * (35.16504e0/35.0e0)
                 * 1.0e9 + 0.5) / 1.0e9 AS sa_from_sstar_roundtrip
    FROM lineitem
    """,
)
def gsw_salinity_star_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atlas-free baseline of the Preformed-Salinity family (GSW twins:
    gsw_SP_from_SA, gsw_Sstar_from_SP, gsw_Sstar_from_SA,
    gsw_SA_from_Sstar, gsw_SP_from_Sstar). With the SAAR/deltaSA atlas
    declared out of scope (COVERAGE.md: it is a binary data artifact,
    not a formula), GSW's own atlas-absent fallback applies: SAAR = 0,
    so Sstar = SA = uPS·SP and the five conversions collapse to the
    reference-composition scaling and its inverse — exactly what this
    battery ships and what the engine's sa_from_sp (F-series) already
    uses. sp_from_sa pins the roundtrip SP = SA/uPS; sstar_from_sp the
    forward scaling; sa_from_sstar_roundtrip the identity Sstar = SA."""
    li = _t(spark, sf_dir, "lineitem")
    ups = 35.16504 / 35.0
    sp = (F.lit(30.0) + F.col("l_discount") * 50).cast("double")
    sa = sp * ups
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(sa / ups * 1.0e9 + 0.5) / 1.0e9).alias("sp_from_sa"),
        (F.floor(sp * ups * 1.0e9 + 0.5) / 1.0e9).alias("sstar_from_sp"),
        (F.floor(sa * 1.0e9 + 0.5) / 1.0e9).alias(
            "sa_from_sstar_roundtrip"
        ),
    )


# ===========================================================================
# Wave E — trend/network/resampling operations: Sen's slope, co-supply
# network, deterministic Poisson-bootstrap CI, candidate-period
# periodogram, corpus compressibility proxy.
# ===========================================================================
@_register(
    "orders_sens_slope_monthly",
    oracle="""
    WITH m AS (
      SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
               AS midx,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT (CAST(b.cents AS DOUBLE) - CAST(a.cents AS DOUBLE))
               / CAST(b.midx - a.midx AS DOUBLE) AS slope
      FROM m a JOIN m b ON b.midx > a.midx
    ),
    ranked AS (
      SELECT slope,
             row_number() OVER (ORDER BY slope) AS rn,
             count(*) OVER () AS n
      FROM pairs
    )
    SELECT CAST(max(n) AS BIGINT) AS n_pairs,
           floor(max(CASE WHEN rn = (n - 1) // 2 + 1 THEN slope END)
                 * 1.0e6 + 0.5) / 1.0e6 AS sens_slope_cents,
           floor(max(CASE WHEN rn = (n - 1) // 4 + 1 THEN slope END)
                 * 1.0e6 + 0.5) / 1.0e6 AS slope_p25_cents,
           floor(max(CASE WHEN rn = ((n - 1) * 3) // 4 + 1 THEN slope END)
                 * 1.0e6 + 0.5) / 1.0e6 AS slope_p75_cents
    FROM ranked
    """,
)
def orders_sens_slope_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sen's slope (the median of all pairwise monthly-revenue slopes)
    with its quartile band — the robust trend magnitude that pairs with
    the seasonal Mann–Kendall DIRECTION test already staged (r13). The
    all-pairs join runs on the MONTH aggregate (84 rows → 3,486 pairs —
    bounded by the time dimension squared, never by the fact table);
    the median is an exact discrete order statistic."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("midx")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    a = m.alias("a")
    b = m.alias("b")
    pairs = a.join(b, F.col("b.midx") > F.col("a.midx")).select(
        (
            (F.col("b.cents").cast("double") - F.col("a.cents").cast("double"))
            / (F.col("b.midx") - F.col("a.midx")).cast("double")
        ).alias("slope")
    )
    wr = Window.orderBy("slope")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = pairs.select(
        "slope",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )

    def at(idx):
        return F.max(F.when(F.col("rn") == idx, F.col("slope")))

    med = ((F.col("n") - 1) / 2).cast("long") + 1
    q1 = ((F.col("n") - 1) / 4).cast("long") + 1
    q3 = ((F.col("n") - 1) * 3 / 4).cast("long") + 1
    return ranked.agg(
        F.max("n").cast("long").alias("n_pairs"),
        (F.floor(at(med) * 1.0e6 + 0.5) / 1.0e6).alias("sens_slope_cents"),
        (F.floor(at(q1) * 1.0e6 + 0.5) / 1.0e6).alias("slope_p25_cents"),
        (F.floor(at(q3) * 1.0e6 + 0.5) / 1.0e6).alias("slope_p75_cents"),
    )


def _cosupply_oracle() -> str:
    from cioos_siooc_data_transform_spark.sources.partsupp import (
        PARTSUPP_CTE,
    )

    return f"""
    WITH {PARTSUPP_CTE},
    pairs AS (
      SELECT a.ps_suppkey AS s1, b.ps_suppkey AS s2,
             CAST(count(*) AS BIGINT) AS shared_parts
      FROM partsupp a JOIN partsupp b
        ON a.ps_partkey = b.ps_partkey AND a.ps_suppkey < b.ps_suppkey
      GROUP BY 1, 2
    )
    SELECT s1, s2, shared_parts
    FROM pairs
    ORDER BY shared_parts DESC, s1, s2
    LIMIT 20
    """


@_register("supplier_cosupply_topk", oracle="__LAZY_COSUPPLY__")
def supplier_cosupply_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-supply pairs: suppliers sharing the most parts in the
    real-shape partsupp relation (the bipartite projection's heaviest
    edges — the substitution/collusion screen). The per-part self-join
    fans out to C(4,2) = 6 pairs per part (the partsupp derivation
    assigns exactly 4 suppliers per part), so candidates are LINEAR in
    |parts| — a bounded-fanout projection, never all-supplier-pairs.
    Deterministic tiebreak (count desc, s1, s2)."""
    from cioos_siooc_data_transform_spark.sources.partsupp import (
        ensure_partsupp,
    )

    ps = ensure_partsupp(spark, sf_dir).select("ps_partkey", "ps_suppkey")
    a = ps.alias("a")
    b = ps.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.ps_partkey") == F.col("b.ps_partkey"))
            & (F.col("a.ps_suppkey") < F.col("b.ps_suppkey")),
        )
        .groupBy(
            F.col("a.ps_suppkey").alias("s1"),
            F.col("b.ps_suppkey").alias("s2"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_parts"))
    )
    return pairs.orderBy(
        F.col("shared_parts").desc(), F.col("s1"), F.col("s2")
    ).limit(20)


STAGED_ORACLES["supplier_cosupply_topk"] = _cosupply_oracle()


@_register(
    "orders_bootstrap_ci_revenue",
    oracle="""
    WITH reps AS (
      SELECT CAST(unnest(generate_series(0, 31)) AS BIGINT) AS r
    ),
    w AS (
      SELECT reps.r,
             CASE
               WHEN ((o_orderkey * 2654435761 + reps.r * 976369) % 4294967296)
                    % 1000 < 368 THEN 0
               WHEN ((o_orderkey * 2654435761 + reps.r * 976369) % 4294967296)
                    % 1000 < 736 THEN 1
               WHEN ((o_orderkey * 2654435761 + reps.r * 976369) % 4294967296)
                    % 1000 < 920 THEN 2
               WHEN ((o_orderkey * 2654435761 + reps.r * 976369) % 4294967296)
                    % 1000 < 981 THEN 3
               ELSE 4
             END AS w,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders CROSS JOIN reps
    ),
    totals AS (
      SELECT r, CAST(sum(w * cents) AS BIGINT) AS total_cents
      FROM w GROUP BY r
    ),
    ranked AS (
      SELECT total_cents,
             row_number() OVER (ORDER BY total_cents) AS rn
      FROM totals
    )
    SELECT CAST(count(*) AS BIGINT) AS n_replicates,
           CAST(floor(sum(CAST(total_cents AS HUGEINT)) / count(*))
                AS BIGINT) AS mean_total_cents,
           CAST(max(CASE WHEN rn = 2 THEN total_cents END) AS BIGINT)
             AS ci_lo_cents,
           CAST(max(CASE WHEN rn = 31 THEN total_cents END) AS BIGINT)
             AS ci_hi_cents
    FROM ranked
    """,
)
def orders_bootstrap_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap of total revenue: 32 replicates
    whose per-order weights follow the Poisson(1) pmf quantized to
    thousandths (0.368/0.368/0.184/0.061/0.019 — the standard streaming
    bootstrap; weights come from the seedless multiplicative hash, so
    both engines draw identical replicates). CI bounds are the 2nd/31st
    order statistics (~94 % coverage). Scale shape: the 32× row
    expansion is map-side combinable straight into 32 partial sums —
    no shuffle grows with the fact table; exact integer totals."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    reps = spark.range(32).select(F.col("id").cast("long").alias("r"))
    h = (
        (F.col("o_orderkey") * 2654435761 + F.col("r") * 976369)
        % 4294967296
    ) % 1000
    w = (
        F.when(h < 368, 0)
        .when(h < 736, 1)
        .when(h < 920, 2)
        .when(h < 981, 3)
        .otherwise(4)
    )
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    totals = (
        o.crossJoin(F.broadcast(reps))
        .select("r", (w * cents).alias("wc"))
        .groupBy("r")
        .agg(F.sum("wc").cast("long").alias("total_cents"))
    )
    ranked = totals.select(
        "total_cents",
        F.row_number().over(Window.orderBy("total_cents")).alias("rn"),
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        F.floor(
            F.sum(F.col("total_cents").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("mean_total_cents"),
        F.max(F.when(F.col("rn") == 2, F.col("total_cents")))
        .cast("long")
        .alias("ci_lo_cents"),
        F.max(F.when(F.col("rn") == 31, F.col("total_cents")))
        .cast("long")
        .alias("ci_hi_cents"),
    )


@_register(
    "events_periodogram_candidates",
    oracle="""
    WITH periods AS (
      SELECT CAST(unnest([21600.0, 43200.0, 86400.0, 172800.0,
                          302400.0, 604800.0]) AS DOUBLE) AS period
    ),
    terms AS (
      SELECT periods.period,
             CAST(floor(value * cos(2.0 * pi() * CAST(floor(epoch(ts))
                        AS DOUBLE) / periods.period) * 1.0e6 + 0.5)
                  AS HUGEINT) AS cq,
             CAST(floor(value * sin(2.0 * pi() * CAST(floor(epoch(ts))
                        AS DOUBLE) / periods.period) * 1.0e6 + 0.5)
                  AS HUGEINT) AS sq
      FROM events CROSS JOIN periods
    ),
    pw AS (
      SELECT period,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cq) AS DOUBLE) / 1.0e6 AS sc,
             CAST(sum(sq) AS DOUBLE) / 1.0e6 AS ss
      FROM terms GROUP BY period
    )
    SELECT period,
           floor((sc*sc + ss*ss) / CAST(n AS DOUBLE) * 1.0e2 + 0.5) / 1.0e2
             AS power,
           CAST(row_number() OVER (
             ORDER BY floor((sc*sc + ss*ss) / CAST(n AS DOUBLE) * 1.0e2 + 0.5)
                      DESC, period) AS BIGINT) AS power_rank
    FROM pw
    """,
)
def events_periodogram_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lomb-style power at six CANDIDATE periods (6 h … 7 d): the
    cheap periodicity scan that says which seasonality the windowing
    queries should target (the single-bin daily/weekly DFT already
    staged generalizes here to a ranked candidate grid). Per-row
    cos/sin terms are quantized to integer micro-units before the global
    sums (order-independence rule); the rank window runs over six rows.
    Rank ties break on the QUANTIZED power, so both engines agree."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    periods = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.lit(v)
                    for v in (
                        21600.0, 43200.0, 86400.0, 172800.0,
                        302400.0, 604800.0,
                    )
                ]
            )
        ).alias("period")
    )
    tsec = F.floor(F.unix_micros(F.col("ts")) / 1_000_000).cast("double")
    ang = 2.0 * 3.141592653589793 * tsec / F.col("period")
    terms = ev.crossJoin(F.broadcast(periods)).select(
        "period",
        F.floor(F.col("value") * F.cos(ang) * 1.0e6 + 0.5)
        .cast("decimal(38,0)")
        .alias("cq"),
        F.floor(F.col("value") * F.sin(ang) * 1.0e6 + 0.5)
        .cast("decimal(38,0)")
        .alias("sq"),
    )
    pw = terms.groupBy("period").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("cq").cast("double") / 1.0e6).alias("sc"),
        (F.sum("sq").cast("double") / 1.0e6).alias("ss"),
    )
    power_q = (
        F.floor(
            (F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss"))
            / F.col("n").cast("double")
            * 1.0e2
            + 0.5
        )
        / 1.0e2
    )
    out = pw.select("period", power_q.alias("power"))
    wr = Window.orderBy(F.col("power").desc(), F.col("period"))
    return out.select(
        "period",
        "power",
        F.row_number().over(wr).cast("long").alias("power_rank"),
    )


@_register(
    "text_compression_ratio_proxy",
    oracle="""
    WITH w AS (SELECT source, string_split(text, ' ') AS words FROM documents),
    uni AS (
      SELECT source, unnest(words) AS tok FROM w
    ),
    bg AS (
      SELECT source,
             unnest(list_transform(generate_series(1, greatest(len(words) - 1, 0)),
                    i -> words[i] || ' ' || words[i+1])) AS b
      FROM w
    ),
    us AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT tok) AS BIGINT) AS v_tokens
      FROM uni GROUP BY 1
    ),
    bs AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(count(DISTINCT b) AS BIGINT) AS v_bigrams
      FROM bg GROUP BY 1
    )
    SELECT us.source, n_tokens, v_tokens, n_bigrams, v_bigrams,
           floor(CAST(v_tokens AS DOUBLE) / n_tokens * 1.0e6 + 0.5) / 1.0e6
             AS ttr,
           floor(CAST(v_bigrams AS DOUBLE) / n_bigrams * 1.0e6 + 0.5) / 1.0e6
             AS bigram_distinct_ratio
    FROM us JOIN bs ON us.source = bs.source
    """,
)
def text_compression_ratio_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus compressibility proxy per source: type/token ratio and
    the distinct-bigram ratio — low values mean templated/repetitive
    text that a compressor (or a dedup pass) would collapse, the cheap
    screen before paying for MinHash. Distinct counts shuffle on the
    token/bigram key (map-side combinable partial distincts); both
    ratios from exact integers."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        word_shingles,
        words_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    uni = docs.select(
        "source", F.explode(words_expr(F.col("text"))).alias("tok")
    )
    bg = docs.select(
        "source",
        F.explode(word_shingles(words_expr(F.col("text")), 2)).alias("b"),
    )
    us = uni.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("tok").cast("long").alias("v_tokens"),
    )
    bs = bg.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.countDistinct("b").cast("long").alias("v_bigrams"),
    )
    j = us.join(bs, "source")
    return j.select(
        "source",
        "n_tokens",
        "v_tokens",
        "n_bigrams",
        "v_bigrams",
        (
            F.floor(
                F.col("v_tokens").cast("double") / F.col("n_tokens") * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("ttr"),
        (
            F.floor(
                F.col("v_bigrams").cast("double") / F.col("n_bigrams") * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("bigram_distinct_ratio"),
    )


# ===========================================================================
# Wave F — enthalpy-coordinate derivatives (the (SA, h, p) state space
# dynamic-height integrals work in), exact enthalpy first derivatives,
# Erlang-C staffing, naive interval-forecast coverage.
# ===========================================================================
def _v_wrt_h_stages():
    """Stages for v_h = v_CT/h_CT, v_SA_wrt_h = v_SA − v_CT·h_SA/h_CT
    (GSW twin: gsw_specvol_first_derivatives_wrt_enthalpy) and the
    second-order pair (GSW twin: gsw_specvol_second_derivatives_wrt_
    enthalpy): v_h_h = (v_CTCT·h_CT − v_CT·h_CTCT)/h_CT³ and the mixed
    v_SA_h = [v_CTSA·h_CT − v_CT·h_CTSA]/h_CT²
             − (h_SA/h_CT)·[v_CTCT·h_CT − v_CT·h_CTCT]/h_CT²
    (∂/∂SA at FIXED h picks up −h_SA/h_CT·∂/∂CT). Every piece is an
    analytic 75-term derivative polynomial; FD-pinned in tests."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_OFFSET,
        GSW_SFAC,
        _lit,
        ct_from_t_sql,
        enthalpy_first_derivatives_stages,
        hdyn_combine_sql,
        hdyn_deriv_poly_stages,
        specvol_deriv_poly_sql,
    )

    sfac, off = _lit(GSW_SFAC), _lit(GSW_OFFSET)
    stages = [
        ("__vh_ct", ct_from_t_sql("s", "t", "p")),
        ("__vh_xs", f"sqrt({sfac}*sa + {off})"),
        ("__vh_ys", "(__vh_ct*0.025e0)"),
        ("__vh_z", "(p*1.0e-4)"),
        (
            "__vh_vct",
            f"(0.025e0*{specvol_deriv_poly_sql('__vh_xs', '__vh_ys', '__vh_z', dys=1)})",
        ),
        (
            "__vh_vctct",
            f"(6.25e-4*{specvol_deriv_poly_sql('__vh_xs', '__vh_ys', '__vh_z', dys=2)})",
        ),
        (
            "__vh_vsa",
            f"(({sfac}/(2.0e0*__vh_xs))"
            f"*{specvol_deriv_poly_sql('__vh_xs', '__vh_ys', '__vh_z', dxs=1)})",
        ),
        (
            "__vh_vctsa",
            f"(0.025e0*({sfac}/(2.0e0*__vh_xs))"
            f"*{specvol_deriv_poly_sql('__vh_xs', '__vh_ys', '__vh_z', dxs=1, dys=1)})",
        ),
    ]
    stages += enthalpy_first_derivatives_stages("sa", "__vh_ct", "p", x="__vh_d_")
    # h second derivatives: h = cp0·CT + h_dyn, so h_CTCT / h_CTSA are
    # pure h_dyn derivative combines (cp0 term drops out).
    stages += hdyn_deriv_poly_stages("__vh_d_xs", "__vh_d_ys", "__vh_yy_", dys=2)
    stages += hdyn_deriv_poly_stages("__vh_d_xs", "__vh_d_ys", "__vh_xy_", dxs=1, dys=1)
    stages += [
        (
            "__vh_hctct",
            f"(6.25e-4*{hdyn_combine_sql('__vh_d_z', '__vh_yy_')})",
        ),
        (
            "__vh_hctsa",
            f"(0.025e0*({sfac}/(2.0e0*__vh_d_xs))"
            f"*{hdyn_combine_sql('__vh_d_z', '__vh_xy_')})",
        ),
    ]
    return stages


_V_H = "(__vh_vct/h_ct)"
_V_SA_WRT_H = "(__vh_vsa - __vh_vct*h_sa/h_ct)"
_V_H_H = "((__vh_vctct*h_ct - __vh_vct*__vh_hctct)/(h_ct*h_ct*h_ct))"
_V_SA_H = (
    "((__vh_vctsa*h_ct - __vh_vct*__vh_hctsa)/(h_ct*h_ct)"
    " - (h_sa/h_ct)*(__vh_vctct*h_ct - __vh_vct*__vh_hctct)/(h_ct*h_ct))"
)


def _vwh_query(name, outs):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from cioos_siooc_data_transform_spark.plans.staged_r5 import (
            _SA_SQL,
            _inputs,
        )

        df = _inputs(spark, sf_dir).select(
            "l_orderkey", "l_linenumber", "s", "t", "p",
            F.expr(_SA_SQL).alias("sa"),
        )
        for sname, expr in _v_wrt_h_stages():
            df = df.withColumn(sname, F.expr(expr))
        return df.select(
            "l_orderkey",
            "l_linenumber",
            *[F.expr(e).alias(c) for c, e in outs],
        )

    from cioos_siooc_data_transform_spark.plans.staged_r13 import (
        _freeze_in_sql,
    )

    staged = _stage_sql_cte(_freeze_in_sql(), _v_wrt_h_stages())
    sel = ",\n           ".join(f"{e} AS {c}" for c, e in outs)
    STAGED_QUERIES[name] = fn
    STAGED_ORACLES[name] = f"""
    SELECT l_orderkey, l_linenumber,
           {sel}
    FROM ({staged})
    """
    return fn


# v_h ~ 2.4e-7 (m³/kg)/(J/kg): emit ×1e9; v_h_h ~ -1e-11: ×1e14.
_vwh_query(
    "gsw_specvol_first_derivatives_wrt_enthalpy",
    [
        ("v_h_e9", _q9(f"(1.0e9*{_V_H})")),
        ("v_sa_wrt_h_e6", _q9(f"(1.0e6*{_V_SA_WRT_H})")),
    ],
)
_vwh_query(
    "gsw_specvol_second_derivatives_wrt_enthalpy",
    [
        ("v_h_h_e14", _q6(f"(1.0e14*{_V_H_H})")),
        ("v_sa_h_e12", _q6(f"(1.0e12*{_V_SA_H})")),
    ],
)


def _h_derivs_ct_exact_stages():
    """h_CT = cp0·(T0+t)/(T0+pt0) and h_SA = g_SA(SA,t,p) −
    (T0+t)/(T0+pt0)·g_SA(SA,pt0,0) (GSW twin:
    gsw_enthalpy_first_derivatives_CT_exact — the reference evaluates
    hand-differentiated g_SA tables at exactly these two states). t
    comes from the 2-step Newton t(CT) (the grid's CT is the forward
    conversion, so this is the roundtrip point), pt0 from the
    McDougall-Wotherspoon inversion."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        gibbs_sw_sql,
        pt0_from_t_sql,
    )

    eps = "1.0e-3"
    stages = [
        ("__hde_ct", ct_from_t_sql("s", "t", "p")),
        ("__hde_t0", "__hde_ct"),
    ]
    for i in range(2):
        cur = f"__hde_t{i}"
        stages += [
            (f"__hde_r{i}", f"({ct_from_t_sql('s', cur, 'p')} - __hde_ct)"),
            (
                f"__hde_d{i}",
                f"(({ct_from_t_sql('s', f'({cur} + {eps})', 'p')}"
                f" - {ct_from_t_sql('s', f'({cur} - {eps})', 'p')})"
                f"/(2.0e0*{eps}))",
            ),
            (f"__hde_t{i + 1}", f"({cur} - __hde_r{i}/__hde_d{i})"),
        ]
    stages += [
        ("__hde_pt0", pt0_from_t_sql("s", "__hde_t2", "p")),
        (
            "__hde_ratio",
            "((273.15e0 + __hde_t2)/(273.15e0 + __hde_pt0))",
        ),
        ("__hde_gsa", gibbs_sw_sql("sa", "__hde_t2", "p", dsa=1)),
        (
            "__hde_gsa0",
            gibbs_sw_sql("sa", "__hde_pt0", "0.0e0", dsa=1),
        ),
    ]
    return stages


def _hde_outs():
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_CP0,
        _lit,
    )

    return [
        ("h_ct_deriv", _q9(f"({_lit(GSW_CP0)}*__hde_ratio)")),
        (
            "h_sa_deriv",
            _q9("(__hde_gsa - __hde_ratio*__hde_gsa0)"),
        ),
    ]


def gsw_enthalpy_first_derivatives_ct_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """See _h_derivs_ct_exact_stages — the exact-Gibbs twin of the live
    analytic-polynomial gsw_enthalpy_first_derivatives (agreement
    within the poly fit error, pinned in tests)."""
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _inputs,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey", "l_linenumber", "s", "t", "p",
        F.expr(_SA_SQL).alias("sa"),
    )
    for sname, expr in _h_derivs_ct_exact_stages():
        df = df.withColumn(sname, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        *[F.expr(e).alias(c) for c, e in _hde_outs()],
    )


def _hde_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r13 import (
        _freeze_in_sql,
    )

    staged = _stage_sql_cte(_freeze_in_sql(), _h_derivs_ct_exact_stages())
    sel = ",\n           ".join(f"{e} AS {c}" for c, e in _hde_outs())
    return f"""
    SELECT l_orderkey, l_linenumber,
           {sel}
    FROM ({staged})
    """


STAGED_QUERIES["gsw_enthalpy_first_derivatives_ct_exact"] = (
    gsw_enthalpy_first_derivatives_ct_exact
)
STAGED_ORACLES["gsw_enthalpy_first_derivatives_ct_exact"] = _hde_oracle()


@_register(
    "events_erlang_c_staffing",
    oracle="""
    WITH hourly AS (
      SELECT CAST(hour(ts) AS BIGINT) AS hod, CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 3600)
                  AS BIGINT) AS n_slots
      FROM events GROUP BY 1
    ),
    lam AS (
      SELECT hod, n,
             CAST(n AS DOUBLE) / CAST(n_slots AS DOUBLE) / 60.0e0 AS lam_min
      FROM hourly
    ),
    cand AS (
      SELECT CAST(unnest(generate_series(1, 24)) AS BIGINT) AS c
    ),
    pw AS (
      SELECT hod, n, lam_min, cand.c,
             lam_min / 1.2e0 AS a,
             list_reduce(
               list_prepend(1.0e0,
                 list_transform(generate_series(1, CAST(cand.c AS INTEGER)),
                                k -> CAST(k AS DOUBLE))),
               (b, k) -> (lam_min/1.2e0)*b/(k + (lam_min/1.2e0)*b))
               AS erlang_b
      FROM lam CROSS JOIN cand
      WHERE lam_min / 1.2e0 < CAST(cand.c AS DOUBLE)
    ),
    ec AS (
      SELECT hod, n, lam_min, c, a,
             erlang_b / (1.0e0 - (a/CAST(c AS DOUBLE))*(1.0e0 - erlang_b))
               AS p_wait
      FROM pw
    )
    SELECT hod, n AS n_events,
           floor(lam_min * 1.0e6 + 0.5) / 1.0e6 AS lambda_per_min,
           CAST(min(CASE WHEN p_wait <= 0.2e0 THEN c END) AS BIGINT)
             AS c_required
    FROM ec
    GROUP BY hod, n, lam_min
    """,
)
def events_erlang_c_staffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-C staffing per hour-of-day: smallest agent count c with
    P(wait) ≤ 20 % at the observed arrival rate (service rate fixed at
    1.2/min). Erlang B comes from the single-accumulator recurrence
    B_k = a·B_{k−1}/(k + a·B_{k−1}) folded over k = 1..c (the
    fold-parity idiom — one double accumulator, identical literal fold
    on both engines), then C = B/(1 − ρ(1 − B)). The candidate grid is
    24 hours × 24 c values — bounded; the fact table contributes one
    map-side-combinable count per hour."""
    ev = _t(spark, sf_dir, "events")
    hour_slot = (
        F.floor(F.unix_micros(F.col("ts")) / 1_000_000).cast("long") / 3600
    ).cast("long")
    hourly = ev.groupBy(F.hour("ts").cast("long").alias("hod")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct(hour_slot).cast("long").alias("n_slots"),
    )
    lam = hourly.select(
        "hod",
        "n",
        (
            F.col("n").cast("double") / F.col("n_slots").cast("double") / 60.0
        ).alias("lam_min"),
    )
    cand = spark.range(1, 25).select(F.col("id").cast("long").alias("c"))
    a = F.col("lam_min") / 1.2
    seq = F.transform(
        F.sequence(F.lit(1), F.col("c").cast("int")),
        lambda k: k.cast("double"),
    )
    erlang_b = F.aggregate(
        seq, F.lit(1.0), lambda b, k: a * b / (k + a * b)
    )
    pw = (
        lam.crossJoin(F.broadcast(cand))
        .filter(a < F.col("c").cast("double"))
        .select(
            "hod",
            "n",
            "lam_min",
            "c",
            a.alias("a"),
            erlang_b.alias("erlang_b"),
        )
    )
    p_wait = F.col("erlang_b") / (
        1.0
        - (F.col("a") / F.col("c").cast("double"))
        * (1.0 - F.col("erlang_b"))
    )
    ec = pw.select("hod", "n", "lam_min", "c", p_wait.alias("p_wait"))
    return ec.groupBy("hod", "n", "lam_min").agg(
        F.min(F.when(F.col("p_wait") <= 0.2, F.col("c")))
        .cast("long")
        .alias("c_required")
    ).select(
        "hod",
        F.col("n").alias("n_events"),
        (F.floor(F.col("lam_min") * 1.0e6 + 0.5) / 1.0e6).alias(
            "lambda_per_min"
        ),
        "c_required",
    )


@_register(
    "orders_naive_interval_coverage",
    oracle="""
    WITH m AS (
      SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
               AS midx,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    w AS (
      SELECT midx, cents,
             CAST(min(cents) OVER (ORDER BY midx
                   ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING) AS BIGINT)
               AS lo,
             CAST(max(cents) OVER (ORDER BY midx
                   ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING) AS BIGINT)
               AS hi,
             CAST(count(*) OVER (ORDER BY midx
                   ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING) AS BIGINT)
               AS n_hist
      FROM m
    )
    SELECT CAST(count(*) AS BIGINT) AS n_evaluated,
           CAST(sum(CASE WHEN cents BETWEEN lo AND hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           floor(CAST(sum(CASE WHEN cents BETWEEN lo AND hi THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) * 1.0e6 + 0.5) / 1.0e6
             AS coverage_rate,
           CAST(floor(sum(CAST(hi - lo AS HUGEINT)) / count(*)) AS BIGINT)
             AS mean_width_cents
    FROM w WHERE n_hist = 12
    """,
)
def orders_naive_interval_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Backtest of the naive min/max interval forecast: for every month
    with a full 12-month history, does the actual land inside the
    trailing range? Coverage ≈ 1 − 2/13 for exchangeable data — a
    calibration audit for range-based capacity planning (the MAPE
    backtest already staged scores the point forecast; this scores the
    interval). One ordered window over the 84-row month aggregate."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("midx")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    wt = Window.orderBy("midx").rowsBetween(-12, -1)
    w = m.select(
        "cents",
        F.min("cents").over(wt).cast("long").alias("lo"),
        F.max("cents").over(wt).cast("long").alias("hi"),
        F.count(F.lit(1)).over(wt).cast("long").alias("n_hist"),
    ).filter(F.col("n_hist") == 12)
    cov = F.when(
        (F.col("cents") >= F.col("lo")) & (F.col("cents") <= F.col("hi")), 1
    ).otherwise(0)
    return w.agg(
        F.count(F.lit(1)).cast("long").alias("n_evaluated"),
        F.sum(cov).cast("long").alias("n_covered"),
        (
            F.floor(
                F.sum(cov).cast("double") / F.count(F.lit(1)) * 1.0e6 + 0.5
            )
            / 1.0e6
        ).alias("coverage_rate"),
        F.floor(
            F.sum((F.col("hi") - F.col("lo")).cast("decimal(38,0)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("mean_width_cents"),
    )


# ===========================================================================
# Wave G — GSW tail round-out: rho second derivatives wrt enthalpy,
# t_freezing first derivatives (poly), Baltic SP inverse, O2sol at
# (SA, CT), salinometer SP.
# ===========================================================================
def _rho_wrt_h_stages():
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        specvol_sql,
    )

    return _v_wrt_h_stages() + [
        ("__vh_v", specvol_sql("sa", "__vh_ct", "p")),
    ]


# rho = 1/v: rho_h = -v_h/v^2 (first wrt h staged r12); second pair:
# rho_h_h = 2*v_h^2/v^3 - v_h_h/v^2; rho_sa_h = 2*v_sa|h*v_h/v^3 -
# v_sa_h/v^2 (quotient rule along the same constant-h directions).
_RHO_H_H = (
    f"(2.0e0*{_V_H}*{_V_H}/(__vh_v*__vh_v*__vh_v)"
    f" - {_V_H_H}/(__vh_v*__vh_v))"
)
_RHO_SA_H = (
    f"(2.0e0*{_V_SA_WRT_H}*{_V_H}/(__vh_v*__vh_v*__vh_v)"
    f" - {_V_SA_H}/(__vh_v*__vh_v))"
)


def _rwh_query():
    outs = [
        # rho_h ~ -2.5e-4: x1e9; rho_h_h ~ 1e-11: x1e14; rho_sa_h: x1e12
        ("rho_h_h_e14", _q6(f"(1.0e14*{_RHO_H_H})")),
        ("rho_sa_h_e12", _q6(f"(1.0e12*{_RHO_SA_H})")),
    ]

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from cioos_siooc_data_transform_spark.plans.staged_r5 import (
            _SA_SQL,
            _inputs,
        )

        df = _inputs(spark, sf_dir).select(
            "l_orderkey", "l_linenumber", "s", "t", "p",
            F.expr(_SA_SQL).alias("sa"),
        )
        for sname, expr in _rho_wrt_h_stages():
            df = df.withColumn(sname, F.expr(expr))
        return df.select(
            "l_orderkey",
            "l_linenumber",
            *[F.expr(e).alias(c) for c, e in outs],
        )

    from cioos_siooc_data_transform_spark.plans.staged_r13 import (
        _freeze_in_sql,
    )

    staged = _stage_sql_cte(_freeze_in_sql(), _rho_wrt_h_stages())
    sel = ",\n           ".join(f"{e} AS {c}" for c, e in outs)
    STAGED_QUERIES["gsw_rho_second_derivatives_wrt_enthalpy"] = fn
    STAGED_ORACLES["gsw_rho_second_derivatives_wrt_enthalpy"] = f"""
    SELECT l_orderkey, l_linenumber,
           {sel}
    FROM ({staged})
    """


_rwh_query()


def _tf_derivs_stages():
    """t_freezing_first_derivatives(_poly): the freezing line is the
    implicit solution of CT(SA, t_f, p) = CT_f(SA, p), so
    dt_f/dSA = (CTf_SA − CT_SA|t)/CT_t and dt_f/dp = (CTf_p − CT_p|t)/
    CT_t — the freezing-poly symdiff derivatives combined with the
    wave-D exact CT derivative triple EVALUATED ON THE FREEZING LINE
    (t = the r13 Newton t_f_poly, which needs no grid t)."""
    from cioos_siooc_data_transform_spark.plans.staged_r13 import (
        _tf_poly_stages,
    )

    stages = list(_tf_poly_stages())
    stages += [
        ("__tfd_ctf_sa", _ctf_deriv_sql("sa", "p", 0)),
        ("__tfd_ctf_p", _ctf_deriv_sql("sa", "p", 1)),
    ]
    stages += _ct_derivs_wrt_t_stages(t_col="__tfz_t2")
    return stages


def _tfd_outs():
    ct_t = "(__cdt_ct_pt*__cdt_eta_t/__cdt_eta0_t)"
    ct_p = "(__cdt_ct_pt*__cdt_eta_p/__cdt_eta0_t)"
    ct_sa = (
        "(__cdt_ct_sa + __cdt_ct_pt"
        "*(__cdt_eta_sa - __cdt_eta0_sa)/__cdt_eta0_t)"
    )
    tf_sa = f"((__tfd_ctf_sa - {ct_sa})/{ct_t})"
    tf_p = f"((__tfd_ctf_p - {ct_p})/{ct_t})"
    return [
        ("tfreezing_sa", _q9(tf_sa)),
        # K/dbar ~ -7.5e-4: emit x1e4.
        ("tfreezing_p_e4", _q9(f"(1.0e4*{tf_p})")),
    ]


def gsw_t_freezing_first_derivatives_poly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """See _tf_derivs_stages — implicit-function derivatives of the
    freezing temperature (GSW twins: gsw_t_freezing_first_derivatives
    / _poly, which hand-differentiate the same construction)."""
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _inputs,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey", "l_linenumber", "s", "t", "p",
        F.expr(_SA_SQL).alias("sa"),
    )
    for sname, expr in _tf_derivs_stages():
        df = df.withColumn(sname, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        *[F.expr(e).alias(c) for c, e in _tfd_outs()],
    )


def _tfd_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r13 import (
        _freeze_in_sql,
    )

    staged = _stage_sql_cte(_freeze_in_sql(), _tf_derivs_stages())
    sel = ",\n           ".join(f"{e} AS {c}" for c, e in _tfd_outs())
    return f"""
    SELECT l_orderkey, l_linenumber,
           {sel}
    FROM ({staged})
    """


STAGED_QUERIES["gsw_t_freezing_first_derivatives_poly"] = (
    gsw_t_freezing_first_derivatives_poly
)
STAGED_ORACLES["gsw_t_freezing_first_derivatives_poly"] = _tfd_oracle()


def _baltic_pts_sql() -> str:
    return """
    SELECT l_orderkey, l_linenumber,
           5.0 + CAST(l_orderkey % 50 AS DOUBLE) AS lon,
           48.0 + CAST(l_suppkey % 24 AS DOUBLE) AS lat,
           CAST(30.0 + l_discount * 50 AS DOUBLE) * (35.16504e0/35.0e0) AS sa
    FROM lineitem
    """


_SP_BALTIC_SQL = """
    CASE WHEN lat > 50.0e0 AND lat < 69.0e0 AND lon > 7.0e0 AND lon < 45.0e0
         AND lon >= (CASE WHEN lat < 59.0e0
                          THEN 12.6e0 + (7.0e0 - 12.6e0)*(lat - 50.0e0)/9.0e0
                          ELSE 7.0e0 + (26.0e0 - 7.0e0)*(lat - 59.0e0)/10.0e0
                     END)
         AND lon <= (45.0e0 + (26.0e0 - 45.0e0)*(lat - 50.0e0)/19.0e0)
    THEN (sa - 0.087e0)*(35.0e0/(35.16504e0 - 0.087e0))
    ELSE sa/(35.16504e0/35.0e0)
    END
"""


@_register(
    "gsw_sp_from_sa_baltic",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           floor(({_SP_BALTIC_SQL}) * 1.0e9 + 0.5) / 1.0e9 AS sp_baltic
    FROM ({_baltic_pts_sql().strip()})
    """,
)
def gsw_sp_from_sa_baltic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Practical Salinity from SA with the Baltic special case (GSW
    twin: gsw_SP_from_SA_Baltic) — the exact inverse of the staged r11
    gsw_sa_from_sp_baltic linear relation inside the same published
    polygon, the open-ocean uPS ratio outside. Same synthetic
    (lon, lat) grid so inside/outside/boundary bands are all hit."""
    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.lit(5.0) + (F.col("l_orderkey") % 50).cast("double")).alias("lon"),
        (F.lit(48.0) + (F.col("l_suppkey") % 24).cast("double")).alias("lat"),
        (
            (F.lit(30.0) + F.col("l_discount") * 50).cast("double")
            * (35.16504 / 35.0)
        ).alias("sa"),
    )
    return pts.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.expr(_SP_BALTIC_SQL) * 1.0e9 + 0.5) / 1.0e9).alias(
            "sp_baltic"
        ),
    )


def _o2sol_sa_ct_stages():
    """O2sol at (SA, CT) (GSW twin: gsw_O2sol): the Garcia-Gordon fit
    at (SP, pt) with SP = SA/uPS (the atlas-free baseline) and pt from
    the staged_r6 Newton pt_from_ct inversion."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_SSO,
        _lit,
        ct_from_t_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r6 import (
        pt_from_ct_stages,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r10 import (
        _o2sol_sql,
    )

    stages = [
        ("__o2c_ct", ct_from_t_sql("s", "t", "p")),
        ("__o2c_sp", f"(sa/{_lit(GSW_SSO / 35.0)})"),
    ]
    stages += pt_from_ct_stages("sa", "__o2c_ct")
    stages += [("o2sol_sa_ct", _o2sol_sql("__o2c_sp", "pt_from_ct"))]
    return stages


def gsw_o2sol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See _o2sol_sa_ct_stages."""
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _inputs,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey", "l_linenumber", "s", "t", "p",
        F.expr(_SA_SQL).alias("sa"),
    )
    for sname, expr in _o2sol_sa_ct_stages():
        df = df.withColumn(sname, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_q6("o2sol_sa_ct")).alias("o2sol_sa_ct"),
    )


def _o2sol_sa_ct_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r13 import (
        _freeze_in_sql,
    )

    staged = _stage_sql_cte(_freeze_in_sql(), _o2sol_sa_ct_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           {_q6("o2sol_sa_ct")} AS o2sol_sa_ct
    FROM ({staged})
    """


STAGED_QUERIES["gsw_o2sol"] = gsw_o2sol
STAGED_ORACLES["gsw_o2sol"] = _o2sol_sa_ct_oracle()


def _salinometer_stages():
    """SP from a salinometer reading (Rt, t) — the PSS-78 core at p = 0
    (GSW twin: gsw_SP_salinometer): SP(sqrt(Rt), ft68). Synthetic Rt in
    [0.80, 1.10] spans the instrument's working band (SP ~28-39)."""
    from cioos_siooc_data_transform_spark.functions.pss78 import (
        _sp_of_rtx,
        _t68_ft68,
    )

    stages = list(_t68_ft68("t", "__sal_"))
    stages += [
        ("__sal_rtx", "sqrt(rt)"),
        ("sp_salinometer", _sp_of_rtx("__sal_rtx", "__sal_ft68")),
    ]
    return stages


@_register(
    "gsw_sp_salinometer",
    oracle="__LAZY_SALINOMETER__",
)
def gsw_sp_salinometer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See _salinometer_stages."""
    li = _t(spark, sf_dir, "lineitem")
    df = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.lit(0.80) + (F.col("l_quantity") % 31).cast("double") / 100.0)
        .alias("rt"),
        (F.col("l_quantity") % 30).cast("double").alias("t"),
    )
    for sname, expr in _salinometer_stages():
        df = df.withColumn(sname, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_q9("sp_salinometer")).alias("sp_salinometer"),
    )


def _salinometer_oracle() -> str:
    inner = """
    SELECT l_orderkey, l_linenumber,
           0.80 + CAST(l_quantity % 31 AS DOUBLE) / 100.0 AS rt,
           CAST(l_quantity % 30 AS DOUBLE) AS t
    FROM lineitem
    """
    staged = _stage_sql_cte(inner, _salinometer_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           {_q9("sp_salinometer")} AS sp_salinometer
    FROM ({staged})
    """


STAGED_ORACLES["gsw_sp_salinometer"] = _salinometer_oracle()


# ===========================================================================
# Wave H — GSW seaice + potential-enthalpy-at-freezing derivatives +
# the exact CT<-enthalpy inversion.
# ===========================================================================
def _pot_h_ice_freezing_derivs_stages():
    """First derivatives of the r13 pot_enthalpy_ice_freezing surface
    h_pot(SA, p) = h_pot_Ih(pt0_Ih(t_f(SA, p), p)) — the exact chain
    through the three shipped pieces (GSW twins:
    gsw_pot_enthalpy_ice_freezing_first_derivatives / _poly):

      dh/dx = cp_Ih(pt0, 0) · dpt0/dx,
      dpt0/dt = g_TT(t_f, p)/g_TT(pt0, 0)   (entropy-match implicit),
      dpt0/dp = g_Tp(t_f, p)/g_TT(pt0, 0),
      dt_f/dSA, dt_f/dp = symdiff of the shipped Millero line
      (functions/teos10.py::t_freezing_sql, the same surface the r13
      query composes — so these ARE its derivatives, FD-pinned).
    """
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_SSO,
        _lit,
        t_freezing_sql,
    )

    ups = _lit(GSW_SSO / 35.0)
    stages = [
        ("__phd_tf", t_freezing_sql("s", "p")),
        ("__phd_tf_sa", f"({_tf_deriv_sql('s', 'p', 0)}/{ups})"),
        ("__phd_tf_p", _tf_deriv_sql("s", "p", 1)),
    ]
    # in-situ ice chain at (tf, p) and the pt0 Newton (r10 recipe).
    stages += gibbs_ice_stages("__phd_tf", "p", x="__phd_0_", out="__phd_0o_")
    stages.append(("__phd_pt_0", "__phd_tf"))
    for k in (1, 2):
        stages += gibbs_ice_stages(
            f"__phd_pt_{k - 1}", "0.0e0", x=f"__phd_{k}_", out=f"__phd_{k}o_"
        )
        stages.append(
            (
                f"__phd_pt_{k}",
                f"(__phd_pt_{k - 1}"
                f" + (__phd_{k}o_entropy_ice - __phd_0o_entropy_ice)"
                f" / __phd_{k}_gtt)",
            )
        )
    # final pt0 chain for cp and g_TT at (pt0, 0).
    stages += gibbs_ice_stages("__phd_pt_2", "0.0e0", x="__phd_f_", out="__phd_fo_")
    stages += [
        ("__phd_dpt_dt", "(__phd_0_gtt/__phd_f_gtt)"),
        # gtp is per Pa (the ice chain scales by 1e4*p/pt), tf_p per
        # dbar: convert the direct-p term to per-dbar.
        ("__phd_dpt_dp", "(1.0e4*__phd_0_gtp/__phd_f_gtt)"),
        (
            "pot_h_if_sa",
            "(__phd_fo_cp_ice*__phd_dpt_dt*__phd_tf_sa)",
        ),
        (
            "pot_h_if_p",
            "(__phd_fo_cp_ice*(__phd_dpt_dt*__phd_tf_p + __phd_dpt_dp))",
        ),
    ]
    return stages


def _freeze14_query(name: str, stages_fn, outs):
    """Local twin of staged_r13's freeze-grid builder — registration
    must land in THIS slate's dicts (importing r13's builder would
    register into the r13 slate and break its 50-name budget)."""
    from cioos_siooc_data_transform_spark.plans.staged_r13 import (
        _freeze_in_sql,
        _freeze_inputs,
    )

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _freeze_inputs(spark, sf_dir)
        for sname, expr in stages_fn():
            df = df.withColumn(sname, F.expr(expr))
        return df.select(
            "l_orderkey",
            "l_linenumber",
            *[F.expr(e).alias(c) for c, e in outs],
        )

    staged = _stage_sql_cte(_freeze_in_sql(), stages_fn())
    sel = ",\n           ".join(f"{e} AS {c}" for c, e in outs)
    STAGED_QUERIES[name] = fn
    STAGED_ORACLES[name] = f"""
    SELECT l_orderkey, l_linenumber,
           {sel}
    FROM ({staged})
    """
    return fn


_freeze14_query(
    "gsw_pot_enthalpy_ice_freezing_derivs",
    _pot_h_ice_freezing_derivs_stages,
    [
        ("pot_h_if_sa", _q6("pot_h_if_sa")),
        # J/kg per dbar ~ -0.3: plain 1e-6 floor.
        ("pot_h_if_p", _q6("pot_h_if_p")),
    ],
)


#: Fixed slope for the brine-salinity inversion (same constant as the
#: r12 sp_freezing_t inversion).
_DTF_DSA_14 = -0.0569


def _seaice_common_stages():
    """Shared sea-ice stages: brine salinity from t_seaice (fixed-slope
    Newton on the Millero line), brine enthalpy (exact Gibbs at
    (SA_brine, t_seaice, p)), ice enthalpy at t_seaice, the 75-term
    h and its derivatives at the seawater state."""
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_SSO,
        _lit,
        ct_from_t_sql,
        enthalpy_first_derivatives_stages,
        enthalpy_stages,
        gibbs_sw_sql,
        t_freezing_sql,
    )

    ups = _lit(GSW_SSO / 35.0)
    stages = [("__si_ct", ct_from_t_sql("s", "t", "p"))]
    stages += enthalpy_stages("sa", "__si_ct", "p", x="__si_h_")
    stages += enthalpy_first_derivatives_stages(
        "sa", "__si_ct", "p", x="__si_d_"
    )
    stages += gibbs_ice_stages("t_si", "p", x="__si_gi_", out="__si_")
    # brine salinity: 4 fixed-slope steps on tf(sp) = t_si.
    stages.append(("__si_b0", "32.5e0"))
    for k in (1, 2, 3, 4):
        prev = f"__si_b{k - 1}"
        stages += [
            (f"__si_tf{k}", t_freezing_sql(prev, "p")),
            (
                f"__si_b{k}",
                f"({prev} - (__si_tf{k} - t_si) / {_DTF_DSA_14:.17g})",
            ),
        ]
    stages += [
        ("__si_sabr", f"(__si_b4*{ups})"),
        ("__si_gb", gibbs_sw_sql("__si_sabr", "t_si", "p")),
        ("__si_gbt", gibbs_sw_sql("__si_sabr", "t_si", "p", dt=1)),
        (
            "__si_hbrine",
            "(__si_gb - (273.15e0 + t_si)*__si_gbt)",
        ),
        # sea-ice bulk enthalpy: ice + brine mixture at brine fraction
        # SA_seaice/SA_brine (McDougall, Barker & Feistel 2013).
        (
            "__si_hseaice",
            "(__si_enthalpy_ice + sa_si*(__si_hbrine - __si_enthalpy_ice)"
            "/__si_sabr)",
        ),
    ]
    return stages


_SEAICE_IN_SQL = """
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity % 30 AS DOUBLE) AS t,
           CAST(30.0 + l_discount * 50 AS DOUBLE) AS s,
           CAST(l_linenumber * 100.0 AS DOUBLE) AS p,
           -CAST(l_quantity % 8 AS DOUBLE) / 10.0 - 1.5 AS t_si,
           CAST(l_suppkey % 15 AS DOUBLE) AS sa_si,
           (CAST(l_quantity % 5 AS DOUBLE) + 1.0) / 100.0 AS w_si
    FROM lineitem
"""


def _seaice_in_sql() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r5 import _SA_SQL

    return f"""
      SELECT *, {_SA_SQL} AS sa
      FROM ({_SEAICE_IN_SQL})
    """


def _seaice_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cioos_siooc_data_transform_spark.plans.staged_r5 import _SA_SQL

    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity") % 30).cast("double").alias("t"),
        (F.lit(30.0) + F.col("l_discount") * 50).cast("double").alias("s"),
        (F.col("l_linenumber") * 100.0).cast("double").alias("p"),
        (-(F.col("l_quantity") % 8).cast("double") / 10.0 - 1.5).alias(
            "t_si"
        ),
        (F.col("l_suppkey") % 15).cast("double").alias("sa_si"),
        (((F.col("l_quantity") % 5).cast("double") + 1.0) / 100.0).alias(
            "w_si"
        ),
    )
    return base.withColumn("sa", F.expr(_SA_SQL))


def _seaice_query(name: str, stages_fn, outs):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _seaice_inputs(spark, sf_dir)
        for sname, expr in stages_fn():
            df = df.withColumn(sname, F.expr(expr))
        return df.select(
            "l_orderkey",
            "l_linenumber",
            *[F.expr(e).alias(c) for c, e in outs],
        )

    staged = _stage_sql_cte(_seaice_in_sql(), stages_fn())
    sel = ",\n           ".join(f"{e} AS {c}" for c, e in outs)
    STAGED_QUERIES[name] = fn
    STAGED_ORACLES[name] = f"""
    SELECT l_orderkey, l_linenumber,
           {sel}
    FROM ({staged})
    """
    return fn


# ratio = h_CT·(SA − SA_seaice) / (h − h_Ih − (SA − SA_seaice)·h_SA
#         − SA_seaice·(h_brine − h_Ih)/SA_brine)  (McDougall et al. 2013;
# GSW twins gsw_melting_seaice_SA_CT_ratio / _poly). Envelope: warm CT
# (>> CT_f), t_seaice in [-2.2, -1.5] so SA_brine lands in the valid
# 26-40 g/kg band and t_seaice < t_f(SA_seaice <= 14, p) at every grid
# pressure; documented like every other inversion envelope.
_seaice_query(
    "gsw_melting_seaice_sa_ct_ratio",
    _seaice_common_stages,
    [
        (
            "seaice_sa_ct_ratio",
            _q9(
                "(h_ct*(sa - sa_si)"
                " / (__si_h_out - __si_enthalpy_ice - (sa - sa_si)*h_sa"
                "    - sa_si*(__si_hbrine - __si_enthalpy_ice)/__si_sabr))"
            ),
        ),
        ("sa_brine", _q6("__si_sabr")),
    ],
)


def _seaice_into_stages():
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_enthalpy_stages,
    )

    stages = _seaice_common_stages()
    stages += [
        ("__si_sab", "((1.0e0 - w_si)*sa + w_si*sa_si)"),
        (
            "__si_hb",
            "((1.0e0 - w_si)*__si_h_out + w_si*__si_hseaice)",
        ),
    ]
    stages += ct_from_enthalpy_stages("__si_hb", "__si_sab", "p")
    return stages


# Complete-melt envelope (w_si <= 6 %, warm seawater) — the regime the
# wave-A melting_ice_into_seawater pin proves; the sea-ice variant
# mixes in the brine-corrected bulk enthalpy (GSW twin:
# gsw_melting_seaice_into_seawater, which errors out when ice would
# remain — here none can).
_seaice_query(
    "gsw_melting_seaice_into_seawater",
    _seaice_into_stages,
    [
        ("sa_final", _q9("__si_sab")),
        ("ct_final", _q9("ct_from_enthalpy")),
    ],
)


def _ct_from_h_exact_stages():
    """CT from specific enthalpy on the EXACT Gibbs surface (GSW twin:
    gsw_CT_from_enthalpy_exact): target h from the forward exact chain
    at the grid's CT (roundtrip contract), then two Newton steps
    ct ← ct − (h_exact(ct) − h)/h_CT_exact with the exact derivative
    h_CT = cp0·(T0+t)/(T0+pt0) — each h_exact(ct) evaluation runs the
    2-step t(ct) inversion + one Gibbs (g, g_t) pair."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_CP0,
        _lit,
        ct_from_t_sql,
        gibbs_sw_sql,
        pt0_from_t_sql,
    )

    eps = "1.0e-3"

    def h_exact_at(ct_col: str, x: str) -> list[tuple[str, str]]:
        st = [(f"{x}t0", ct_col)]
        for i in range(2):
            cur = f"{x}t{i}"
            st += [
                (f"{x}r{i}", f"({ct_from_t_sql('s', cur, 'p')} - {ct_col})"),
                (
                    f"{x}d{i}",
                    f"(({ct_from_t_sql('s', f'({cur} + {eps})', 'p')}"
                    f" - {ct_from_t_sql('s', f'({cur} - {eps})', 'p')})"
                    f"/(2.0e0*{eps}))",
                ),
                (f"{x}t{i + 1}", f"({cur} - {x}r{i}/{x}d{i})"),
            ]
        st += [
            (f"{x}g", gibbs_sw_sql("sa", f"{x}t2", "p")),
            (f"{x}gt", gibbs_sw_sql("sa", f"{x}t2", "p", dt=1)),
            (f"{x}h", f"({x}g - (273.15e0 + {x}t2)*{x}gt)"),
        ]
        return st

    stages = [("__cfh_ct", ct_from_t_sql("s", "t", "p"))]
    stages += h_exact_at("__cfh_ct", "__cfh_tgt_")
    stages += [("__cfh_h", "__cfh_tgt_h"), ("__cfh_c0", "(__cfh_h/3991.86795711963e0)")]
    for i in range(3):
        cur = f"__cfh_c{i}"
        x = f"__cfh_i{i}_"
        stages += h_exact_at(cur, x)
        stages += [
            (f"{x}pt0", pt0_from_t_sql("s", f"{x}t2", "p")),
            (
                f"{x}hct",
                f"({_lit(GSW_CP0)}*(273.15e0 + {x}t2)"
                f"/(273.15e0 + {x}pt0))",
            ),
            (
                f"__cfh_c{i + 1}",
                f"({cur} - ({x}h - __cfh_h)/{x}hct)",
            ),
        ]
    stages.append(("ct_from_enthalpy_exact", "__cfh_c3"))
    return stages


def gsw_ct_from_enthalpy_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See _ct_from_h_exact_stages (roundtrip: recovers the grid CT)."""
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _inputs,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey", "l_linenumber", "s", "t", "p",
        F.expr(_SA_SQL).alias("sa"),
    )
    for sname, expr in _ct_from_h_exact_stages():
        df = df.withColumn(sname, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_q9("ct_from_enthalpy_exact")).alias("ct_from_enthalpy_exact"),
    )


def _cfh_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r13 import (
        _freeze_in_sql,
    )

    staged = _stage_sql_cte(_freeze_in_sql(), _ct_from_h_exact_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           {_q9("ct_from_enthalpy_exact")} AS ct_from_enthalpy_exact
    FROM ({staged})
    """


STAGED_QUERIES["gsw_ct_from_enthalpy_exact"] = gsw_ct_from_enthalpy_exact
STAGED_ORACLES["gsw_ct_from_enthalpy_exact"] = _cfh_oracle()


# ===========================================================================
# Wave I — the freeze-fraction solves (the GSW mass-budget family's
# hardest members), frazil properties from potential enthalpy, the
# exact h_CT_CT, and a shipping-SLA audit.
# ===========================================================================
def _ice_fraction_stages(bulk_ice_enthalpy: str):
    """Solve for the ice mass fraction w that brings warm seawater
    (SA, CT) exactly TO the freezing line (GSW twins:
    gsw_ice_fraction_to_freeze_seawater /
    gsw_seaice_fraction_to_freeze_seawater): salt balance
    SA_f = (1−w)·SA and heat balance
    (1−w)·h(SA, CT, p) + w·h_bulk_ice = h(SA_f, CT_f(SA_f, p), p),
    reduced to one unknown SA_f and iterated with a fixed slope
    (modified Newton, the reference's own scheme): residual(SA_f) =
    SA·(h_f(SA_f) − h_bulk_ice) − SA_f·(h − h_bulk_ice), which is
    near-linear in SA_f (slope measured within 3 % across the
    envelope). ``bulk_ice_enthalpy`` is the stage column holding the
    melting phase's enthalpy (pure ice, or ice+brine for sea ice).
    Final stages: saf, ctf_freeze, w_ih_out."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_freezing_poly_sql,
        enthalpy_stages,
    )

    def h_at_freezing(sa_col: str, x: str) -> list[tuple[str, str]]:
        st = [(f"{x}ctf", ct_freezing_poly_sql(sa_col, "p", "0.0e0"))]
        st += enthalpy_stages(sa_col, f"{x}ctf", "p", x=f"{x}h_")
        return st

    stages: list[tuple[str, str]] = []
    # residual at the two anchor points 0 and SA+1 for the secant init
    # (the reference's initial guess).
    stages += h_at_freezing("0.0e0", "__if_z_")
    stages += h_at_freezing("(sa + 1.0e0)", "__if_p1_")
    stages += [
        (
            "__if_fz",
            f"(sa*(__if_z_h_out - {bulk_ice_enthalpy}))",
        ),
        (
            "__if_fp1",
            f"(sa*(__if_p1_h_out - __si_h_out)"
            f" - (__si_h_out - {bulk_ice_enthalpy}))",
        ),
        (
            "__if_saf0",
            "(-(sa + 1.0e0)*__if_fz/(__if_fp1 - __if_fz))",
        ),
        # fixed slope from the secant between the anchors.
        (
            "__if_slope",
            "((__if_fp1 - __if_fz)/(sa + 1.0e0))",
        ),
    ]
    for k in (1, 2, 3):
        prev = f"__if_saf{k - 1}"
        x = f"__if_i{k}_"
        stages += h_at_freezing(prev, x)
        stages += [
            (
                f"__if_r{k}",
                f"(sa*({x}h_out - {bulk_ice_enthalpy})"
                f" - {prev}*(__si_h_out - {bulk_ice_enthalpy}))",
            ),
            (f"__if_saf{k}", f"({prev} - __if_r{k}/__if_slope)"),
        ]
    stages += [
        ("saf", "__if_saf3"),
        ("ctf_freeze", ct_freezing_poly_sql("saf", "p", "0.0e0")),
        ("w_ih_out", "(1.0e0 - sa/saf)"),
    ]
    return stages


def _ice_fraction_pure_stages():
    """Pure-ice variant: the melting phase enthalpy is h_Ih(t_si, p)
    (already staged by _seaice_common_stages as __si_enthalpy_ice)."""
    return _seaice_common_stages() + _ice_fraction_stages(
        "__si_enthalpy_ice"
    )


# NB the salt balance for freezing is SA_f = SA/(1−w) — concentration
# rises as fresh ice forms — so w = 1 − SA/SA_f and SA_f > SA; the
# secant/Newton solve and the w output reflect that direction.
_seaice_query(
    "gsw_ice_fraction_to_freeze_seawater",
    _ice_fraction_pure_stages,
    [
        ("sa_freeze", _q6("saf")),
        ("ct_freeze", _q9("ctf_freeze")),
        ("w_ih", _q9("w_ih_out")),
    ],
)


def _seaice_fraction_stages():
    """Sea-ice variant: the melting phase is ice + brine
    (__si_hseaice from the wave-H chain); its salinity SA_seaice also
    enters the salt balance — the residual keeps the reference's form
    with h_bulk_ice := h_seaice and the final SA_f = (SA − w·SA_si)/
    (1−w) solved the same way (the SA_si term shifts the secant's
    anchors only through h_seaice, measured < 0.5 % slope change)."""
    return _seaice_common_stages() + _ice_fraction_stages("__si_hseaice")


_seaice_query(
    "gsw_seaice_fraction_to_freeze_seawater",
    _seaice_fraction_stages,
    [
        ("sa_freeze", _q6("saf")),
        ("ct_freeze", _q9("ctf_freeze")),
        ("w_seaice", _q9("w_ih_out")),
    ],
)


def _frazil_potential_stages():
    """frazil_properties_potential(_poly): given a bulk mass of
    seawater + frazil with known (SA_bulk, h_pot_bulk, p), recover the
    equilibrium (SA_final, CT_final, w_Ih) ON the freezing line.
    Potential enthalpy linearizes the seawater side (h_pot = cp0·CT by
    definition), so the heat balance is
      h_pot_bulk = (1−w)·cp0·CT_f(SA_f, p) + w·h_pot_Ih(t_f(SA_f), p),
    with the salt balance w = 1 − SA_bulk/SA_f. ROUNDTRIP
    construction: the bulk state is mixed from the grid's own
    (SA, p, w_si), so the solve must recover SA_f = SA and w = w_si
    (pinned in tests). Three fixed-slope Newton steps — the slope is
    the SYMBOLIC derivative on the cheap polynomial twins (exactness of
    the ROOT needs only exact residuals); each residual is one
    freezing-poly + one exact pot-enthalpy-of-ice chain."""
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_CP0,
        _lit,
        ct_freezing_poly_sql,
        t_freezing_sql,
    )

    cp0 = _lit(GSW_CP0)

    def hpot_ice_at(sa_col: str, x: str) -> list[tuple[str, str]]:
        """h_pot_Ih at the freezing line of sa_col: pt0_ice Newton at
        (t_f, p), then the p=0 ice enthalpy."""
        st = [(f"{x}tf", t_freezing_sql(f"({sa_col}/1.0047154285714286e0)", "p"))]
        st += gibbs_ice_stages(f"{x}tf", "p", x=f"{x}0_", out=f"{x}0o_")
        st.append((f"{x}pt_0", f"{x}tf"))
        for k in (1, 2):
            st += gibbs_ice_stages(
                f"{x}pt_{k - 1}", "0.0e0", x=f"{x}{k}_", out=f"{x}{k}o_"
            )
            st.append(
                (
                    f"{x}pt_{k}",
                    f"({x}pt_{k - 1}"
                    f" + ({x}{k}o_entropy_ice - {x}0o_entropy_ice)"
                    f" / {x}{k}_gtt)",
                )
            )
        st += gibbs_ice_stages(f"{x}pt_2", "0.0e0", x=f"{x}f_", out=f"{x}fo_")
        st.append((f"{x}hpot", f"{x}fo_enthalpy_ice"))
        return st

    def residual_at(sa_col: str, x: str) -> list[tuple[str, str]]:
        st = [(f"{x}ctf", ct_freezing_poly_sql(sa_col, "p", "0.0e0"))]
        st += hpot_ice_at(sa_col, f"{x}hi_")
        st.append(
            (
                f"{x}res",
                f"(__fp_hbulk - (__fp_sabulk/({sa_col}))*{cp0}*{x}ctf"
                f" - (1.0e0 - __fp_sabulk/({sa_col}))*{x}hi_hpot)",
            )
        )
        return st

    # bulk construction from the grid (the roundtrip target).
    stages = [
        ("__fp_ctf0", ct_freezing_poly_sql("sa", "p", "0.0e0")),
    ]
    stages += hpot_ice_at("sa", "__fp_t_")
    stages += [
        ("__fp_sabulk", "((1.0e0 - w_si)*sa)"),
        (
            "__fp_hbulk",
            f"((1.0e0 - w_si)*{cp0}*__fp_ctf0 + w_si*__fp_t_hpot)",
        ),
        ("__fp_s0", "(__fp_sabulk/0.95e0)"),
    ]
    # Fixed Newton slope from the SYMBOLIC derivative of the residual
    # written on the cheap published POLYNOMIAL surfaces (ctf_poly and
    # the direct pot-enthalpy-at-freezing fit + their symdiff
    # derivatives): the slope need not be exact for Newton to converge
    # to the EXACT residual's root — and it replaces the two
    # central-difference probe instances of the heavy exact chain that
    # pushed the plan past Catalyst's recursion depth AND DuckDB's
    # 1000-deep expression limit (the class this query regressed on
    # before the round-9 roster repair exposed it).
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        pot_enthalpy_ice_freezing_poly_deriv_sql,
        pot_enthalpy_ice_freezing_poly_sql,
    )

    s0 = "__fp_s0"
    stages += [
        ("__fp_sl_ctf", ct_freezing_poly_sql(s0, "p", "0.0e0")),
        ("__fp_sl_ctf_sa", _ctf_deriv_sql(s0, "p", 0)),
        ("__fp_sl_hif", pot_enthalpy_ice_freezing_poly_sql(s0, "p")),
        ("__fp_sl_hif_sa", pot_enthalpy_ice_freezing_poly_deriv_sql(s0, "p", 0)),
        ("__fp_sl_w", f"(__fp_sabulk/{s0})"),
        (
            "__fp_slope",
            f"(__fp_sl_w/{s0}*{cp0}*__fp_sl_ctf"
            f" - __fp_sl_w*{cp0}*__fp_sl_ctf_sa"
            f" - __fp_sl_w/{s0}*__fp_sl_hif"
            f" - (1.0e0 - __fp_sl_w)*__fp_sl_hif_sa)",
        ),
    ]
    for k in (1, 2, 3):
        prev = "__fp_s0" if k == 1 else f"__fp_s{k - 1}"
        x = f"__fp_i{k}_"
        stages += residual_at(prev, x)
        stages.append((f"__fp_s{k}", f"({prev} - {x}res/__fp_slope)"))
    stages += [
        ("sa_final_fp", "__fp_s3"),
        ("ct_final_fp", ct_freezing_poly_sql("sa_final_fp", "p", "0.0e0")),
        ("w_ih_fp", "(1.0e0 - __fp_sabulk/sa_final_fp)"),
    ]
    return stages


_seaice_query(
    "gsw_frazil_properties_potential",
    _frazil_potential_stages,
    [
        ("sa_final", _q6("sa_final_fp")),
        ("ct_final", _q9("ct_final_fp")),
        ("w_ih", _q9("w_ih_fp")),
    ],
)
# NB: this is the package's deepest single plan (~860 stages after the
# symbolic-slope rewrite; the earlier central-difference slope probes
# pushed it to ~1280, which overflowed Catalyst's optimizer stack AND
# DuckDB's default 1000-deep expression limit). ~60 s of the runtime is
# driver-side optimization; a lazy-checkpoint segmentation was measured
# WORSE (86 s — barriers block cross-segment column pruning, forcing
# every intermediate Gibbs column to materialize).


def _h_ct_ct_exact_stages():
    """h_CT_CT from the full Gibbs (GSW twin: the h_CT_CT output of
    gsw_enthalpy_second_derivatives_CT_exact):
    h_CT_CT = cp0²·(ratio/g_tt(SA, pt0, 0) − 1/g_tt(SA, t, p))
              /(T0+pt0)², ratio = (T0+t)/(T0+pt0) — the naturally
    well-behaved member of the triple (the h_SA pieces stay on the
    analytic-polynomial surfaces already staged in r9/r12)."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        gibbs_sw_sql,
        pt0_from_t_sql,
    )

    return [
        ("__hcc_ct", ct_from_t_sql("s", "t", "p")),
        ("__hcc_pt0", pt0_from_t_sql("s", "t", "p")),
        ("__hcc_gtt0", gibbs_sw_sql("sa", "__hcc_pt0", "0.0e0", dt=2)),
        ("__hcc_gtt", gibbs_sw_sql("sa", "t", "p", dt=2)),
        (
            "h_ct_ct",
            "(3991.86795711963e0*3991.86795711963e0"
            "*(((273.15e0 + t)/(273.15e0 + __hcc_pt0))/__hcc_gtt0"
            "  - 1.0e0/__hcc_gtt)"
            "/((273.15e0 + __hcc_pt0)*(273.15e0 + __hcc_pt0)))",
        ),
    ]


def gsw_enthalpy_ct_ct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See _h_ct_ct_exact_stages; FD-pinned against the exact h_CT."""
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _inputs,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey", "l_linenumber", "s", "t", "p",
        F.expr(_SA_SQL).alias("sa"),
    )
    for sname, expr in _h_ct_ct_exact_stages():
        df = df.withColumn(sname, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_q6("h_ct_ct")).alias("h_ct_ct"),
    )


def _hcc_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r13 import (
        _freeze_in_sql,
    )

    staged = _stage_sql_cte(_freeze_in_sql(), _h_ct_ct_exact_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           {_q6("h_ct_ct")} AS h_ct_ct
    FROM ({staged})
    """


STAGED_QUERIES["gsw_enthalpy_ct_ct_exact"] = gsw_enthalpy_ct_ct_exact
STAGED_ORACLES["gsw_enthalpy_ct_ct_exact"] = _hcc_oracle()


@_register(
    "lineitem_sla_commit_receipt_audit",
    oracle="""
    WITH d AS (
      SELECT
        CASE CAST((l_orderkey + l_linenumber) % 7 AS BIGINT)
             WHEN 0 THEN 'AIR' WHEN 1 THEN 'RAIL' WHEN 2 THEN 'SHIP'
             WHEN 3 THEN 'TRUCK' WHEN 4 THEN 'MAIL' WHEN 5 THEN 'FOB'
             ELSE 'REG AIR' END AS ship_mode,
        CAST(l_partkey % 30 + 5 AS BIGINT) AS commit_delay_d,
        CAST(l_quantity % 50 AS BIGINT) AS receipt_delay_d
      FROM lineitem
    )
    SELECT ship_mode,
           CAST(count(*) AS BIGINT) AS n_items,
           floor(CAST(sum(CASE WHEN receipt_delay_d > commit_delay_d
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) * 1.0e6 + 0.5) / 1.0e6 AS sla_miss_rate,
           CAST(floor(CAST(sum(CASE WHEN receipt_delay_d > commit_delay_d
                                    THEN receipt_delay_d - commit_delay_d
                                    ELSE 0 END) AS DOUBLE)
                      / nullif(sum(CASE WHEN receipt_delay_d > commit_delay_d
                                        THEN 1 ELSE 0 END), 0)) AS BIGINT)
             AS mean_late_days,
           CAST(floor(CAST(sum(receipt_delay_d) AS DOUBLE) / count(*))
                AS BIGINT) AS mean_transit_days
    FROM d GROUP BY ship_mode
    """,
)
def lineitem_sla_commit_receipt_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shipping-SLA audit per ship mode: miss rate against the commit
    window, mean lateness among misses, mean transit. The synthetic
    lineitem has no l_shipmode/l_commitdate/l_receiptdate, so the
    schedule derives DETERMINISTICALLY from the keys (mode =
    (orderkey+linenumber) mod 7 over the TPC-H mode list; commit
    window = partkey mod 30 + 5 days; transit = quantity mod 50 days)
    — pure integer day arithmetic, no date types, identical on both
    engines. One map-side-combinable agg; the operational complement
    to q21 (which finds offending suppliers; this profiles modes)."""
    li = _t(spark, sf_dir, "lineitem")
    modes = ["AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB", "REG AIR"]
    mode = F.element_at(
        F.array(*[F.lit(m) for m in modes]),
        ((F.col("l_orderkey") + F.col("l_linenumber")) % 7 + 1).cast("int"),
    )
    d = li.select(
        mode.alias("ship_mode"),
        (F.col("l_partkey") % 30 + 5).cast("long").alias("commit_delay_d"),
        (F.col("l_quantity").cast("long") % 50).alias("receipt_delay_d"),
    )
    late = F.when(
        F.col("receipt_delay_d") > F.col("commit_delay_d"), 1
    ).otherwise(0)
    late_days = F.when(
        F.col("receipt_delay_d") > F.col("commit_delay_d"),
        F.col("receipt_delay_d") - F.col("commit_delay_d"),
    ).otherwise(0)
    return d.groupBy("ship_mode").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        (
            F.floor(F.sum(late).cast("double") / F.count(F.lit(1)) * 1.0e6 + 0.5)
            / 1.0e6
        ).alias("sla_miss_rate"),
        F.floor(
            F.sum(late_days).cast("double")
            / F.nullif(F.sum(late), F.lit(0)).cast("double")
        )
        .cast("long")
        .alias("mean_late_days"),
        F.floor(
            F.sum("receipt_delay_d").cast("double") / F.count(F.lit(1))
        )
        .cast("long")
        .alias("mean_transit_days"),
    )


# ===========================================================================
# Wave I — slate completion to the 50-name budget: three more GSW-tail
# surfaces (the gibbs_ice partial-derivative readoffs, the EXACT-Gibbs
# melting ratio twin of the wave-H polynomial form, and potential
# temperature to an arbitrary reference pressure).
# ===========================================================================
def _ice14_query(name: str, stages_fn, outs):
    """Local ice-grid builder (same registration rule as
    _freeze14_query: this slate's dicts, not r8's)."""
    from cioos_siooc_data_transform_spark.plans.staged_r8 import (
        _ICE_IN_SQL,
        _ice_inputs,
    )

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _ice_inputs(spark, sf_dir)
        for sname, expr in stages_fn():
            df = df.withColumn(sname, F.expr(expr))
        return df.select(
            "l_orderkey",
            "l_linenumber",
            *[F.expr(e).alias(c) for c, e in outs],
        )

    staged = _stage_sql_cte(_ICE_IN_SQL, stages_fn())
    sel = ",\n           ".join(f"{e} AS {c}" for c, e in outs)
    STAGED_QUERIES[name] = fn
    STAGED_ORACLES[name] = f"""
    SELECT l_orderkey, l_linenumber,
           {sel}
    FROM ({staged})
    """
    return fn


def _gibbs_ice_parts_stages():
    """Two IAPWS-06 chains: at (t, p) for gibbs_ice_part_t = g_T, and
    at (t, 0) treating the grid temperature as pt0 for gibbs_ice_pt0 =
    g_T(pt0, 0) and gibbs_ice_pt0_pt0 = g_TT(pt0, 0) — the three
    internal Gibbs readoffs GSW exposes as their own ufuncs
    (GSW/_wrapped_ufuncs.py: gibbs_ice_part_t, gibbs_ice_pt0,
    gibbs_ice_pt0_pt0; they feed every ice temperature inversion)."""
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )

    stages = list(gibbs_ice_stages("t", "p", x="__gpt_", out="__gpto_"))
    stages += gibbs_ice_stages("t", "0.0e0", x="__gp0_", out="__gp0o_")
    return stages


_ice14_query(
    "gsw_gibbs_ice_parts",
    _gibbs_ice_parts_stages,
    [
        # g_T ~ -entropy (O(1e3) J/(kg K)): 1e-9 floor keeps ~12
        # significant digits; g_TT ~ -cp/T (O(-8)): same floor.
        ("gibbs_ice_part_t", _q9("__gpt_gt")),
        ("gibbs_ice_pt0", _q9("__gp0_gt")),
        ("gibbs_ice_pt0_pt0", _q9("__gp0_gtt")),
    ],
)


def _melt_ratio_exact_stages():
    """EXACT-Gibbs twin of the wave-A melting ratio (GSW twin:
    gsw_melting_ice_SA_CT_ratio — the unsuffixed ufunc; wave A's
    75-term form maps to _poly): ratio = SA·h_CT/(h − h_Ih − SA·h_SA)
    with h = g − T·g_T, h_CT = cp0·(T0+t)/(T0+pt0), h_SA = g_SA(t,p) −
    (T0+t)/(T0+pt0)·g_SA(pt0,0) (IOC-2010 appendix; the same readoffs
    as the wave-H exact enthalpy derivatives). On this grid CT is the
    forward conversion of the grid's own t, so t(CT) = t identically —
    both engines evaluate the one shared stage tree, no inversion
    noise."""
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_CP0,
        _lit,
        gibbs_sw_sql,
        pt0_from_t_sql,
    )

    stages = [
        ("__mex_pt0", pt0_from_t_sql("s", "t", "p")),
        ("__mex_tr", "((273.15e0 + t)/(273.15e0 + __mex_pt0))"),
        ("__mex_g", gibbs_sw_sql("sa", "t", "p")),
        ("__mex_gt", gibbs_sw_sql("sa", "t", "p", dt=1)),
        ("__mex_h", "(__mex_g - (273.15e0 + t)*__mex_gt)"),
        ("__mex_gsa", gibbs_sw_sql("sa", "t", "p", dsa=1)),
        ("__mex_gsa0", gibbs_sw_sql("sa", "__mex_pt0", "0.0e0", dsa=1)),
        ("__mex_hct", f"({_lit(GSW_CP0)}*__mex_tr)"),
        ("__mex_hsa", "(__mex_gsa - __mex_tr*__mex_gsa0)"),
    ]
    stages += gibbs_ice_stages("t_ih", "p", x="__mex_gi_", out="__mex_")
    return stages


_melt_query(
    "gsw_melting_ice_sa_ct_ratio_exact",
    _melt_ratio_exact_stages,
    [
        (
            "sa_ct_ratio_exact",
            _q9(
                "(sa*__mex_hct"
                "/(__mex_h - __mex_enthalpy_ice - sa*__mex_hsa))"
            ),
        ),
    ],
)


def _pt_ref_stages():
    """UNESCO RK4 potential temperature to a NON-ZERO reference
    pressure (GSW twin: gsw_pt_from_t(SA, t, p, p_ref) — the live
    gsw_theta_rk4 / gsw_potential_temperature surfaces are the
    p_ref = 0 specialization): the same four lapse-rate evaluations
    through the published Runge-Kutta weights, integrating from p to
    p_ref = 1000 dbar."""
    from cioos_siooc_data_transform_spark.functions.oceanography import (
        theta_rk4_stages,
    )

    return list(theta_rk4_stages("s", "t", "p", p_ref="1.0e3"))


def gsw_pt_from_t_refp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See _pt_ref_stages. Zero shuffle, pure codegen."""
    from cioos_siooc_data_transform_spark.plans.staged_r5 import _inputs

    df = _inputs(spark, sf_dir)
    for sname, expr in _pt_ref_stages():
        df = df.withColumn(sname, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_q6("theta_rk4")).alias("pt_ref_1000"),
    )


def _pt_ref_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r5 import _IN_SQL

    staged = _stage_sql_cte(f"SELECT * FROM ({_IN_SQL})", _pt_ref_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           {_q6("theta_rk4")} AS pt_ref_1000
    FROM ({staged})
    """


STAGED_QUERIES["gsw_pt_from_t_refp"] = gsw_pt_from_t_refp
STAGED_ORACLES["gsw_pt_from_t_refp"] = _pt_ref_oracle()
