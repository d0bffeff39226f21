"""Round-10 query slate: 50 live queries, each registered at import
with ``register``; strict-harness coverage in tests/test_staged_r10.py.

Content:
- Wave A — GSW ufunc tail with closed forms: adiabatic lapse rate of
  ice Ih (−g_Tp/g_TT), specific volume of ice (g_p), the
  salinity-scale conversion battery (Reference/Knudsen/Absolute
  Pressure — GSW twins gsw_SR_from_SP / gsw_SP_from_SK), and oxygen
  solubility from the published Garcia & Gordon (1992) Benson–Krause
  fit (GSW twin: gsw_O2sol_SP_pt).
- Wave B — GSW Newton inversions: potential temperature of ice
  (pt0_from_t_ice — entropy_ice match via the prefixed Gibbs chain),
  freezing-point inversions in p (pressure_freezing_CT) and SA
  (SA_freezing_from_CT) on the Millero/CT_freezing composition.
- Wave C — classical two-sample / association tests: Welch's t with
  Cohen's d, Cramér's V, tie-corrected Spearman rank correlation,
  the Wald–Wolfowitz runs test, Ljung–Box portmanteau, and the
  Poisson dispersion-index test — all from integer-exact sums.
- Wave D — business/pipeline audits: association rules with lift over
  within-order part pairs, RFM quintile segmentation, Kaplan–Meier
  product-limit survival of inter-order gaps, EWMA of daily counts,
  Bollinger bands on daily revenue, and a seven-edge
  referential-integrity profile in one pass (first-digit Benford is
  already live via staged_r7).
- Wave E — text retrieval/readability: BM25 top-k for a fixed query,
  Flesch reading-ease profile, pairwise source-vocabulary Jaccard.
- Wave F — graph: Adamic–Adar link prediction, 3-core peeling
  (fixed-depth unrolled on both engines), degree Gini.
- Wave G — embeddings: top principal component by decimal-exact power
  iteration, intra-vs-inter label margin audit.
- Wave H — dedup/sampling ops: sorted-neighborhood candidate
  generation, blocking-quality audit, deterministic hash-sampling
  uniformity chi-square, Jaccard threshold sweep.
- Wave I — events/EVT: peaks-over-threshold GPD method-of-moments
  fit, interarrival burstiness coefficient.
- Wave J — GSW 75-term analytic-derivative tail: specvol first
  derivatives, rho second derivatives (quotient rule), ITS-90
  temperature-scale conversions.
- Wave K — robust/econometric statistics: Brown-Forsythe, MAD
  anomaly days, seasonal-naive MAPE backtest, holiday DiD.
- Wave L — probabilistic structures: Bloom-filter FPR audit,
  stratified split balance audit.
- Wave M — corpus distributions: per-source unigram JSD (sparse
  closed-form tail), sentence-length profile.
- Wave N — embedding geometry: kNN hubness skewness, triplet-margin
  violation rate.
- Wave O — two-pass-rank reuse: spend-quintile migration matrix,
  Kruskal-Wallis H with two-pass weighted midranks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cioos_siooc_data_transform_spark.session import checkpoint_df
from cioos_siooc_data_transform_spark.plans.staged_r5 import (
    _IN_SQL,
    _SA_SQL,
    _inputs,
)
from cioos_siooc_data_transform_spark.plans.staged_r6 import _stage_sql
from cioos_siooc_data_transform_spark.plans.registry import register
from cioos_siooc_data_transform_spark.session import read_table as _t


# ===========================================================================
# Wave A — GSW ufunc tail, closed forms (GSW twins:
# gsw_adiabatic_lapse_rate_ice, gsw_specvol_ice, gsw_SR_from_SP /
# gsw_SP_from_SK, gsw_O2sol_SP_pt in GSW/_wrapped_ufuncs.py —
# capability surface only; implementations are the published IAPWS-06
# derivatives (functions/ice.py) and the Garcia & Gordon (1992)
# Benson–Krause coefficients below). Zero shuffle, pure whole-stage
# codegen.
# ===========================================================================
def _ice10_query(exprs: list[tuple[str, str, float]]):
    """Shared ice-chain builder: run gibbs_ice_stages once, emit the
    given (out_name, stage_expr, scale) floored columns."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from cioos_siooc_data_transform_spark.functions.ice import (
            gibbs_ice_stages,
        )
        from cioos_siooc_data_transform_spark.plans.staged_r8 import _ice_inputs

        df = _ice_inputs(spark, sf_dir)
        for name, expr in gibbs_ice_stages("t", "p"):
            df = df.withColumn(name, F.expr(expr))
        cols = [
            (F.floor(F.expr(e) * s + 0.5) / s).alias(n) for n, e, s in exprs
        ]
        return df.select("l_orderkey", "l_linenumber", *cols)

    return fn


def _ice10_oracle(exprs: list[tuple[str, str, float]]) -> str:
    from cioos_siooc_data_transform_spark.functions.ice import gibbs_ice_stages
    from cioos_siooc_data_transform_spark.plans.staged_r8 import _ICE_IN_SQL

    staged = _stage_sql(_ICE_IN_SQL, gibbs_ice_stages("t", "p"))
    cols = ",\n           ".join(
        f"floor(({e}) * {s:.1e} + 0.5) / {s:.1e} AS {n}" for n, e, s in exprs
    )
    return f"""
    SELECT l_orderkey, l_linenumber,
           {cols}
    FROM {staged}
    """


# Adiabatic lapse rate of ice Γ = (∂T/∂p)_s = −g_Tp/g_TT [K/Pa]
# (~2e-8: 1e18 floor => ~1e-10 relative). Emitted with the isentropic
# temperature rise over a 1000-dbar (1e7 Pa) lift as a readable twin.
_LAPSE_EXPRS = [
    ("lapse_rate_ice", "(-__gice_gtp/__gice_gtt)", 1.0e18),
    ("dt_per_1000dbar", "(-__gice_gtp/__gice_gtt) * 1.0e7", 1.0e11),
]
_fn = _ice10_query(_LAPSE_EXPRS)
_fn.__name__ = "gsw_adiabatic_lapse_rate_ice"
_fn.__doc__ = (
    "Adiabatic lapse rate of ice Ih = -g_Tp/g_TT [K/Pa] from the "
    "IAPWS-06 Gibbs second derivatives (GSW twin: "
    "gsw_adiabatic_lapse_rate_ice; FD-pinned in "
    "tests/test_oceanography_checkvalues.py)."
)
register("gsw_adiabatic_lapse_rate_ice", oracle=_ice10_oracle(_LAPSE_EXPRS))(_fn)

# Specific volume of ice v = g_p [m3/kg] (~1.09e-3: 1e12 floor) with
# its product against rho_ice as an internal-consistency column
# (v*rho == 1 exactly by construction in both engines).
_SPECVOL_ICE_EXPRS = [
    ("specvol_ice", "__gice_gp", 1.0e12),
]
_fn = _ice10_query(_SPECVOL_ICE_EXPRS)
_fn.__name__ = "gsw_specvol_ice"
_fn.__doc__ = (
    "Specific volume of ice Ih = g_p [m3/kg] (GSW twin: "
    "gsw_specvol_ice; Table-6 rho reciprocal pinned in tests)."
)
register("gsw_specvol_ice", oracle=_ice10_oracle(_SPECVOL_ICE_EXPRS))(_fn)


@register(
    "gsw_salinity_scale_conversions",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           floor(s * (35.16504e0/35.0e0) * 1.0e9 + 0.5) / 1.0e9
             AS sr_from_sp,
           floor((0.03e0 + s * (1.805e0/1.80655e0)) * 1.0e9 + 0.5) / 1.0e9
             AS sk_from_sp,
           floor((1.0e4 * p + 101325.0e0) * 1.0e2 + 0.5) / 1.0e2
             AS abs_pressure_pa
    FROM ({_IN_SQL})
    """,
)
def gsw_salinity_scale_conversions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Salinity/pressure scale-conversion battery (GSW twins:
    gsw_SR_from_SP — SR = SP*(35.16504/35), the u_PS scaling of
    Millero et al. 2008; gsw_SP_from_SK inverted — Knudsen SK =
    0.03 + 1.805*Cl with SP = 1.80655*Cl, so SK = 0.03 +
    SP*(1.805/1.80655); and Absolute Pressure P = 1e4*p + 101325 Pa
    used throughout GSW). Pure linear arithmetic: exact cross-engine
    parity, zero shuffle."""
    df = _inputs(spark, sf_dir)
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("s") * (35.16504 / 35.0) * 1.0e9 + 0.5) / 1.0e9).alias(
            "sr_from_sp"
        ),
        (
            F.floor(
                (F.lit(0.03) + F.col("s") * (1.805 / 1.80655)) * 1.0e9 + 0.5
            )
            / 1.0e9
        ).alias("sk_from_sp"),
        (
            F.floor((1.0e4 * F.col("p") + 101325.0) * 1.0e2 + 0.5) / 1.0e2
        ).alias("abs_pressure_pa"),
    )


# Garcia & Gordon (1992) Benson–Krause combined-fit coefficients for
# oxygen solubility [umol/kg] (the fit GSW's gsw_O2sol_SP_pt wraps;
# published in Limnol. Oceanogr. 37(6):1307-1312, corrected 38:656).
_O2_A = [5.80871, 3.20291, 4.17887, 5.10006, -9.86643e-2, 3.80369]
_O2_B = [-7.01577e-3, -7.70028e-3, -1.13864e-2, -9.51519e-3]
_O2_C0 = -2.75915e-7


def _o2sol_sql(sp: str, pt: str) -> str:
    ts = f"ln((298.15e0 - ({pt})) / (273.15e0 + ({pt})))"
    poly_a = f"{_O2_A[5]:.17g}"
    for c in reversed(_O2_A[:5]):
        poly_a = f"({c:.17g} + __o2_ts*{poly_a})"
    poly_b = f"{_O2_B[3]:.17g}"
    for c in reversed(_O2_B[:3]):
        poly_b = f"({c:.17g} + __o2_ts*{poly_b})"
    return (
        f"exp({poly_a} + ({sp})*({poly_b} + {_O2_C0:.17g}*({sp})))"
    ).replace("__o2_ts", f"({ts})")


def _o2sol_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        pt0_from_t_sql,
    )

    inner = f"""
    SELECT l_orderkey, l_linenumber, s,
           {pt0_from_t_sql("s", "t", "p")} AS pt
    FROM ({_IN_SQL})
    """
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor({_o2sol_sql("s", "pt")} * 1.0e6 + 0.5) / 1.0e6 AS o2sol
    FROM ({inner})
    """


@register("gsw_o2sol_sp_pt", oracle=_o2sol_oracle())
def gsw_o2sol_sp_pt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oxygen solubility at saturation [umol/kg] from the Garcia &
    Gordon (1992) Benson–Krause combined fit (GSW twin:
    gsw_O2sol_SP_pt — same coefficients), evaluated at (SP, pt0):
    ln(C) is a Horner polynomial in the scaled temperature
    ts = ln((298.15-pt)/(273.15+pt)) plus the salinity correction.
    One exp/ln pair on top of polynomials; 1e-6 floor on a ~200-350
    value is ~1e-9 relative, far above transcendental noise. Zero
    shuffle, whole-stage codegen."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        pt0_from_t_sql,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "s",
        F.expr(pt0_from_t_sql("s", "t", "p")).alias("pt"),
    )
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.expr(_o2sol_sql("s", "pt")) * 1.0e6 + 0.5) / 1.0e6).alias(
            "o2sol"
        ),
    )


# ===========================================================================
# Wave B — GSW Newton/fixed-slope inversions (GSW twins:
# gsw_pt0_from_t_ice, gsw_pressure_freezing_CT, gsw_SA_freezing_from_CT
# in GSW/_wrapped_ufuncs.py). All three are roundtrip-style: the target
# value is produced by the forward function inside the query, then
# recovered by iteration — BOTH engines run the identical IEEE tree, so
# parity is exact regardless of convergence level; convergence itself
# (residual ~1e-7 or better) is pinned in
# tests/test_oceanography_checkvalues.py.
#
# Fixed-slope iteration note: the freezing-point slopes are nearly
# constant over the input envelope (measured dCTf/dp in [-7.853e-4,
# -7.723e-4] degC/dbar and dCTf/dSA in [-0.0591, -0.0574] degC per
# unit SP for s in [30, 35.2], p in [0, 2000]), so x_{k+1} = x_k -
# (f(x_k) - target)/slope converges by ~200x per step - and, unlike a
# finite-difference Newton, needs ONE 9 KB ct_from_t evaluation per
# step instead of three (janino 64 KB method-limit headroom; the
# [[round-cadence-staging]] lesson).
# ===========================================================================
def _pt0_ice_stages() -> list[tuple[str, str]]:
    """Stage list recovering pt0_ice from (t, p): entropy match on the
    IAPWS-06 chain, two Newton steps with the analytic ds/dT = -g_TT."""
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )

    stages = list(gibbs_ice_stages("t", "p", x="__i0_", out="__i0o_"))
    stages.append(("__pt_0", "t"))
    for k in (1, 2):
        stages += gibbs_ice_stages(
            f"__pt_{k - 1}", "0.0e0", x=f"__i{k}_", out=f"__i{k}o_"
        )
        stages.append(
            (
                f"__pt_{k}",
                f"(__pt_{k - 1} + (__i{k}o_entropy_ice - __i0o_entropy_ice)"
                f" / __i{k}_gtt)",
            )
        )
    stages.append(("pt0_ice", "__pt_2"))
    return stages


def _pt0_ice_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r8 import _ICE_IN_SQL

    staged = _stage_sql(_ICE_IN_SQL, _pt0_ice_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(pt0_ice * 1.0e9 + 0.5) / 1.0e9 AS pt0_ice
    FROM {staged}
    """


@register("gsw_pt0_from_t_ice", oracle=_pt0_ice_oracle())
def gsw_pt0_from_t_ice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential temperature of ice Ih with reference pressure 0 dbar
    (GSW twin: gsw_pt0_from_t_ice): the pt0 whose entropy at p=0
    equals entropy_ice(t, p), found by two Newton steps from pt=t with
    the analytic derivative ds/dT = -g_TT. Entropy of ice is nearly
    linear in T (s'' / 2s' ~ 5e-3 per K), so two steps from an initial
    error of <~0.5 K land below 1e-8 K (roundtrip pinned in tests).
    Zero shuffle; three prefixed Gibbs chains (~12 KB total text) keep
    every surviving projection far under the janino method limit."""
    from cioos_siooc_data_transform_spark.plans.staged_r8 import _ice_inputs

    df = _ice_inputs(spark, sf_dir)
    for name, expr in _pt0_ice_stages():
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("pt0_ice") * 1.0e9 + 0.5) / 1.0e9).alias("pt0_ice"),
    )


#: Fixed slopes for the freezing-point inversions (measured central
#: differences over the input envelope; see wave-B header).
_DCTF_DP = -7.74e-4
_DCTF_DSA = -0.0582


def _p_freezing_stages() -> list[tuple[str, str]]:
    """Recover the freezing pressure from (s, ct): linear init from
    CT_f(s, 0), then two fixed-slope steps. Each evaluation stages
    t_f first so the ct_from_t text stays ~9 KB."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        t_freezing_sql,
    )

    stages: list[tuple[str, str]] = [
        ("__pf_tfz", t_freezing_sql("s", "0.0e0")),
        ("__pf_ctz", ct_from_t_sql("s", "__pf_tfz", "0.0e0")),
        ("__pf_p0", f"((ct - __pf_ctz) / {_DCTF_DP:.17g})"),
    ]
    for k in (1, 2):
        prev = f"__pf_p{k - 1}"
        stages += [
            (f"__pf_tf{k}", t_freezing_sql("s", prev)),
            (f"__pf_ct{k}", ct_from_t_sql("s", f"__pf_tf{k}", prev)),
            (
                f"__pf_p{k}",
                f"({prev} - (__pf_ct{k} - ct) / {_DCTF_DP:.17g})",
            ),
        ]
    stages.append(("p_freezing", "__pf_p2"))
    return stages


def _pfreeze_in_sql() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_freezing_sql,
    )

    return f"""
    SELECT l_orderkey, l_linenumber, s,
           {ct_freezing_sql("s", "p")} AS ct, p AS p_true
    FROM ({_IN_SQL})
    """


def _pfreeze_oracle() -> str:
    staged = _stage_sql(_pfreeze_in_sql(), _p_freezing_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(p_freezing * 1.0e6 + 0.5) / 1.0e6 AS p_freezing
    FROM {staged}
    """


@register("gsw_pressure_freezing_ct", oracle=_pfreeze_oracle())
def gsw_pressure_freezing_ct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freezing pressure from (SP, CT) (GSW twin:
    gsw_pressure_freezing_CT): the sea pressure at which seawater of
    salinity s freezes at Conservative Temperature ct. The query
    composes CT_freezing(s, p_true) forward, then inverts with a
    linear init from CT_f(s, 0) and two fixed-slope steps
    (convergence ~0.4%/step factor => residual < 1e-4 dbar, pinned in
    tests alongside |p_rec - p_true|). Zero shuffle, whole-stage
    codegen; the ct evaluations are staged one per projection."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_freezing_sql,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "s",
        F.expr(ct_freezing_sql("s", "p")).alias("ct"),
        F.col("p").alias("p_true"),
    )
    for name, expr in _p_freezing_stages():
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("p_freezing") * 1.0e6 + 0.5) / 1.0e6).alias(
            "p_freezing"
        ),
    )


def _sa_freezing_stages() -> list[tuple[str, str]]:
    """Recover the freezing salinity from (ct, p): fixed init at the
    envelope midpoint, four fixed-slope steps (factor ~1.5%/step =>
    residual ~1e-7 unit SP)."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        t_freezing_sql,
    )

    stages: list[tuple[str, str]] = [("__sf_s0", "32.5e0")]
    for k in (1, 2, 3, 4):
        prev = f"__sf_s{k - 1}"
        stages += [
            (f"__sf_tf{k}", t_freezing_sql(prev, "p")),
            (f"__sf_ct{k}", ct_from_t_sql(prev, f"__sf_tf{k}", "p")),
            (
                f"__sf_s{k}",
                f"({prev} - (__sf_ct{k} - ct) / {_DCTF_DSA:.17g})",
            ),
        ]
    stages += [
        ("sp_freezing", "__sf_s4"),
        ("sa_freezing", f"(__sf_s4 * (35.16504e0/35.0e0))"),
    ]
    return stages


def _sa_freezing_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_freezing_sql,
    )

    inner = f"""
    SELECT l_orderkey, l_linenumber,
           {ct_freezing_sql("s", "p")} AS ct, p
    FROM ({_IN_SQL})
    """
    staged = _stage_sql(inner, _sa_freezing_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(sp_freezing * 1.0e6 + 0.5) / 1.0e6 AS sp_freezing,
           floor(sa_freezing * 1.0e6 + 0.5) / 1.0e6 AS sa_freezing
    FROM {staged}
    """


@register("gsw_sa_freezing_from_ct", oracle=_sa_freezing_oracle())
def gsw_sa_freezing_from_ct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freezing salinity from (CT, p) (GSW twin:
    gsw_SA_freezing_from_CT): the salinity at which seawater at sea
    pressure p freezes at Conservative Temperature ct, recovered by
    four fixed-slope steps from the envelope midpoint, emitted on both
    the practical (SP) and absolute (SA = SP*35.16504/35) scales.
    Roundtrip |sp_rec - s_true| < 1e-6 pinned in tests. Zero shuffle,
    staged evaluations, exact cross-engine parity."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_freezing_sql,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        F.expr(ct_freezing_sql("s", "p")).alias("ct"),
        "p",
    )
    for name, expr in _sa_freezing_stages():
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("sp_freezing") * 1.0e6 + 0.5) / 1.0e6).alias(
            "sp_freezing"
        ),
        (F.floor(F.col("sa_freezing") * 1.0e6 + 0.5) / 1.0e6).alias(
            "sa_freezing"
        ),
    )


# ===========================================================================
# Wave C — classical statistical tests from integer-exact sums
# (beyond-reference LLM-pipeline scope: the A/B and data-drift test
# battery). Every aggregate follows the order-independence invariant
# ([[oracle-parity-gotchas]]): quantize per-row to integer units, sum
# as decimal(38,0)/HUGEINT, finish in double on the exact sums.
# ===========================================================================
@register(
    "lineitem_welch_ttest",
    oracle="""
    WITH g AS (
      SELECT CAST(count(*) FILTER (l_returnflag = 'A') AS HUGEINT) AS n1,
             CAST(count(*) FILTER (l_returnflag = 'R') AS HUGEINT) AS n2,
             sum(CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                      AS HUGEINT)) FILTER (l_returnflag = 'A') AS s1,
             sum(CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                      AS HUGEINT)) FILTER (l_returnflag = 'R') AS s2,
             sum(CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                      AS HUGEINT)
                 * CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                        AS HUGEINT)) FILTER (l_returnflag = 'A') AS ss1,
             sum(CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                      AS HUGEINT)
                 * CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                        AS HUGEINT)) FILTER (l_returnflag = 'R') AS ss2
      FROM lineitem
    ), f AS (
      SELECT CAST(n1 AS DOUBLE) AS n1, CAST(n2 AS DOUBLE) AS n2,
             CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
             CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
             (CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
               / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0e0)) AS v1,
             (CAST(n2 AS DOUBLE) * CAST(ss2 AS DOUBLE)
              - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
               / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0e0)) AS v2
      FROM g
    )
    SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_r,
           floor((m1 - m2) * 1.0e2 + 0.5) / 1.0e2 AS mean_diff_cents,
           floor((m1 - m2) / sqrt(v1/n1 + v2/n2) * 1.0e6 + 0.5) / 1.0e6
             AS t_welch,
           floor((v1/n1 + v2/n2) * (v1/n1 + v2/n2)
                 / ((v1/n1)*(v1/n1)/(n1 - 1.0e0)
                    + (v2/n2)*(v2/n2)/(n2 - 1.0e0)) * 1.0e3 + 0.5) / 1.0e3
             AS df_welch,
           floor((m1 - m2)
                 / sqrt(((n1 - 1.0e0)*v1 + (n2 - 1.0e0)*v2)
                        / (n1 + n2 - 2.0e0)) * 1.0e9 + 0.5) / 1.0e9
             AS cohens_d
    FROM f
    """,
)
def lineitem_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t between returned ('R') and
    accepted ('A') line prices, with the Welch–Satterthwaite df and
    Cohen's d effect size — the A/B significance battery. One
    map-side-combinable pass builds exact decimal(38,0) sums of cents
    and cents^2 per group; every statistic finishes in double on the
    exact sums (identical IEEE tree in the oracle). Scale shape: a
    single full-scan agg, no shuffle beyond the 2-group combine."""
    li = _t(spark, sf_dir, "lineitem")
    cents = (
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
        .cast("long")
        .cast("decimal(19,0)")
    )
    isa = F.col("l_returnflag") == "A"
    isr = F.col("l_returnflag") == "R"
    g = li.agg(
        F.count(F.when(isa, 1)).cast("decimal(19,0)").alias("n1"),
        F.count(F.when(isr, 1)).cast("decimal(19,0)").alias("n2"),
        F.sum(F.when(isa, cents)).cast("decimal(38,0)").alias("s1"),
        F.sum(F.when(isr, cents)).cast("decimal(38,0)").alias("s2"),
        F.sum(F.when(isa, cents * cents)).cast("decimal(38,0)").alias("ss1"),
        F.sum(F.when(isr, cents * cents)).cast("decimal(38,0)").alias("ss2"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    m1 = F.col("s1").cast("double") / n1
    m2 = F.col("s2").cast("double") / n2
    v1 = (
        n1 * F.col("ss1").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
    ) / (n1 * (n1 - 1.0))
    v2 = (
        n2 * F.col("ss2").cast("double")
        - F.col("s2").cast("double") * F.col("s2").cast("double")
    ) / (n2 * (n2 - 1.0))
    f = g.select(
        n1.alias("n1"), n2.alias("n2"), m1.alias("m1"), m2.alias("m2"),
        v1.alias("v1"), v2.alias("v2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    m1, m2, v1, v2 = F.col("m1"), F.col("m2"), F.col("v1"), F.col("v2")
    se2 = v1 / n1 + v2 / n2
    return f.select(
        n1.cast("long").alias("n_a"),
        n2.cast("long").alias("n_r"),
        (F.floor((m1 - m2) * 1.0e2 + 0.5) / 1.0e2).alias("mean_diff_cents"),
        (F.floor((m1 - m2) / F.sqrt(se2) * 1.0e6 + 0.5) / 1.0e6).alias(
            "t_welch"
        ),
        (
            F.floor(
                se2 * se2
                / (
                    (v1 / n1) * (v1 / n1) / (n1 - 1.0)
                    + (v2 / n2) * (v2 / n2) / (n2 - 1.0)
                )
                * 1.0e3
                + 0.5
            )
            / 1.0e3
        ).alias("df_welch"),
        (
            F.floor(
                (m1 - m2)
                / F.sqrt(((n1 - 1.0) * v1 + (n2 - 1.0) * v2) / (n1 + n2 - 2.0))
                * 1.0e9
                + 0.5
            )
            / 1.0e9
        ).alias("cohens_d"),
    )


@register(
    "lineitem_cramers_v",
    oracle="""
    WITH cells AS (
      SELECT dayofweek(l_shipdate) + 1 AS dow, l_returnflag AS flag,
             CAST(count(*) AS BIGINT) AS o
      FROM lineitem GROUP BY 1, 2
    ), marg AS (
      SELECT c.dow, c.flag, c.o,
             sum(c.o) OVER (PARTITION BY c.dow) AS r,
             sum(c.o) OVER (PARTITION BY c.flag) AS c_,
             sum(c.o) OVER () AS n
      FROM cells c
    ), chi AS (
      SELECT CAST(max(n) AS BIGINT) AS n,
             CAST(sum(CAST(floor(
               (CAST(o AS DOUBLE)
                - CAST(r AS DOUBLE)*CAST(c_ AS DOUBLE)/CAST(n AS DOUBLE))
               * (CAST(o AS DOUBLE)
                  - CAST(r AS DOUBLE)*CAST(c_ AS DOUBLE)/CAST(n AS DOUBLE))
               / (CAST(r AS DOUBLE)*CAST(c_ AS DOUBLE)/CAST(n AS DOUBLE))
               * 1.0e12 + 0.5) AS BIGINT)) AS HUGEINT) AS chi2_pico
      FROM marg
    )
    SELECT n,
           CAST(chi2_pico AS DOUBLE) / 1.0e12 AS chi2,
           floor(sqrt(CAST(chi2_pico AS DOUBLE) / 1.0e12
                      / (CAST(n AS DOUBLE) * 2.0e0)) * 1.0e9 + 0.5)
             / 1.0e9 AS cramers_v
    FROM chi
    """,
)
def lineitem_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between ship weekday (7 levels) and
    return flag (3 levels): chi-square over the 21-cell contingency
    with V = sqrt(chi2 / (N*min(r-1, c-1))), min = 2. The contingency
    is one map-side-combinable groupBy; marginals and the finisher run
    on <=21 rows. Each chi-square term is a deterministic function of
    exact integer counts, quantized per-cell to 1e-12 units and summed
    exactly (decimal/HUGEINT) so the 21-term addition order cannot
    move the result. Weekday parity: Spark dayofweek ==
    DuckDB dayofweek + 1 (the staged_r5 convention)."""
    li = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.dayofweek("l_shipdate").cast("long").alias("dow"),
        F.col("l_returnflag").alias("flag"),
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    wr = Window.partitionBy("dow")
    wc = Window.partitionBy("flag")
    wall = Window.partitionBy()
    marg = cells.select(
        "o",
        F.sum("o").over(wr).alias("r"),
        F.sum("o").over(wc).alias("c_"),
        F.sum("o").over(wall).alias("n"),
    )
    e = (
        F.col("r").cast("double")
        * F.col("c_").cast("double")
        / F.col("n").cast("double")
    )
    term = (
        (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    )
    chi = marg.agg(
        F.max("n").cast("long").alias("n"),
        F.sum(F.floor(term * 1.0e12 + 0.5).cast("long").cast("decimal(38,0)"))
        .alias("chi2_pico"),
    )
    chi2 = F.col("chi2_pico").cast("double") / 1.0e12
    return chi.select(
        "n",
        chi2.alias("chi2"),
        (
            F.floor(
                F.sqrt(chi2 / (F.col("n").cast("double") * 2.0)) * 1.0e9 + 0.5
            )
            / 1.0e9
        ).alias("cramers_v"),
    )


@register(
    "lineitem_spearman_discount_qty",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS x,
             CAST(l_quantity AS BIGINT) AS y
      FROM lineitem
    ), joint AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1, 2
    ), xm AS (
      SELECT x, sum(cnt) AS cx FROM joint GROUP BY 1
    ), xr AS (
      -- average rank * 2 (kept integer): 2*(#strictly less) + cnt + 1
      SELECT x, 2 * (sum(cx) OVER (ORDER BY x) - cx) + cx + 1 AS rx2 FROM xm
    ), ym AS (
      SELECT y, sum(cnt) AS cy FROM joint GROUP BY 1
    ), yr AS (
      SELECT y, 2 * (sum(cy) OVER (ORDER BY y) - cy) + cy + 1 AS ry2 FROM ym
    ), s AS (
      SELECT CAST(sum(j.cnt) AS HUGEINT) AS n,
             sum(CAST(j.cnt AS HUGEINT) * CAST(xr.rx2 AS HUGEINT)) AS sx,
             sum(CAST(j.cnt AS HUGEINT) * CAST(yr.ry2 AS HUGEINT)) AS sy,
             sum(CAST(j.cnt AS HUGEINT) * CAST(xr.rx2 AS HUGEINT)
                 * CAST(xr.rx2 AS HUGEINT)) AS sxx,
             sum(CAST(j.cnt AS HUGEINT) * CAST(yr.ry2 AS HUGEINT)
                 * CAST(yr.ry2 AS HUGEINT)) AS syy,
             sum(CAST(j.cnt AS HUGEINT) * CAST(xr.rx2 AS HUGEINT)
                 * CAST(yr.ry2 AS HUGEINT)) AS sxy
      FROM joint j JOIN xr ON xr.x = j.x JOIN yr ON yr.y = j.y
    )
    SELECT CAST(n AS BIGINT) AS n,
           floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0.0)
                 * 1.0e6 + 0.5) / 1.0e6 AS spearman_rho
    FROM s
    """,
)
def lineitem_spearman_discount_qty(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tie-corrected Spearman rank correlation between discount and
    quantity: average ranks (kept exact as 2*rank integers — ties get
    the midrank automatically), then Pearson on the ranks from exact
    HUGEINT/decimal sums via the shared staged_r6 finisher. Scale
    shape: ranks come from per-value marginals (small for discount and
    quantity, but unbounded for an arbitrary numeric column), so the
    midrank cumulative sums run through ranked_cumsum_two_pass
    (round-9 migration — no single-partition window even when the
    distinct-value set grows with the data); the heavy work is one
    map-side-combinable groupBy over the joint cells."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r6 import (
        pearson_r_from_sums,
    )

    li = _t(spark, sf_dir, "lineitem")
    v = li.select(
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    joint = v.groupBy("x", "y").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    xm = joint.groupBy("x").agg(F.sum("cnt").cast("long").alias("cx"))
    # midrank*2 = 2*(inclusive running count - cx) + cx + 1
    xr = ranked_cumsum_two_pass(
        xm, "x", "x", weight_col="cx",
        out_rank="__rk_unused", out_cum="__cum_cx", ascending=True,
    ).select(
        "x",
        (2 * (F.col("__cum_cx") - F.col("cx")) + F.col("cx") + 1).alias("rx2"),
    )
    ym = joint.groupBy("y").agg(F.sum("cnt").cast("long").alias("cy"))
    yr = ranked_cumsum_two_pass(
        ym, "y", "y", weight_col="cy",
        out_rank="__rk_unused", out_cum="__cum_cy", ascending=True,
    ).select(
        "y",
        (2 * (F.col("__cum_cy") - F.col("cy")) + F.col("cy") + 1).alias("ry2"),
    )
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    j = (
        joint.join(F.broadcast(xr), "x")
        .join(F.broadcast(yr), "y")
        .select(
            dec(F.col("cnt")).alias("cnt"),
            dec(F.col("rx2")).alias("rx2"),
            dec(F.col("ry2")).alias("ry2"),
        )
    )
    s = j.agg(
        F.sum("cnt").cast("decimal(38,0)").alias("n"),
        F.sum(F.col("cnt") * F.col("rx2")).cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("cnt") * F.col("ry2")).cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("cnt") * F.col("rx2") * F.col("rx2"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("cnt") * F.col("ry2") * F.col("ry2"))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum(F.col("cnt") * F.col("rx2") * F.col("ry2"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        pearson_r_from_sums(dp=6).alias("spearman_rho"),
    )


@register(
    "events_runs_test",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), t AS (
      SELECT day, c,
             CAST(sum(c) OVER () AS BIGINT) AS total,
             CAST(count(*) OVER () AS BIGINT) AS nd
      FROM d
    ), lab AS (
      -- above the mean iff c*nd > total (exact integer compare; the
      -- strictly-below-or-equal side is 'below' by convention)
      SELECT day, CASE WHEN c * nd > total THEN 1 ELSE 0 END AS up FROM t
    ), chg AS (
      SELECT up, CASE WHEN up <> lag(up) OVER (ORDER BY day)
                 THEN 1 ELSE 0 END AS c
      FROM lab
    ), runs AS (
      SELECT CAST(sum(up) AS BIGINT) AS n1,
             CAST(count(*) - sum(up) AS BIGINT) AS n2,
             CAST(1 + sum(c) AS BIGINT) AS r
      FROM chg
    )
    SELECT n1 AS n_above, n2 AS n_below, r AS n_runs,
           floor((CAST(r AS DOUBLE)
                  - (1.0e0 + 2.0e0*CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)
                             / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))))
                 / NULLIF(sqrt(
                     (2.0e0*CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)
                      * (2.0e0*CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)
                         - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE)))
                     / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                        * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                        * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0e0))),
                   0.0)
                 * 1.0e9 + 0.5) / 1.0e9 AS z_runs
    FROM runs
    """,
)
def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness of daily event volume:
    label each day above/below the mean (exact integer compare
    c*n_days vs total), count sign runs with one ordered lag over the
    bounded day table, and finish with the normal approximation
    z = (R - mu_R)/sigma_R. The full-scan part is one
    map-side-combinable day groupBy; everything after runs on ~30
    rows. Exact counts => deterministic z."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # Grand totals as a 1-row broadcast aggregate (round-9 migration:
    # no single-partition window even over the day table); the ordered
    # lag below stays a window — the day axis is calendar-bounded.
    tot = d.agg(
        F.sum("c").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("nd"),
    )
    t = d.crossJoin(F.broadcast(tot)).select("day", "c", "total", "nd")
    lab = t.select(
        "day",
        F.when(F.col("c") * F.col("nd") > F.col("total"), 1)
        .otherwise(0)
        .alias("up"),
    )
    wday = Window.orderBy("day")
    runs = lab.select(
        "up",
        F.when(F.col("up") != F.lag("up").over(wday), 1)
        .otherwise(0)
        .alias("chg"),
    ).agg(
        F.sum("up").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("up")).cast("long").alias("n2"),
        (1 + F.sum("chg")).cast("long").alias("r"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    r = F.col("r").cast("double")
    mu = 1.0 + 2.0 * n1 * n2 / (n1 + n2)
    sig = F.sqrt(
        (2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2))
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    return runs.select(
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.col("r").alias("n_runs"),
        F.when(
            sig != F.lit(0.0), F.floor((r - mu) / sig * 1.0e9 + 0.5) / 1.0e9
        ).alias("z_runs"),
    )


@register(
    "events_ljung_box",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), t AS (
      SELECT day, c,
             CAST(sum(c) OVER () AS BIGINT) AS total,
             CAST(count(*) OVER () AS BIGINT) AS nd
      FROM d
    ), y AS (
      -- center by the mean without leaving integers: y = nd*c - total
      SELECT day, nd, c * nd - total AS yv FROM t
    ), lagged AS (
      SELECT nd, yv,
             lag(yv, 1) OVER (ORDER BY day) AS y1,
             lag(yv, 2) OVER (ORDER BY day) AS y2,
             lag(yv, 3) OVER (ORDER BY day) AS y3,
             lag(yv, 4) OVER (ORDER BY day) AS y4,
             lag(yv, 5) OVER (ORDER BY day) AS y5,
             lag(yv, 6) OVER (ORDER BY day) AS y6,
             lag(yv, 7) OVER (ORDER BY day) AS y7
      FROM y
    ), s AS (
      SELECT CAST(max(nd) AS BIGINT) AS nd,
             sum(CAST(yv AS HUGEINT) * CAST(yv AS HUGEINT)) AS d0,
             sum(CAST(yv AS HUGEINT) * CAST(y1 AS HUGEINT)) AS c1,
             sum(CAST(yv AS HUGEINT) * CAST(y2 AS HUGEINT)) AS c2,
             sum(CAST(yv AS HUGEINT) * CAST(y3 AS HUGEINT)) AS c3,
             sum(CAST(yv AS HUGEINT) * CAST(y4 AS HUGEINT)) AS c4,
             sum(CAST(yv AS HUGEINT) * CAST(y5 AS HUGEINT)) AS c5,
             sum(CAST(yv AS HUGEINT) * CAST(y6 AS HUGEINT)) AS c6,
             sum(CAST(yv AS HUGEINT) * CAST(y7 AS HUGEINT)) AS c7
      FROM lagged
    ), r AS (
      SELECT nd, k,
             CAST(ck AS DOUBLE) / CAST(d0 AS DOUBLE) AS rk
      FROM s, (VALUES (1), (2), (3), (4), (5), (6), (7)) AS lags(k),
           LATERAL (SELECT CASE k WHEN 1 THEN c1 WHEN 2 THEN c2
                                  WHEN 3 THEN c3 WHEN 4 THEN c4
                                  WHEN 5 THEN c5 WHEN 6 THEN c6
                                  ELSE c7 END AS ck) x
    )
    SELECT k AS lag_k,
           floor(rk * 1.0e9 + 0.5) / 1.0e9 AS r_k,
           floor(CAST(nd AS DOUBLE) * (CAST(nd AS DOUBLE) + 2.0e0)
                 * sum(rk * rk / (CAST(nd AS DOUBLE) - CAST(k AS DOUBLE)))
                     OVER (ORDER BY k)
                 * 1.0e6 + 0.5) / 1.0e6 AS q_ljung_box
    FROM r
    """,
)
def events_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau statistic on daily event counts, lags
    1..7: Q(K) = n(n+2) * sum_{k<=K} r_k^2/(n-k), with the
    autocorrelations r_k computed on the integer-centered series
    y_t = n*c_t - total (the n factors cancel in the ratio), so every
    covariance is an exact HUGEINT/decimal sum. One day groupBy scans
    the table; the lag windows and the cumulative Q run on ~30 rows.
    Each r_k is a single exact-int ratio => deterministic; the
    cumulative Q sums <=7 doubles in the SAME k-order in both engines
    (ORDER BY k window), so no quantization ambiguity."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wall = Window.partitionBy()
    y = d.select(
        "day",
        F.count(F.lit(1)).over(wall).cast("long").alias("nd"),
        (
            F.col("c") * F.count(F.lit(1)).over(wall).cast("long")
            - F.sum("c").over(wall).cast("long")
        ).alias("yv"),
    )
    wday = Window.orderBy("day")
    lag_cols = [F.lag("yv", k).over(wday).alias(f"y{k}") for k in range(1, 8)]
    lagged = y.select("nd", "yv", *lag_cols)
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    s = lagged.agg(
        F.max("nd").cast("long").alias("nd"),
        F.sum(dec("yv") * dec("yv")).cast("decimal(38,0)").alias("d0"),
        *[
            F.sum(dec("yv") * dec(f"y{k}"))
            .cast("decimal(38,0)")
            .alias(f"c{k}")
            for k in range(1, 8)
        ],
    )
    # unpivot the 7 lags to rows; Spark stack() keeps the (k, ck) pairs
    r = s.select(
        "nd",
        F.expr(
            "stack(7, 1, c1, 2, c2, 3, c3, 4, c4, 5, c5, 6, c6, 7, c7)"
            " AS (k, ck)"
        ),
        "d0",
    ).select(
        "nd",
        "k",
        (F.col("ck").cast("double") / F.col("d0").cast("double")).alias("rk"),
    )
    wk = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    ndd = F.col("nd").cast("double")
    return r.select(
        F.col("k").alias("lag_k"),
        (F.floor(F.col("rk") * 1.0e9 + 0.5) / 1.0e9).alias("r_k"),
        (
            F.floor(
                ndd
                * (ndd + 2.0)
                * F.sum(
                    F.col("rk") * F.col("rk") / (ndd - F.col("k").cast("double"))
                ).over(wk)
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("q_ljung_box"),
    )


@register(
    "events_dispersion_index",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1
      FROM events
    ), spine AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM bounds
    ), hc AS (
      SELECT date_trunc('hour', ts) AS hour, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), full_h AS (
      SELECT s.hour, COALESCE(hc.c, 0) AS c
      FROM spine s LEFT JOIN hc ON hc.hour = s.hour
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS HUGEINT) AS s,
             sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS ss
      FROM full_h
    )
    SELECT n, CAST(s AS BIGINT) AS total,
           floor((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                 / ((CAST(n AS DOUBLE) - 1.0e0) * CAST(s AS DOUBLE))
                 * 1.0e9 + 0.5) / 1.0e9 AS dispersion_vmr,
           floor((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                 / CAST(s AS DOUBLE)
                 * 1.0e6 + 0.5) / 1.0e6 AS chi2_dispersion
    FROM agg
    """,
)
def events_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson dispersion (variance-to-mean) test over HOURLY event
    counts on a complete hour spine (empty hours count as 0 — the
    sequence/explode pattern of the live W1 operator): VMR =
    s^2/mean and the chi-square form (n-1)*VMR = (n*ss - s*s)/s.
    Exact integer sums; the spine join is a broadcast (bounded by the
    covered time range). VMR >> 1 flags burstiness vs a Poisson
    process."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    hc = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    full_h = spine.join(hc, "hour", "left").select(
        F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c")
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    agg = full_h.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("decimal(19,0)").alias("s"),
        F.sum(dec("c") * dec("c")).cast("decimal(38,0)").alias("ss"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    var_num = nd * ssd - sd * sd
    return agg.select(
        "n",
        F.col("s").cast("long").alias("total"),
        (F.floor(var_num / ((nd - 1.0) * sd) * 1.0e9 + 0.5) / 1.0e9).alias(
            "dispersion_vmr"
        ),
        (F.floor(var_num / sd * 1.0e6 + 0.5) / 1.0e6).alias(
            "chi2_dispersion"
        ),
    )


# ===========================================================================
# Wave D — business/pipeline audits (beyond-reference scope): market
# basket lift, RFM segmentation, survival of inter-order gaps, EWMA /
# Bollinger monitoring, Benford first-digit audit, and a one-pass
# referential-integrity profile.
# ===========================================================================
@register(
    "orders_association_lift",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), n AS (
      SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM op
    ), supp AS (
      SELECT pk, CAST(count(*) AS BIGINT) AS c FROM op GROUP BY 1
    ), pairs AS (
      SELECT a.pk AS p1, b.pk AS p2, CAST(count(*) AS BIGINT) AS c12
      FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2
    )
    SELECT p1, p2, c12 AS support_pairs,
           s1.c AS support_p1, s2.c AS support_p2,
           floor(CAST(n.n_orders AS DOUBLE) * CAST(c12 AS DOUBLE)
                 / (CAST(s1.c AS DOUBLE) * CAST(s2.c AS DOUBLE))
                 * 1.0e6 + 0.5) / 1.0e6 AS lift
    FROM pairs
    JOIN supp s1 ON s1.pk = p1
    JOIN supp s2 ON s2.pk = p2
    CROSS JOIN n
    ORDER BY lift DESC, support_pairs DESC, p1, p2
    LIMIT 25
    """,
)
def orders_association_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule lift over within-order part pairs (market
    basket analysis): lift(a,b) = N*supp(ab)/(supp(a)*supp(b)) from
    exact order counts, top-25 by (lift, support, keys) with a fully
    deterministic tiebreak. Scale shape: the pair generator is a
    self-join on l_orderkey, bounded by order size (<=7 items in
    TPC-H) => linear in rows, never parts^2; supports broadcast back
    onto the pair aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    n = op.agg(F.countDistinct("ok").cast("long").alias("n_orders"))
    supp = op.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = op.alias("a")
    b = op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")),
        )
        .groupBy(F.col("a.pk").alias("p1"), F.col("b.pk").alias("p2"))
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
    )
    s1 = supp.select(F.col("pk").alias("p1"), F.col("c").alias("support_p1"))
    s2 = supp.select(F.col("pk").alias("p2"), F.col("c").alias("support_p2"))
    out = (
        pairs.join(s1, "p1")
        .join(s2, "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            F.col("c12").alias("support_pairs"),
            "support_p1",
            "support_p2",
            (
                F.floor(
                    F.col("n_orders").cast("double")
                    * F.col("c12").cast("double")
                    / (
                        F.col("support_p1").cast("double")
                        * F.col("support_p2").cast("double")
                    )
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("lift"),
        )
    )
    return out.orderBy(
        F.col("lift").desc(),
        F.col("support_pairs").desc(),
        "p1",
        "p2",
    ).limit(25)


@register(
    "customer_rfm_segments",
    oracle="""
    WITH mx AS (
      SELECT max(o_orderdate) AS dmax FROM orders
    ), cust AS (
      SELECT o_custkey,
             CAST(date_diff('day', max(o_orderdate), mx.dmax) AS BIGINT)
               AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS monetary_cents
      FROM orders, mx GROUP BY o_custkey, mx.dmax
    ), scored AS (
      SELECT o_custkey,
             ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey)
               AS m_score
      FROM cust
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY 1, 2, 3
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) quintile segmentation: score 1
    = most recent / most frequent / highest spend (deterministic
    custkey tiebreak), then the 5x5x5 segment census. The per-customer
    aggregate is map-side combinable; the three quintile scores come
    from ntile_two_pass (round-9 migration — the customer dimension
    scales with SF, so three global ntile windows would each sort it in
    one task; the two-pass form is bit-identical to the builtin, and
    DESC ordering is ASC on the negated integer). Integer inputs
    throughout => exact parity."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ntile_two_pass,
    )

    o = _t(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("dmax"))
    cust = (
        o.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.max("dmax"), F.max("o_orderdate"))
            .cast("long")
            .alias("recency_days"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
            )
            .cast("long")
            .alias("monetary_cents"),
        )
    )
    neg = cust.select(
        "o_custkey",
        "recency_days",
        (-F.col("frequency")).alias("__neg_f"),
        (-F.col("monetary_cents")).alias("__neg_m"),
    )
    scored = ntile_two_pass(
        neg, "recency_days", "o_custkey", 5, out_col="__r"
    )
    scored = ntile_two_pass(scored, "__neg_f", "o_custkey", 5, out_col="__f")
    scored = ntile_two_pass(scored, "__neg_m", "o_custkey", 5, out_col="__m")
    scored = scored.select(
        F.col("__r").cast("int").alias("r_score"),
        F.col("__f").cast("int").alias("f_score"),
        F.col("__m").cast("int").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )


@register(
    "orders_kaplan_meier",
    oracle="""
    WITH mx AS (SELECT max(o_orderdate) AS dmax FROM orders),
    seq AS (
      SELECT o_custkey, o_orderdate,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey)
               AS nxt
      FROM orders
    ), dur AS (
      SELECT CASE WHEN nxt IS NULL
                  THEN CAST(date_diff('day', o_orderdate, mx.dmax) AS BIGINT)
                  ELSE CAST(date_diff('day', o_orderdate, nxt) AS BIGINT)
             END AS t,
             CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS ev
      FROM seq, mx
    ), tot AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM dur),
    ev_t AS (
      SELECT t, CAST(sum(ev) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS leave_all
      FROM dur GROUP BY 1
    ), risk_all AS (
      -- at-risk just before t: n0 minus everyone who left strictly
      -- earlier (events AND censorings). The window must run BEFORE
      -- the d > 0 filter so censor-only times still deplete the risk
      -- set (SQL WHERE evaluates before window functions - hence the
      -- extra CTE).
      SELECT t, d,
             n0 - COALESCE(CAST(sum(leave_all) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) AS n_risk
      FROM ev_t, tot
    ), risk AS (
      SELECT t, d, n_risk FROM risk_all WHERE d > 0
    ), km AS (
      SELECT t, d, n_risk,
             CASE WHEN min(n_risk - d) OVER (ORDER BY t) = 0 THEN 0.0e0
                  ELSE exp(sum(ln(NULLIF((CAST(n_risk AS DOUBLE)
                                          - CAST(d AS DOUBLE))
                                         / CAST(n_risk AS DOUBLE), 0.0e0)))
                           OVER (ORDER BY t))
             END AS s
      FROM risk
    )
    SELECT t AS gap_days, d AS n_events, n_risk,
           floor(s * 1.0e9 + 0.5) / 1.0e9 AS survival
    FROM km
    """,
)
def orders_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier product-limit survival of customer inter-order
    gaps, with the gap from each customer's last order to the dataset
    horizon treated as RIGHT-CENSORED: S(t) = prod_{t_i<=t}
    (1 - d_i/n_i). The duration build is one per-customer lead window
    (bounded partitions); the KM curve itself runs over distinct gap
    values (bounded by the calendar span). The product is
    exp(cum-sum(ln .)) with the ordered window fixing the addition
    order in both engines, and a min-window zero-guard for the final
    (1 - d/n) = 0 step."""
    o = _t(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("dmax"))
    wseq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        "o_orderdate",
        F.lead("o_orderdate").over(wseq).alias("nxt"),
    )
    dur = seq.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("nxt").isNull(),
            F.datediff("dmax", "o_orderdate"),
        )
        .otherwise(F.datediff("nxt", "o_orderdate"))
        .cast("long")
        .alias("t"),
        F.when(F.col("nxt").isNull(), 0).otherwise(1).alias("ev"),
    )
    tot = dur.agg(F.count(F.lit(1)).cast("long").alias("n0"))
    ev_t = dur.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("leave_all"),
    )
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        ev_t.crossJoin(F.broadcast(tot))
        .select(
            "t",
            "d",
            (
                F.col("n0")
                - F.coalesce(
                    F.sum("leave_all").over(wcum).cast("long"), F.lit(0)
                )
            ).alias("n_risk"),
        )
        .filter(F.col("d") > 0)
    )
    wkm = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    s = F.when(
        F.min(F.col("n_risk") - F.col("d")).over(wkm) == 0, F.lit(0.0)
    ).otherwise(
        # NULLIF-guard the ln argument: the zero-factor rows are
        # already forced to 0 by the min-window branch, and NULL terms
        # drop out of the window sum identically in both engines.
        F.exp(
            F.sum(
                F.log(
                    F.nullif(
                        (
                            F.col("n_risk").cast("double")
                            - F.col("d").cast("double")
                        )
                        / F.col("n_risk").cast("double"),
                        F.lit(0.0),
                    )
                )
            ).over(wkm)
        )
    )
    return risk.select(
        F.col("t").alias("gap_days"),
        F.col("d").alias("n_events"),
        "n_risk",
        (F.floor(s * 1.0e9 + 0.5) / 1.0e9).alias("survival"),
    )


@register(
    "events_ewma_daily",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), idx AS (
      SELECT day, c,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
      FROM d
    ), terms AS (
      -- E_i = alpha * sum_{j<=i} (1-alpha)^(i-j) x_j + (1-alpha)^i-ish
      -- init handled by the j=1 term carrying the full remainder:
      -- classic E_1 = x_1 expansion. Per-term micro-quantized so the
      -- sum order cannot move the result.
      SELECT a.i, a.day,
             CAST(sum(CAST(floor(
               CASE WHEN b.i = 1
                    THEN power(0.7e0, CAST(a.i - 1 AS DOUBLE))
                         * CAST(b.c AS DOUBLE)
                    ELSE 0.3e0 * power(0.7e0, CAST(a.i - b.i AS DOUBLE))
                         * CAST(b.c AS DOUBLE)
               END * 1.0e6 + 0.5) AS BIGINT)) AS HUGEINT) AS e_micro
      FROM idx a JOIN idx b ON b.i <= a.i
      GROUP BY 1, 2
    )
    SELECT i AS day_index,
           CAST(e_micro AS DOUBLE) / 1.0e6 AS ewma
    FROM terms
    """,
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 0.3) of daily
    event counts, expanded to its closed form E_i = (1-a)^(i-1) x_1 +
    a * sum_{1<j<=i} (1-a)^(i-j) x_j so there is no sequential
    recursion: each day's EWMA is an independent weighted sum over the
    bounded day table (O(T^2) with T ~ tens-to-thousands of days —
    trivially small next to the full-table day groupBy that feeds
    it). Each term is floored to 1e-6 units and summed exactly, so
    the join-order of the sum cannot move the result (a last-ulp
    power() difference flips a term quantum with ~1e-10 probability
    — far below the emitted precision)."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    idx = d.select(
        "day",
        "c",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("i"),
    )
    a = idx.alias("a")
    b = idx.alias("b")
    term = F.when(
        F.col("b.i") == 1,
        F.pow(F.lit(0.7), (F.col("a.i") - 1).cast("double"))
        * F.col("b.c").cast("double"),
    ).otherwise(
        F.lit(0.3)
        * F.pow(F.lit(0.7), (F.col("a.i") - F.col("b.i")).cast("double"))
        * F.col("b.c").cast("double")
    )
    terms = (
        a.join(b, F.col("b.i") <= F.col("a.i"))
        .groupBy(F.col("a.i").alias("day_index"))
        .agg(
            F.sum(F.floor(term * 1.0e6 + 0.5).cast("long").cast("decimal(38,0)"))
            .alias("e_micro")
        )
    )
    return terms.select(
        "day_index",
        (F.col("e_micro").cast("double") / 1.0e6).alias("ewma"),
    )


@register(
    "orders_bollinger_bands",
    oracle="""
    WITH d AS (
      SELECT o_orderdate AS day,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ), w AS (
      SELECT day, rev,
             CAST(count(*) OVER win AS BIGINT) AS nw,
             CAST(sum(rev) OVER win AS BIGINT) AS s,
             sum(CAST(rev AS HUGEINT) * CAST(rev AS HUGEINT)) OVER win AS ss,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
      FROM d
      WINDOW win AS (ORDER BY day ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
    )
    SELECT day, rev,
           floor(CAST(s AS DOUBLE) / 21.0e0 * 1.0e2 + 0.5) / 1.0e2
             AS ma21_cents,
           floor((CAST(s AS DOUBLE) / 21.0e0
                  + 2.0e0 * sqrt((21.0e0 * CAST(ss AS DOUBLE)
                                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                                 / (21.0e0 * 20.0e0)))
                 * 1.0e2 + 0.5) / 1.0e2 AS upper_band,
           floor((CAST(s AS DOUBLE) / 21.0e0
                  - 2.0e0 * sqrt((21.0e0 * CAST(ss AS DOUBLE)
                                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                                 / (21.0e0 * 20.0e0)))
                 * 1.0e2 + 0.5) / 1.0e2 AS lower_band
    FROM w WHERE nw = 21 AND i % 10 = 0
    """,
)
def orders_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (21-day rolling mean +/- 2 sample std) over
    daily order revenue, emitted every 10th day with a full window.
    The rolling sums are exact integers inside a rows-window over the
    bounded calendar table (one map-side-combinable day groupBy feeds
    it); mean/std finish in double on the exact sums. The ORDER BY
    day window is global but bounded by the calendar span - the
    two-pass global-rank operator is the escape hatch at larger
    spans."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("rev"),
    )
    win = Window.orderBy("day").rowsBetween(-20, 0)
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    w = d.select(
        "day",
        "rev",
        F.count(F.lit(1)).over(win).cast("long").alias("nw"),
        F.sum("rev").over(win).cast("long").alias("s"),
        F.sum(dec("rev") * dec("rev")).over(win).cast("decimal(38,0)").alias("ss"),
        F.row_number().over(Window.orderBy("day")).cast("long").alias("i"),
    )
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    ma = sd / 21.0
    two_sig = 2.0 * F.sqrt((21.0 * ssd - sd * sd) / (21.0 * 20.0))
    return w.filter((F.col("nw") == 21) & (F.col("i") % 10 == 0)).select(
        "day",
        "rev",
        (F.floor(ma * 1.0e2 + 0.5) / 1.0e2).alias("ma21_cents"),
        (F.floor((ma + two_sig) * 1.0e2 + 0.5) / 1.0e2).alias("upper_band"),
        (F.floor((ma - two_sig) * 1.0e2 + 0.5) / 1.0e2).alias("lower_band"),
    )


@register(
    "tpch_referential_integrity_profile",
    oracle="""
    SELECT 'lineitem->orders' AS fk_edge,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_child,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'lineitem->part',
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem->supplier',
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM supplier s
                              WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders->customer',
           (SELECT CAST(count(*) AS BIGINT) FROM orders),
           (SELECT CAST(count(*) AS BIGINT) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer->nation',
           (SELECT CAST(count(*) AS BIGINT) FROM customer),
           (SELECT CAST(count(*) AS BIGINT) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'supplier->nation',
           (SELECT CAST(count(*) AS BIGINT) FROM supplier),
           (SELECT CAST(count(*) AS BIGINT) FROM supplier s
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = s.s_nationkey))
    UNION ALL
    SELECT 'nation->region',
           (SELECT CAST(count(*) AS BIGINT) FROM nation),
           (SELECT CAST(count(*) AS BIGINT) FROM nation n
            WHERE NOT EXISTS (SELECT 1 FROM region r
                              WHERE r.r_regionkey = n.n_regionkey))
    """,
)
def tpch_referential_integrity_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-pass referential-integrity profile across the seven TPC-H
    FK edges: child row count + orphan count (left-anti join) per
    edge. The schema-wide data-quality gate a pipeline runs before
    trusting joins. Dimension sides broadcast; the three lineitem
    edges share one scan each; the result is 7 rows."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")

    def edge(name, child, parent, ck, pk):
        orphans = child.join(
            parent.select(F.col(pk).alias(ck)), ck, "left_anti"
        )
        return (
            child.agg(F.count(F.lit(1)).cast("long").alias("n_child"))
            .crossJoin(
                orphans.agg(
                    F.count(F.lit(1)).cast("long").alias("n_orphans")
                )
            )
            .select(
                F.lit(name).alias("fk_edge"), "n_child", "n_orphans"
            )
        )

    out = edge("lineitem->orders", li, o, "l_orderkey", "o_orderkey")
    for args in (
        ("lineitem->part", li, p, "l_partkey", "p_partkey"),
        ("lineitem->supplier", li, s, "l_suppkey", "s_suppkey"),
        ("orders->customer", o, c, "o_custkey", "c_custkey"),
        ("customer->nation", c, n, "c_nationkey", "n_nationkey"),
        ("supplier->nation", s, n, "s_nationkey", "n_nationkey"),
        ("nation->region", n, r, "n_regionkey", "r_regionkey"),
    ):
        out = out.unionByName(edge(*args))
    return out


# ===========================================================================
# Wave E — text retrieval / readability / cross-source vocabulary
# (beyond-reference LLM-pipeline scope).
# ===========================================================================
_BM25_TERMS = ["scan", "join", "stream"]
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ), corpus AS (
      SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n,
             CAST(sum(dl) AS BIGINT) AS sdl
      FROM (SELECT doc_id, any_value(dl) AS dl FROM tok GROUP BY 1)
    ), tf AS (
      SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf,
             any_value(dl) AS dl
      FROM tok
      WHERE t IN ({", ".join(f"'{w}'" for w in _BM25_TERMS)})
      GROUP BY 1, 2
    ), df AS (
      SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), scored AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5e0)
                  / (CAST(df AS DOUBLE) + 0.5e0) + 1.0e0)
               * (CAST(tf AS DOUBLE) * ({_BM25_K1:.17g} + 1.0e0))
               / (CAST(tf AS DOUBLE) + {_BM25_K1:.17g}
                  * (1.0e0 - {_BM25_B:.17g}
                     + {_BM25_B:.17g} * CAST(dl AS DOUBLE)
                       * CAST(n AS DOUBLE) / CAST(sdl AS DOUBLE)))
               * 1.0e9 + 0.5) AS BIGINT) AS s_nano
      FROM tf JOIN df ON df.t = tf.t CROSS JOIN corpus
    ), total AS (
      SELECT doc_id, CAST(sum(s_nano) AS BIGINT) AS score_nano
      FROM scored GROUP BY 1
    )
    SELECT doc_id, CAST(score_nano AS DOUBLE) / 1.0e9 AS bm25
    FROM total
    ORDER BY score_nano DESC, doc_id
    LIMIT 20
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (k1=1.2, b=0.75) for the fixed query
    {scan, join, stream}: Robertson idf ln((N-df+0.5)/(df+0.5)+1),
    per-term score nano-quantized before the per-doc sum so the
    3-term addition order cannot move the result, deterministic
    (score, doc_id) top-20. Scale shape: one tokenize pass filtered
    to the query terms (predicate pushdown to the explode), df and
    corpus stats broadcast; never a full posting-list materialization
    beyond the query terms."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    base = docs.select(
        "doc_id",
        words.alias("w"),
        F.size(words).cast("long").alias("dl"),
    )
    corpus = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dl").cast("long").alias("sdl"),
    )
    tok = base.select(
        "doc_id", "dl", F.explode("w").alias("t")
    ).filter(F.col("t").isin(_BM25_TERMS))
    tf = tok.groupBy("doc_id", "t").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.first("dl").alias("dl"),
    )
    df = tf.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("df"))
    nd = F.col("n").cast("double")
    idf = F.log(
        (nd - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
        + 1.0
    )
    tfd = F.col("tf").cast("double")
    norm = tfd + _BM25_K1 * (
        1.0
        - _BM25_B
        + _BM25_B * F.col("dl").cast("double") * nd / F.col("sdl").cast("double")
    )
    scored = (
        tf.join(F.broadcast(df), "t")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            F.floor(idf * (tfd * (_BM25_K1 + 1.0)) / norm * 1.0e9 + 0.5)
            .cast("long")
            .alias("s_nano"),
        )
    )
    total = scored.groupBy("doc_id").agg(
        F.sum("s_nano").cast("long").alias("score_nano")
    )
    return (
        total.orderBy(F.col("score_nano").desc(), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            (F.col("score_nano").cast("double") / 1.0e9).alias("bm25"),
        )
    )


@register(
    "text_readability_flesch",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS syl
      FROM documents
    ), s AS (
      SELECT doc_id, w, syl,
             greatest(CAST(1 AS BIGINT), (w + 14) // 15) AS sent
      FROM m
    )
    SELECT doc_id, w AS n_words, sent AS n_sentences, syl AS n_syllables,
           floor((206.835e0
                  - 1.015e0 * CAST(w AS DOUBLE) / CAST(sent AS DOUBLE)
                  - 84.6e0 * CAST(syl AS DOUBLE) / CAST(w AS DOUBLE))
                 * 1.0e6 + 0.5) / 1.0e6 AS flesch
    FROM s WHERE w > 0
    """,
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document: 206.835 - 1.015*(W/S) -
    84.6*(Syl/W), with syllables approximated by vowel-group count
    (the standard cheap heuristic) and — because this corpus carries
    no sentence punctuation — S approximated by fixed 15-word
    pseudo-sentences, ceil(W/15), documented here so the statistic
    stays meaningful. Pure per-row expressions over one scan; integer
    counts => exact parity."""
    docs = _t(spark, sf_dir, "documents")
    w = F.size(F.split(F.col("text"), " ")).cast("long")
    syl = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
    ).cast("long")
    m = docs.select(
        "doc_id", w.alias("w"), syl.alias("syl")
    ).filter(F.col("w") > 0)
    sent = F.greatest(F.lit(1).cast("long"), ((F.col("w") + 14) / 15).cast("long"))
    wd = F.col("w").cast("double")
    return m.select(
        "doc_id",
        F.col("w").alias("n_words"),
        sent.alias("n_sentences"),
        F.col("syl").alias("n_syllables"),
        (
            F.floor(
                (
                    206.835
                    - 1.015 * wd / sent.cast("double")
                    - 84.6 * F.col("syl").cast("double") / wd
                )
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("flesch"),
    )


@register(
    "source_vocab_jaccard",
    oracle="""
    WITH sv AS (
      SELECT DISTINCT source, unnest(string_split(text, ' ')) AS w
      FROM documents
    ), size_ AS (
      SELECT source, CAST(count(*) AS BIGINT) AS v FROM sv GROUP BY 1
    ), inter AS (
      SELECT a.source AS s1, b.source AS s2, CAST(count(*) AS BIGINT) AS i
      FROM sv a JOIN sv b ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT s1, s2, i AS n_common,
           v1.v AS vocab_1, v2.v AS vocab_2,
           floor(CAST(i AS DOUBLE)
                 / CAST(v1.v + v2.v - i AS DOUBLE) * 1.0e9 + 0.5) / 1.0e9
             AS jaccard
    FROM inter
    JOIN size_ v1 ON v1.source = s1
    JOIN size_ v2 ON v2.source = s2
    ORDER BY jaccard DESC, s1, s2
    LIMIT 40
    """,
)
def source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between document sources (the
    cross-source contamination/overlap screen): distinct (source,
    word) pairs, word-bucketed self-join for intersections (bounded by
    per-word source lists <= |sources| — never sources^2 x vocab),
    exact integer Jaccard, deterministic top-40. At 100 TB the
    per-word source list is capped by the source-dimension
    cardinality, so the join stays linear in the vocabulary."""
    docs = _t(spark, sf_dir, "documents")
    sv = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).distinct()
    size_ = sv.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("v"))
    a = sv.alias("a")
    b = sv.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("s1"), F.col("b.source").alias("s2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("i"))
    )
    v1 = size_.select(F.col("source").alias("s1"), F.col("v").alias("vocab_1"))
    v2 = size_.select(F.col("source").alias("s2"), F.col("v").alias("vocab_2"))
    out = (
        inter.join(F.broadcast(v1), "s1")
        .join(F.broadcast(v2), "s2")
        .select(
            "s1",
            "s2",
            F.col("i").alias("n_common"),
            "vocab_1",
            "vocab_2",
            (
                F.floor(
                    F.col("i").cast("double")
                    / (
                        F.col("vocab_1") + F.col("vocab_2") - F.col("i")
                    ).cast("double")
                    * 1.0e9
                    + 0.5
                )
                / 1.0e9
            ).alias("jaccard"),
        )
    )
    return out.orderBy(F.col("jaccard").desc(), "s1", "s2").limit(40)


# ===========================================================================
# Wave F — graph analytics on the co-purchase edge set (shared with
# staged_r8: support>=2 part pairs within orders).
# ===========================================================================
def _kcore_cte_chain(rounds: int) -> str:
    """Unrolled k=3 peeling CTE chain (e0..e{rounds}): each round
    keeps edges whose BOTH endpoints have degree >= 3 in the previous
    round's edge set. Fixed depth => identical plan both engines."""
    from cioos_siooc_data_transform_spark.plans.staged_r8 import _EDGES_SQL

    # MATERIALIZED: every e{p} is referenced four times (degree agg,
    # two prune joins, the count row) — inlining would re-expand the
    # lineitem scan exponentially with depth (observed as an fd
    # exhaustion on the parquet file before runtime even matters).
    parts = [f"e0 AS MATERIALIZED ({_EDGES_SQL})"]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"""d{p} AS MATERIALIZED (
      SELECT u, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT a AS u FROM e{p} UNION ALL SELECT b FROM e{p}
      ) GROUP BY 1
    ), k{p} AS (SELECT u FROM d{p} WHERE deg >= 3),
    e{r} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{p} e
      JOIN k{p} ka ON ka.u = e.a
      JOIN k{p} kb ON kb.u = e.b
    )"""
        )
    return "WITH " + ",\n    ".join(parts)


def _kcore_oracle() -> str:
    chain = _kcore_cte_chain(6)
    rows = []
    for r in range(7):
        rows.append(
            f"""SELECT CAST({r} AS BIGINT) AS round,
           (SELECT CAST(count(*) AS BIGINT) FROM (
              SELECT a AS u FROM e{r} UNION SELECT b FROM e{r})) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS n_edges"""
        )
    return chain + "\n" + "\nUNION ALL\n".join(rows)


@register("graph_kcore3_peeling", oracle=_kcore_oracle())
def graph_kcore3_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core decomposition by iterative peeling, unrolled to 6 fixed
    rounds (each removes nodes of degree < 3 and their edges): emits
    the per-round (n_nodes, n_edges) shrink profile — the
    convergence trace IS the result, and equal last rows certify the
    fixpoint at this scale. Each round is one degree groupBy + two
    semi-joins on the current edge set (monotonically shrinking);
    rounds are bounded and the edge set is checkpoint-reused. The
    recursive-peel depth needed in adversarial graphs is the
    documented escape hatch (degeneracy ordering in
    operators/graphs.py)."""
    from cioos_siooc_data_transform_spark.plans.staged_r8 import (
        _copurchase_edges,
    )

    e = checkpoint_df(_copurchase_edges(spark, sf_dir), eager=False)
    out = None
    for r in range(7):
        # Each round references the current edge set three times (the
        # degree agg, the semi-join prune, the edge count) and the
        # degree relation twice — without per-round lineage cuts the
        # recomputation multiplies ~3x per round (3^6 at round 6).
        # The lazy checkpoints make every round's relation compute
        # once and be block-reused by all downstream references.
        deg = checkpoint_df(
            e.select(F.col("a").alias("u"))
            .unionAll(e.select(F.col("b").alias("u")))
            .groupBy("u")
            .agg(F.count(F.lit(1)).cast("long").alias("deg")),
            eager=False,
        )
        row = deg.agg(
            F.lit(r).cast("long").alias("round"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
        ).crossJoin(e.agg(F.count(F.lit(1)).cast("long").alias("n_edges")))
        out = row if out is None else out.unionByName(row)
        if r < 6:
            keep = deg.filter(F.col("deg") >= 3).select("u")
            e = checkpoint_df(
                e.join(
                    keep.select(F.col("u").alias("a")), "a", "left_semi"
                ).join(keep.select(F.col("u").alias("b")), "b", "left_semi")
                .select("a", "b"),
                eager=False,
            )
    return out


def _adamic_adar_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r8 import _EDGES_SQL

    return f"""
    WITH e AS ({_EDGES_SQL}),
    adj AS (
      SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
    ), deg AS (
      SELECT u AS z, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1
    ), wedge AS (
      SELECT x.v AS a, y.v AS c,
             CAST(floor(1.0e0 / ln(CAST(d.deg AS DOUBLE)) * 1.0e9 + 0.5)
                  AS BIGINT) AS w_nano
      FROM adj x
      JOIN adj y ON x.u = y.u AND x.v < y.v
      JOIN deg d ON d.z = x.u
    ), scored AS (
      SELECT a, c, CAST(sum(w_nano) AS BIGINT) AS aa_nano
      FROM wedge GROUP BY 1, 2
    ), cand AS (
      SELECT s.a, s.c, s.aa_nano
      FROM scored s
      ANTI JOIN e ON s.a = e.a AND s.c = e.b
    )
    SELECT a, c, CAST(aa_nano AS DOUBLE) / 1.0e9 AS adamic_adar
    FROM cand ORDER BY aa_nano DESC, a, c LIMIT 20
    """


@register("graph_adamic_adar_linkpred", oracle=_adamic_adar_oracle())
def graph_adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction: for unlinked pairs, score =
    sum over common neighbors z of 1/ln(deg(z)) — down-weighting hub
    intermediaries (the refinement over raw common-neighbor counts).
    Per-wedge contributions are nano-quantized before the pair sum
    (addition-order-proof), top-20 deterministic. Wedge middle nodes
    necessarily have deg >= 2, so ln(deg) > 0 except deg == 2 ...
    ln(2) ~ 0.69 — no singularity. Same bounded wedge shape as the
    live common-neighbors query."""
    from cioos_siooc_data_transform_spark.plans.staged_r8 import (
        _copurchase_edges,
    )

    e = checkpoint_df(_copurchase_edges(spark, sf_dir), eager=False)
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = adj.groupBy(F.col("u").alias("z")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    x = adj.select(F.col("v").alias("a"), F.col("u").alias("z1"))
    y = adj.select(F.col("u").alias("z2"), F.col("v").alias("c"))
    wedge = (
        x.join(y, x.z1 == y.z2)
        .filter(F.col("a") < F.col("c"))
        .join(F.broadcast(deg), F.col("z1") == F.col("z"))
        .select(
            "a",
            "c",
            F.floor(
                1.0 / F.log(F.col("deg").cast("double")) * 1.0e9 + 0.5
            )
            .cast("long")
            .alias("w_nano"),
        )
    )
    scored = wedge.groupBy("a", "c").agg(
        F.sum("w_nano").cast("long").alias("aa_nano")
    )
    cand = scored.join(
        e, (scored.a == e.a) & (scored.c == e.b), "left_anti"
    )
    return (
        cand.orderBy(F.col("aa_nano").desc(), "a", "c")
        .limit(20)
        .select(
            "a",
            "c",
            (F.col("aa_nano").cast("double") / 1.0e9).alias("adamic_adar"),
        )
    )


def _degree_gini_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r8 import _EDGES_SQL

    return f"""
    WITH e AS ({_EDGES_SQL}),
    deg AS (
      SELECT u, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT a AS u FROM e UNION ALL SELECT b FROM e
      ) GROUP BY 1
    ), ranked AS (
      SELECT deg, CAST(row_number() OVER (ORDER BY deg, u) AS BIGINT) AS i
      FROM deg
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(deg) AS HUGEINT) AS sd,
             sum(CAST(i AS HUGEINT) * CAST(deg AS HUGEINT)) AS sid
      FROM ranked
    )
    SELECT n, CAST(sd AS BIGINT) AS total_degree,
           floor((2.0e0 * CAST(sid AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(sd AS DOUBLE))
                  - (CAST(n AS DOUBLE) + 1.0e0) / CAST(n AS DOUBLE))
                 * 1.0e9 + 0.5) / 1.0e9 AS degree_gini
    FROM s
    """


@register("graph_degree_gini", oracle=_degree_gini_oracle())
def graph_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the co-purchase degree distribution (hub
    concentration): with degrees sorted ascending, G = 2*sum(i*d_i) /
    (n*sum(d_i)) - (n+1)/n, every sum exact over integers. Ranks come
    from ranked_cumsum_two_pass (round-10 pre-activation migration —
    the per-node degree table scales with |parts|, so a global-order
    window would sort it in ONE task; the range-bucketed form splits
    it across ~512 bounded windows, same math as the migrated
    orders_gini_concentration / customer_gini_by_nation twins)."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r8 import (
        _copurchase_edges,
    )

    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("a").alias("u"))
        .unionAll(e.select(F.col("b").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    ranked = ranked_cumsum_two_pass(
        deg, "deg", "u",
        out_rank="i", out_cum="__cum_unused", ascending=True,
    ).select("deg", F.col("i").cast("long").alias("i"))
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("deg").cast("decimal(38,0)").alias("sd"),
        F.sum(dec("i") * dec("deg")).cast("decimal(38,0)").alias("sid"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        "n",
        F.col("sd").cast("long").alias("total_degree"),
        (
            F.floor(
                (
                    2.0
                    * F.col("sid").cast("double")
                    / (nd * F.col("sd").cast("double"))
                    - (nd + 1.0) / nd
                )
                * 1.0e9
                + 0.5
            )
            / 1.0e9
        ).alias("degree_gini"),
    )


# ===========================================================================
# Wave G — embedding-corpus health audits for the LLM-data pipeline:
# anisotropy (Ethayarajh 2019's observation that contextual embedding
# spaces collapse toward a cone), per-label margin (are labels
# linearly separated by their centroids?), and the top principal
# component by fixed-depth power iteration. All sums are
# integer-quantized per term before aggregation (addition-order-proof
# — the repo-wide oracle-parity rule).
# ===========================================================================
def _emb_q(spark: SparkSession, sf_dir: str, scale: float) -> DataFrame:
    """Embeddings exploded to (vec_id, label, pos, q) with elements
    floor-quantized at ``scale`` — the shared exact-integer substrate
    for the wave-G audits. One projection + generate, no shuffle."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    q = F.transform(e, lambda x: F.floor(x * scale + 0.5).cast("long"))
    return emb.select(
        "vec_id", "label", F.posexplode(q).alias("pos", "q")
    ).withColumn("pos", F.col("pos").cast("long"))


_EMB_Q_SQL = """
      SELECT vec_id, label, unnest(range(len(e))) AS pos, unnest(q) AS q
      FROM (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(floor(x * {scale} + 0.5) AS BIGINT)
               ) AS q
        FROM embeddings
      )
"""


@register(
    "embedding_anisotropy_audit",
    oracle=f"""
    WITH lng AS MATERIALIZED ({_EMB_Q_SQL.format(scale="1.0e9")}),
    d AS (
      SELECT pos,
             CAST(sum(q) AS HUGEINT) AS s,
             CAST(sum(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS HUGEINT)
               AS ss,
             CAST(count(*) AS BIGINT) AS n
      FROM lng GROUP BY pos
    ), t AS (
      SELECT max(n) AS n,
             CAST(sum(s * s) AS DOUBLE) / 1.0e18 AS sum_s2,
             CAST(sum(ss) AS HUGEINT) AS sum_ss_exact,
             CAST(sum(CAST(floor(
               (CAST(ss AS DOUBLE) / 1.0e18)
                 * (CAST(ss AS DOUBLE) / 1.0e18) * 1.0e12 + 0.5
             ) AS HUGEINT)) AS DOUBLE) / 1.0e12 AS sum_m2,
             CAST(max(ss) AS DOUBLE) / 1.0e18 AS max_m
      FROM d
    )
    SELECT n,
           floor(sqrt(sum_s2) / CAST(n AS DOUBLE) * 1.0e9 + 0.5) / 1.0e9
             AS mean_vector_norm,
           floor((sum_s2 - CAST(sum_ss_exact AS DOUBLE) / 1.0e18)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0))
                 * 1.0e12 + 0.5) / 1.0e12 AS avg_pairwise_cosine,
           floor((CAST(sum_ss_exact AS DOUBLE) / 1.0e18)
                 * (CAST(sum_ss_exact AS DOUBLE) / 1.0e18)
                 / sum_m2 * 1.0e6 + 0.5) / 1.0e6 AS participation_ratio,
           floor(max_m / (CAST(sum_ss_exact AS DOUBLE) / 1.0e18)
                 * 1.0e9 + 0.5) / 1.0e9 AS max_dim_share
    FROM t
    """,
)
def embedding_anisotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anisotropy audit (Ethayarajh 2019; Mu & Viswanath
    2018 all-but-the-top): average pairwise cosine across ALL n² pairs
    computed exactly from per-dimension sums — for unit vectors
    avg_{i≠j} xᵢ·xⱼ = (‖Σx‖² − Σ‖xᵢ‖²)/(n(n−1)) — plus the mean-vector
    norm (the common-direction bias), the participation ratio of the
    per-dimension second-moment spectrum (effective dimensionality,
    (Σm)²/Σm², 64 = isotropic), and the largest single dimension's
    energy share. One explode + a 64-group combine: the quadratic
    pairwise definition collapses to linear sums, so the audit costs
    one scan at any corpus size. Per-dim sums are exact decimal over
    1e9-quantized elements; the 64-term finishers re-quantize per term
    (addition-order-proof)."""
    lng = _emb_q(spark, sf_dir, 1.0e9)
    dec = F.col("q").cast("decimal(19,0)")
    d = lng.groupBy("pos").agg(
        F.sum(dec).cast("decimal(38,0)").alias("s"),
        F.sum(dec * dec).cast("decimal(38,0)").alias("ss"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    ss_d = F.col("ss").cast("double") / 1.0e18
    t = d.agg(
        F.max("n").alias("n"),
        (F.sum(F.col("s") * F.col("s")).cast("double") / 1.0e18).alias(
            "sum_s2"
        ),
        F.sum("ss").cast("decimal(38,0)").alias("sum_ss_exact"),
        (
            F.sum(
                F.floor(ss_d * ss_d * 1.0e12 + 0.5).cast("decimal(38,0)")
            ).cast("double")
            / 1.0e12
        ).alias("sum_m2"),
        (F.max("ss").cast("double") / 1.0e18).alias("max_m"),
    )
    n_d = F.col("n").cast("double")
    sum_ss = F.col("sum_ss_exact").cast("double") / 1.0e18
    return t.select(
        "n",
        (F.floor(F.sqrt(F.col("sum_s2")) / n_d * 1.0e9 + 0.5) / 1.0e9).alias(
            "mean_vector_norm"
        ),
        (
            F.floor(
                (F.col("sum_s2") - sum_ss) / (n_d * (n_d - 1.0)) * 1.0e12
                + 0.5
            )
            / 1.0e12
        ).alias("avg_pairwise_cosine"),
        (
            F.floor(sum_ss * sum_ss / F.col("sum_m2") * 1.0e6 + 0.5) / 1.0e6
        ).alias("participation_ratio"),
        (F.floor(F.col("max_m") / sum_ss * 1.0e9 + 0.5) / 1.0e9).alias(
            "max_dim_share"
        ),
    )


@register(
    "embedding_label_margin",
    oracle=f"""
    WITH lng AS MATERIALIZED ({_EMB_Q_SQL.format(scale="1.0e9")}),
    cent AS MATERIALIZED (
      SELECT label AS clabel, pos,
             CAST(floor(CAST(sum(q) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) AS cq
      FROM lng GROUP BY 1, 2
    ), cn AS (
      SELECT clabel,
             sqrt(CAST(sum(CAST(cq AS HUGEINT) * CAST(cq AS HUGEINT))
                       AS DOUBLE)) AS cnorm
      FROM cent GROUP BY 1
    ), dots AS (
      SELECT v.vec_id, v.label, c.clabel,
             CAST(sum(CAST(v.q AS HUGEINT) * CAST(c.cq AS HUGEINT))
                  AS DOUBLE) AS dot
      FROM lng v JOIN cent c USING (pos)
      GROUP BY 1, 2, 3
    ), sims AS (
      SELECT d.vec_id, d.label,
             max(CASE WHEN d.clabel = d.label
                      THEN d.dot / (1.0e9 * cn.cnorm) END) AS own,
             max(CASE WHEN d.clabel <> d.label
                      THEN d.dot / (1.0e9 * cn.cnorm) END) AS best_other
      FROM dots d JOIN cn ON cn.clabel = d.clabel
      GROUP BY 1, 2
    ), m AS (
      SELECT label,
             CAST(floor((own - best_other) * 1.0e9 + 0.5) AS BIGINT)
               AS margin_nano
      FROM sims
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           floor(CAST(sum(margin_nano) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 1.0e9 * 1.0e6 + 0.5) / 1.0e6
             AS mean_margin,
           CAST(count(CASE WHEN margin_nano <= 0 THEN 1 END) AS BIGINT)
             AS violations
    FROM m GROUP BY label ORDER BY label
    """,
)
def embedding_label_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid margin audit (the nearest-class-mean view of
    label quality a curation pipeline runs before training a probe):
    every vector's cosine to its own label centroid vs its best
    other-label centroid; margin ≤ 0 means the vector sits on the
    wrong side of the class-mean boundary (a label-noise candidate —
    the Northcutt-style confident-learning screen reduced to
    centroids). Scale shape: centroids are a labels×dims combine
    (bounded), the vector×centroid score is an equi-join on dim
    against that bounded relation followed by a (vec, label) combine —
    linear in corpus size, never pairwise. Centroid components are
    themselves floor-quantized integers so the dot products are exact
    decimal sums; margins re-quantize per vector before the per-label
    mean."""
    lng = _emb_q(spark, sf_dir, 1.0e9)
    cent = lng.groupBy(
        F.col("label").alias("clabel"), F.col("pos").alias("cpos")
    ).agg(
        F.floor(
            F.sum(F.col("q")).cast("double") / F.count(F.lit(1)).cast("double")
            + 0.5
        )
        .cast("long")
        .alias("cq")
    )
    cdec = F.col("cq").cast("decimal(19,0)")
    cn = cent.groupBy("clabel").agg(
        F.sqrt(F.sum(cdec * cdec).cast("double")).alias("cnorm")
    )
    dots = (
        lng.join(
            F.broadcast(cent), lng["pos"] == cent["cpos"]
        )
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum(
                F.col("q").cast("decimal(19,0)") * F.col("cq").cast("decimal(19,0)")
            )
            .cast("double")
            .alias("dot")
        )
    )
    own_is = F.col("clabel") == F.col("label")
    sim = F.col("dot") / (1.0e9 * F.col("cnorm"))
    sims = (
        dots.join(F.broadcast(cn), "clabel")
        .groupBy("vec_id", "label")
        .agg(
            F.max(F.when(own_is, sim)).alias("own"),
            F.max(F.when(~own_is, sim)).alias("best_other"),
        )
    )
    margin_nano = (
        F.floor((F.col("own") - F.col("best_other")) * 1.0e9 + 0.5)
        .cast("long")
        .alias("margin_nano")
    )
    m = sims.select("label", margin_nano)
    return (
        m.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            (
                F.floor(
                    F.sum("margin_nano").cast("double")
                    / F.count(F.lit(1)).cast("double")
                    / 1.0e9
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("mean_margin"),
            F.count(F.when(F.col("margin_nano") <= 0, 1))
            .cast("long")
            .alias("violations"),
        )
        .orderBy("label")
    )


def _pca_oracle() -> str:
    lng = _EMB_Q_SQL.format(scale="1.0e6")
    parts = [
        f"lng AS MATERIALIZED ({lng})",
        """mom AS MATERIALIZED (
      SELECT a.pos AS i, b.pos AS j,
             CAST(sum(CAST(a.q AS HUGEINT) * CAST(b.q AS HUGEINT))
                  AS HUGEINT) AS m
      FROM lng a JOIN lng b USING (vec_id) GROUP BY 1, 2
    )""",
        """s AS (
      SELECT pos AS i, CAST(sum(q) AS HUGEINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM lng GROUP BY 1
    )""",
        """cov AS MATERIALIZED (
      SELECT mom.i, mom.j,
             CAST(floor(
               (CAST(m AS DOUBLE) / 1.0e12
                - (CAST(si.s AS DOUBLE) / 1.0e6)
                  * (CAST(sj.s AS DOUBLE) / 1.0e6) / CAST(si.n AS DOUBLE))
               / CAST(si.n AS DOUBLE) * 1.0e12 + 0.5) AS BIGINT) AS cq
      FROM mom JOIN s si ON si.i = mom.i JOIN s sj ON sj.i = mom.j
    )""",
        """v0 AS (
      SELECT DISTINCT j, CAST(125000000 AS BIGINT) AS vq
      FROM (SELECT j FROM cov)
    )""",
    ]
    for k in range(1, 9):
        p = k - 1
        parts += [
            f"""u{k} AS MATERIALIZED (
      SELECT cov.i, CAST(sum(CAST(cq AS HUGEINT) * CAST(vq AS HUGEINT))
                         AS HUGEINT) AS u
      FROM cov JOIN v{p} ON v{p}.j = cov.j GROUP BY 1
    )""",
            f"""n{k} AS (
      SELECT CAST(sum(CAST(floor(
               (CAST(u AS DOUBLE) / 1.0e21) * (CAST(u AS DOUBLE) / 1.0e21)
               * 1.0e18 + 0.5) AS HUGEINT)) AS DOUBLE) AS n2
      FROM u{k}
    )""",
            f"""v{k} AS MATERIALIZED (
      SELECT i AS j,
             CAST(floor(CAST(u AS DOUBLE) / 1.0e21
                        / sqrt(n2 / 1.0e18) * 1.0e9 + 0.5) AS BIGINT) AS vq
      FROM u{k}, n{k}
    )""",
        ]
    parts += [
        """u9 AS MATERIALIZED (
      SELECT cov.i, CAST(sum(CAST(cq AS HUGEINT) * CAST(vq AS HUGEINT))
                         AS HUGEINT) AS u
      FROM cov JOIN v8 ON v8.j = cov.j GROUP BY 1
    )""",
        """ray AS (
      SELECT CAST(sum(CAST(floor(
               (CAST(vq AS DOUBLE) / 1.0e9) * (CAST(u AS DOUBLE) / 1.0e21)
               * 1.0e12 + 0.5) AS HUGEINT)) AS DOUBLE) / 1.0e12 AS num,
             CAST(sum(CAST(vq AS HUGEINT) * CAST(vq AS HUGEINT)) AS DOUBLE)
               / 1.0e18 AS den
      FROM u9 JOIN v8 ON v8.j = u9.i
    )""",
        """ranked AS (
      SELECT CAST(row_number() OVER (ORDER BY abs(vq) DESC, j) AS BIGINT)
               AS rank,
             j AS dim, CAST(vq AS DOUBLE) / 1.0e9 AS loading,
             floor(num / den * 1.0e9 + 0.5) / 1.0e9 AS eigenvalue
      FROM v8, ray
    )""",
    ]
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\nSELECT rank, dim, loading, eigenvalue FROM ranked"
        + "\nWHERE rank <= 8 ORDER BY rank"
    )


@register("embedding_pca_power_iteration", oracle=_pca_oracle())
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by eight fixed
    power-iteration rounds over the exact 64×64 covariance (the
    all-but-the-top / common-direction-removal primitive: the
    dominant eigenvector IS the anisotropy direction measured by
    embedding_anisotropy_audit). Scale shape: the covariance collapses
    to one linear scan (per-vector 64×64 outer products combined
    map-side into 4096 cells — the classic one-pass Gram trick), after
    which every iteration touches only the 4096-cell matrix and a
    64-row vector: corpus size never re-enters. Rounds cut with lazy
    checkpoints (the u/v relations are referenced twice each — the
    checkpoint is the algorithm, same category as pagerank). All
    matrix cells and vector components are floor-quantized integers,
    every contraction an exact decimal sum; emits the top-8 loadings
    by |weight| plus the Rayleigh-quotient eigenvalue. Fixed start
    v₀ = 1/8·𝟙 (64 dims) — deterministic on both engines; 8 rounds'
    convergence is certified by the pinned oracle equality, and the
    escape hatch for slow spectral gaps is more rounds (linear cost)."""
    lng = _emb_q(spark, sf_dir, 1.0e6)
    a = lng.select("vec_id", F.col("pos").alias("i"), F.col("q").alias("qa"))
    b = lng.select("vec_id", F.col("pos").alias("j"), F.col("q").alias("qb"))
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    mom = (
        a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(F.sum(dec("qa") * dec("qb")).cast("decimal(38,0)").alias("m"))
    )
    s = lng.groupBy(F.col("pos").alias("i")).agg(
        F.sum(dec("q")).cast("decimal(38,0)").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    sj = s.select(F.col("i").alias("j"), F.col("s").alias("sj"))
    n_d = F.col("n").cast("double")
    c_d = (
        F.col("m").cast("double") / 1.0e12
        - (F.col("s").cast("double") / 1.0e6)
        * (F.col("sj").cast("double") / 1.0e6)
        / n_d
    ) / n_d
    cov = checkpoint_df(
        mom.join(F.broadcast(s), "i")
        .join(F.broadcast(sj), "j")
        .select(
            "i",
            "j",
            F.floor(c_d * 1.0e12 + 0.5).cast("long").alias("cq"),
        ),
        eager=False,
    )
    v = cov.select("j").distinct().select(
        "j", F.lit(125000000).cast("long").alias("vq")
    )
    u = None
    for _ in range(8):
        u = checkpoint_df(
            cov.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(F.sum(dec("cq") * dec("vq")).cast("decimal(38,0)").alias("u")),
            eager=False,
        )
        u_d = F.col("u").cast("double") / 1.0e21
        nrm = u.agg(
            F.sum(
                F.floor(u_d * u_d * 1.0e18 + 0.5).cast("decimal(38,0)")
            )
            .cast("double")
            .alias("n2")
        )
        v = checkpoint_df(
            u.crossJoin(F.broadcast(nrm))
            .select(
                F.col("i").alias("j"),
                F.floor(u_d / F.sqrt(F.col("n2") / 1.0e18) * 1.0e9 + 0.5)
                .cast("long")
                .alias("vq"),
            ),
            eager=False,
        )
    u9 = checkpoint_df(
        cov.join(F.broadcast(v), "j")
        .groupBy("i")
        .agg(F.sum(dec("cq") * dec("vq")).cast("decimal(38,0)").alias("u")),
        eager=False,
    )
    vi = v.select(F.col("j").alias("i"), "vq")
    pair = u9.join(vi, "i")
    u_d = F.col("u").cast("double") / 1.0e21
    ray = pair.agg(
        F.sum(
            F.floor((F.col("vq").cast("double") / 1.0e9) * u_d * 1.0e12 + 0.5)
            .cast("decimal(38,0)")
        )
        .cast("double")
        .alias("num"),
        F.sum(dec("vq") * dec("vq")).cast("double").alias("den18"),
    )
    eig = (F.col("num") / 1.0e12) / (F.col("den18") / 1.0e18)
    w = Window.orderBy(F.abs(F.col("vq")).desc(), F.col("i"))
    return (
        vi.crossJoin(F.broadcast(ray))
        .select(
            F.row_number().over(w).cast("long").alias("rank"),
            F.col("i").alias("dim"),
            (F.col("vq").cast("double") / 1.0e9).alias("loading"),
            (F.floor(eig * 1.0e9 + 0.5) / 1.0e9).alias("eigenvalue"),
        )
        .filter(F.col("rank") <= 8)
        .orderBy("rank")
    )


# ===========================================================================
# Wave H — dedup-adjacent pipeline machinery: blocked
# sorted-neighborhood candidate generation (Hernandez & Stolfo 1995),
# a blocking-scheme quality audit (reduction ratio / block-size
# profile — Christen 2012's survey metrics), deterministic-hash
# sampling with a chi-square uniformity check, and a Jaccard
# threshold sweep over the LSH-free exact candidate set (the knob-
# tuning curve a dedup rollout reads before picking its cutoff).
# ===========================================================================
@register(
    "dedup_sorted_neighborhood",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS s
        FROM w
      )
    ),
    r AS (
      SELECT doc_id, substring(text, 1, 2) AS blk,
             CAST(row_number() OVER (
               PARTITION BY substring(text, 1, 2)
               ORDER BY substring(text, 1, 24), doc_id
             ) AS BIGINT) AS rnk
      FROM documents
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(b.rnk - a.rnk AS BIGINT) AS dist
      FROM r a JOIN r b
        ON a.blk = b.blk AND b.rnk - a.rnk IN (1, 2)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, min(c.dist) AS dist,
             CAST(count(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, dist, jaccard FROM (
      SELECT doc_a, doc_b, dist,
             floor(n_common / (sa.n + sb.n - n_common) * 1.0e6 + 0.5) / 1.0e6
               AS jaccard
      FROM common
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    ) ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked sorted-neighborhood candidate generation (Hernandez &
    Stolfo's merge/purge): docs sort by a 24-char text prefix WITHIN a
    2-char block, and only rank-neighbors at distance 1–2 become
    candidate pairs — O(n·w) candidates instead of O(n²), the classic
    alternative to LSH when near-dups share prefixes. The rank window
    is PARTITIONED by the block (never a single global sort — the
    blocked variant IS the production form; boundary pairs across
    blocks are the documented recall trade, recovered by multi-pass
    with a second key). Candidates then get exact 3-shingle Jaccard
    via the shared inverted-index join (linear in candidate count).
    Top-20 by Jaccard, fully tie-broken."""
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        distinct_shingles,
    )

    docs = _t(spark, sf_dir, "documents")
    blk = F.substring(F.col("text"), 1, 2)
    key = F.substring(F.col("text"), 1, 24)
    r = docs.select(
        "doc_id",
        blk.alias("blk"),
        F.row_number()
        .over(Window.partitionBy(blk).orderBy(key, "doc_id"))
        .cast("long")
        .alias("rnk"),
    )
    ra = r.select(F.col("doc_id").alias("doc_a"), "blk", F.col("rnk").alias("ra"))
    rb = r.select(F.col("doc_id").alias("doc_b"), F.col("blk").alias("blkb"), F.col("rnk").alias("rb"))
    cand = (
        ra.join(rb, (F.col("blk") == F.col("blkb"))
                & (F.col("rb") - F.col("ra")).isin(1, 2))
        .select("doc_a", "doc_b", (F.col("rb") - F.col("ra")).alias("dist"))
    )
    sh = distinct_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "s")
    sb = sh.select(F.col("doc_id").alias("b_id"), F.col("s").alias("s2"))
    common = (
        cand.join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("b_id")) & (F.col("s") == F.col("s2")))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.min("dist").cast("long").alias("dist"),
            F.count(F.lit(1)).cast("long").alias("n_common"),
        )
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "dist",
            (
                F.floor(
                    F.col("n_common")
                    / (F.col("na") + F.col("nb") - F.col("n_common"))
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "doc_a", "doc_b")
        .limit(20)
    )


@register(
    "dedup_blocking_quality_audit",
    oracle="""
    WITH b AS (
      SELECT substring(text, 1, 2) AS blk, CAST(count(*) AS HUGEINT) AS n
      FROM documents GROUP BY 1
    ),
    g AS (
      SELECT CAST(sum(n) AS HUGEINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(max(n) AS BIGINT) AS max_block,
             CAST(count(*) FILTER (n = 1) AS BIGINT) AS singleton_blocks,
             CAST(sum(n * (n - 1) / 2) AS HUGEINT) AS cand_pairs,
             CAST(max(n * (n - 1) / 2) AS HUGEINT) AS max_block_pairs
      FROM b
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs, n_blocks, max_block,
           singleton_blocks, CAST(cand_pairs AS BIGINT) AS cand_pairs,
           floor((1.0e0 - CAST(cand_pairs AS DOUBLE)
                  / (CAST(n_docs AS DOUBLE) * (CAST(n_docs AS DOUBLE) - 1.0e0)
                     / 2.0e0)) * 1.0e9 + 0.5) / 1.0e9 AS reduction_ratio,
           floor(CAST(max_block_pairs AS DOUBLE)
                 / CAST(cand_pairs AS DOUBLE) * 1.0e6 + 0.5) / 1.0e6
             AS top_block_pair_share
    FROM g
    """,
)
def dedup_blocking_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme quality audit (Christen's 2012 survey metrics)
    for the 2-char-prefix scheme used by dedup_sorted_neighborhood:
    reduction ratio 1 - |candidates|/C(N,2) (how much of the quadratic
    pair space the blocking prunes), block count / max block size /
    singleton-block count (recall risk: singletons can never pair), and
    the share of candidate pairs contributed by the single largest
    block (the straggler-task predictor — if one block owns 40% of the
    pairs, that block IS the job at scale). Everything is one groupBy
    on the block key plus a single-row global agg: integer counts
    throughout, ratios finished in double on exact sums, so the audit
    itself costs one shuffle at any scale. This is the knob-tuning
    readout a dedup rollout inspects BEFORE running candidate
    generation — the engine-side answer to 'is my blocking key good
    enough'."""
    docs = _t(spark, sf_dir, "documents")
    pairs = lambda c: (c * (c - F.lit(1)) / F.lit(2)).cast("decimal(38,0)")
    b = docs.groupBy(F.substring("text", 1, 2).alias("blk")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n")
    )
    g = b.agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.max("n").cast("long").alias("max_block"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("long")
        .alias("singleton_blocks"),
        F.sum(pairs(F.col("n"))).alias("cand_pairs"),
        F.max(pairs(F.col("n"))).alias("max_block_pairs"),
    )
    nd = F.col("n_docs").cast("double")
    cp = F.col("cand_pairs").cast("double")
    return g.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_blocks",
        "max_block",
        "singleton_blocks",
        F.col("cand_pairs").cast("long").alias("cand_pairs"),
        (
            F.floor(
                (F.lit(1.0) - cp / (nd * (nd - F.lit(1.0)) / F.lit(2.0)))
                * 1.0e9
                + F.lit(0.5)
            )
            / 1.0e9
        ).alias("reduction_ratio"),
        (
            F.floor(
                F.col("max_block_pairs").cast("double") / cp * 1.0e6 + F.lit(0.5)
            )
            / 1.0e6
        ).alias("top_block_pair_share"),
    )


@register(
    "sample_hash_uniformity_chisq",
    oracle="""
    WITH h AS (
      SELECT ((doc_id * 2654435761) % 4294967296) % 64 AS bucket
      FROM documents
    ),
    c AS (SELECT bucket, CAST(count(*) AS HUGEINT) AS n FROM h GROUP BY 1),
    g AS (
      SELECT CAST(sum(n) AS HUGEINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(min(n) AS BIGINT) AS min_bucket,
             CAST(max(n) AS BIGINT) AS max_bucket,
             CAST(sum(n * n) AS HUGEINT) AS sumsq,
             CAST(sum(n) FILTER (bucket < 6) AS HUGEINT) AS sampled
      FROM c
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs, n_buckets, min_bucket, max_bucket,
           floor((64.0e0 * CAST(sumsq AS DOUBLE)
                  - CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))
                 / CAST(n_docs AS DOUBLE) * 1.0e6 + 0.5) / 1.0e6 AS chi_sq,
           floor(CAST(sampled AS DOUBLE) / CAST(n_docs AS DOUBLE) * 1.0e6 + 0.5)
             / 1.0e6 AS sample_rate
    FROM g
    """,
)
def sample_hash_uniformity_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-hash sampling audit: docs route to 64 buckets via
    the Knuth multiplicative hash ((doc_id * 2654435761) mod 2^32)
    mod 64 — pure BIGINT arithmetic both engines compute identically,
    no engine hash function involved — and the bucket histogram yields
    the chi-square uniformity statistic against the flat expectation,
    computed exactly from integer sums via chi2 = (64*sum(n_b^2) -
    N^2)/N (algebraically sum((n_b - N/64)^2/(N/64)), but in that form
    every term is an exact integer until one final double division).
    `sample_rate` is the realized rate of the bucket<6 rule (~9.4%
    nominal) — the reproducible take-every-k'th sampling contract a
    pipeline uses for eval holdouts: membership is a pure function of
    the key, so re-runs, backfills, and a 1000-executor cluster all
    agree on the sample with zero coordination. One narrow projection
    plus a 64-row aggregate: no shuffle wider than 64 keys ever."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        (F.col("doc_id") * F.lit(2654435761).cast("long")) % F.lit(4294967296)
    ) % F.lit(64)
    c = docs.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n")
    )
    g = c.agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.min("n").cast("long").alias("min_bucket"),
        F.max("n").cast("long").alias("max_bucket"),
        F.sum(F.col("n") * F.col("n")).alias("sumsq"),
        F.sum(F.when(F.col("bucket") < 6, F.col("n")).otherwise(F.lit(0)))
        .cast("decimal(38,0)")
        .alias("sampled"),
    )
    nd = F.col("n_docs").cast("double")
    return g.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_buckets",
        "min_bucket",
        "max_bucket",
        (
            F.floor(
                (F.lit(64.0) * F.col("sumsq").cast("double") - nd * nd)
                / nd
                * 1.0e6
                + F.lit(0.5)
            )
            / 1.0e6
        ).alias("chi_sq"),
        (
            F.floor(F.col("sampled").cast("double") / nd * 1.0e6 + F.lit(0.5))
            / 1.0e6
        ).alias("sample_rate"),
    )


@register(
    "dedup_jaccard_threshold_sweep",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS s
        FROM w
      )
    ),
    df AS (SELECT s, count(*) AS c FROM sh GROUP BY s),
    f AS (SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s) WHERE df.c <= 10),
    sizes AS (SELECT doc_id, count(*) AS n FROM f GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM f a JOIN f b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT CAST(round(n_common / (sa.n + sb.n - n_common), 6)
                  * 1000000 AS BIGINT) AS j_u
      FROM common
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    ),
    thr AS (SELECT unnest(generate_series(1, 9)) AS t10)
    SELECT floor(t10 / 10.0e0 * 1.0e6 + 0.5) / 1.0e6 AS threshold,
           CAST(count(j_u) AS BIGINT) AS n_pairs,
           CASE WHEN count(j_u) = 0 THEN NULL
                ELSE floor(CAST(sum(j_u) AS DOUBLE) / count(j_u) + 0.5) / 1.0e6
           END AS mean_jaccard
    FROM thr LEFT JOIN jac ON j_u >= t10 * 100000
    GROUP BY t10
    ORDER BY t10
    """,
)
def dedup_jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard threshold-sweep curve: the pair counts (and mean
    similarity of retained pairs) at cutoffs 0.1..0.9 over the exact
    3-shingle candidate set — the tuning readout a dedup rollout
    inspects before committing to a threshold (too low drops distinct
    docs, too high keeps near-dups). The pair set is computed ONCE via
    the shared hot-shingle-capped inverted-index join
    (ngram_jaccard_pairs, df<=10 stop-shingle guard — never quadratic),
    then swept against a 9-row broadcast threshold table: a theta join
    against a constant-size side costs 9x the (bounded) pair count, not
    a recompute per cutoff. Jaccard is quantized to integer micro-units
    BEFORE both the >= comparison and the mean so the cut and the
    average are bit-identical across engines (order-independent integer
    sums; [[oracle-parity-gotchas]])."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        distinct_shingles,
    )

    sh = distinct_shingles(spark, sf_dir)
    pairs = ngram_jaccard_pairs(sh, "doc_id", "s", threshold=0.0, max_doc_freq=10)
    jac = pairs.select(
        (F.col("jaccard") * F.lit(1000000)).cast("long").alias("j_u")
    )
    thr = spark.range(1, 10).select(F.col("id").alias("t10"))
    return (
        F.broadcast(thr)
        .join(jac, F.col("j_u") >= F.col("t10") * F.lit(100000), "left")
        .groupBy("t10")
        .agg(
            F.count("j_u").cast("long").alias("n_pairs"),
            F.when(
                F.count("j_u") > 0,
                F.floor(
                    F.sum("j_u").cast("double") / F.count("j_u") + F.lit(0.5)
                )
                / 1.0e6,
            ).alias("mean_jaccard"),
        )
        .select(
            (F.floor(F.col("t10") / F.lit(10.0) * 1.0e6 + F.lit(0.5)) / 1.0e6)
            .alias("threshold"),
            "n_pairs",
            "mean_jaccard",
        )
        .orderBy("threshold")
    )


# ===========================================================================
# Wave I — events extreme-value / temporal-texture diagnostics: a
# peaks-over-threshold GPD fit by method of moments (Hosking & Wallis
# 1987) above a mean+2-sigma threshold, and the Goh & Barabasi (2008)
# burstiness coefficient of per-user interarrival gaps. Both are pure
# aggregate pipelines: integer-quantized per-row units, exact
# decimal(38,0)/HUGEINT sums, doubles only in the final scalar algebra
# ([[oracle-parity-gotchas]]).
# ===========================================================================
@register(
    "events_pot_gpd_fit",
    oracle="""
    WITH v AS (
      SELECT CAST(CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) AS HUGEINT) AS vu
      FROM events WHERE value IS NOT NULL
    ),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, sum(vu) AS s, sum(vu * vu) AS ss
      FROM v
    ),
    u AS (
      SELECT CAST(floor(
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
               + 2.0e0 * sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                              / (CAST(n AS DOUBLE)
                                 * (CAST(n AS DOUBLE) - 1.0e0)))
               + 0.5) AS HUGEINT) AS uu, CAST(n AS HUGEINT) AS n_total
      FROM m
    ),
    exc AS (
      SELECT uu, n_total, vu - uu AS y
      FROM v, u WHERE vu > uu
    ),
    e AS (
      SELECT CAST(count(*) AS HUGEINT) AS k, sum(y) AS sy, sum(y * y) AS syy,
             max(uu) AS uu, max(n_total) AS n_total
      FROM exc
    )
    SELECT CAST(n_total AS BIGINT) AS n_total, CAST(k AS BIGINT) AS n_exceed,
           floor(CAST(uu AS DOUBLE) + 0.5) / 1.0e6 AS threshold,
           floor(CAST(k AS DOUBLE) / CAST(n_total AS DOUBLE) * 1.0e6 + 0.5)
             / 1.0e6 AS exceed_rate,
           floor(0.5e0 * (1.0e0
                 - (CAST(sy AS DOUBLE) / CAST(k AS DOUBLE))
                   * (CAST(sy AS DOUBLE) / CAST(k AS DOUBLE))
                   / ((CAST(k AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) - 1.0e0))))
                 * 1.0e6 + 0.5) / 1.0e6 AS xi_mom,
           floor(0.5e0 * (CAST(sy AS DOUBLE) / CAST(k AS DOUBLE)) / 1.0e6
                 * (1.0e0
                    + (CAST(sy AS DOUBLE) / CAST(k AS DOUBLE))
                      * (CAST(sy AS DOUBLE) / CAST(k AS DOUBLE))
                      / ((CAST(k AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) - 1.0e0))))
                 * 1.0e6 + 0.5) / 1.0e6 AS beta_mom
    FROM e
    """,
)
def events_pot_gpd_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold generalized-Pareto fit by the Hosking &
    Wallis (1987) method of moments: threshold u = mean + 2*sigma of
    event values (an aggregate-derived cut — no global sort, no
    quantile, so the threshold pass is one map-side-combinable agg),
    excesses y = v - u above it, then xi = (1 - ybar^2/s^2)/2 and
    beta = ybar*(1 + ybar^2/s^2)/2 from the excess mean/variance. The
    tail-risk readout an SLO pipeline runs over latency/value columns.
    Values are quantized to integer micro-units per row and u is
    floored to the SAME integer grid before the > comparison, so both
    engines keep the identical exceedance set; all sums are exact
    decimal/HUGEINT. Two aggregate passes over a narrow projection plus
    a 1-row broadcast join: scale cost is two scans, zero wide
    shuffles."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        F.floor(F.col("value") * 1.0e6 + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("vu")
    )
    m = v.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("vu").alias("s"),
        F.sum(F.col("vu") * F.col("vu")).alias("ss"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    u = m.select(
        F.floor(
            sd / nd
            + F.lit(2.0) * F.sqrt((nd * ssd - sd * sd) / (nd * (nd - F.lit(1.0))))
            + F.lit(0.5)
        )
        .cast("decimal(38,0)")
        .alias("uu"),
        F.col("n").alias("n_total"),
    )
    exc = v.join(F.broadcast(u), F.col("vu") > F.col("uu")).select(
        "uu", "n_total", (F.col("vu") - F.col("uu")).alias("y")
    )
    e = exc.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.max("uu").alias("uu"),
        F.max("n_total").alias("n_total"),
    )
    kd = F.col("k").cast("double")
    syd = F.col("sy").cast("double")
    syyd = F.col("syy").cast("double")
    ybar = syd / kd
    s2 = (kd * syyd - syd * syd) / (kd * (kd - F.lit(1.0)))
    ratio = ybar * ybar / s2
    return e.select(
        F.col("n_total").cast("long").alias("n_total"),
        F.col("k").cast("long").alias("n_exceed"),
        (F.floor(F.col("uu").cast("double") + F.lit(0.5)) / 1.0e6).alias(
            "threshold"
        ),
        (
            F.floor(kd / F.col("n_total").cast("double") * 1.0e6 + F.lit(0.5))
            / 1.0e6
        ).alias("exceed_rate"),
        (
            F.floor(F.lit(0.5) * (F.lit(1.0) - ratio) * 1.0e6 + F.lit(0.5))
            / 1.0e6
        ).alias("xi_mom"),
        (
            F.floor(
                F.lit(0.5) * ybar / 1.0e6 * (F.lit(1.0) + ratio) * 1.0e6
                + F.lit(0.5)
            )
            / 1.0e6
        ).alias("beta_mom"),
    )


@register(
    "events_interarrival_burstiness",
    oracle="""
    WITH o AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev
      FROM events
    ),
    g AS (
      SELECT CAST(t - prev AS HUGEINT) AS gap FROM o WHERE prev IS NOT NULL
    ),
    a AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, sum(gap) AS s,
             sum(gap * gap) AS ss, CAST(max(gap) AS BIGINT) AS max_gap
      FROM g
    )
    SELECT CAST(n AS BIGINT) AS n_gaps,
           floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 1.0e3 + 0.5) / 1.0e3
             AS mean_gap_s,
           max_gap AS max_gap_s,
           floor(sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)))
                 / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * 1.0e6 + 0.5)
             / 1.0e6 AS cv,
           floor((sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)))
                  - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                 / (sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)))
                    + CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * 1.0e6 + 0.5)
             / 1.0e6 AS burstiness
    FROM a
    """,
)
def events_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh & Barabasi (2008) burstiness coefficient B =
    (sigma - mu)/(sigma + mu) of per-user interarrival gaps (B -> -1
    metronome-regular, 0 Poisson, +1 maximally bursty), plus the
    coefficient of variation it normalizes. Gaps come from a lag window
    PARTITIONED by user (thousands of small per-user partitions — the
    scale-safe shape; never a global sort), in whole epoch seconds so
    every gap is an exact integer; mean/sigma come from exact
    decimal(38,0)/HUGEINT sums with doubles only in the final scalar
    algebra. The temporal-texture audit that tells a sessionization or
    rate-limit design whether traffic is Poisson-like or bursty."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.col("ts").cast("long")
    o = ev.select(t.alias("t"), F.lag(t).over(w).alias("prev"))
    g = o.filter(F.col("prev").isNotNull()).select(
        (F.col("t") - F.col("prev")).cast("decimal(38,0)").alias("gap")
    )
    a = g.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("gap").alias("s"),
        F.sum(F.col("gap") * F.col("gap")).alias("ss"),
        F.max("gap").cast("long").alias("max_gap"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    mu = sd / nd
    sig = F.sqrt((nd * ssd - sd * sd) / (nd * (nd - F.lit(1.0))))
    return a.select(
        F.col("n").cast("long").alias("n_gaps"),
        (F.floor(mu * 1.0e3 + F.lit(0.5)) / 1.0e3).alias("mean_gap_s"),
        F.col("max_gap").alias("max_gap_s"),
        (F.floor(sig / mu * 1.0e6 + F.lit(0.5)) / 1.0e6).alias("cv"),
        (F.floor((sig - mu) / (sig + mu) * 1.0e6 + F.lit(0.5)) / 1.0e6).alias(
            "burstiness"
        ),
    )


# ===========================================================================
# Wave J — GSW 75-term analytic-derivative tail: specific-volume first
# derivatives (v_SA, v_CT, v_p — GSW twin gsw_specvol_first_derivatives),
# density second derivatives via the quotient rule on the same Horner
# stage family (gsw_rho_second_derivatives), and the ITS-90
# temperature-scale conversion pair (gsw_t90_from_t68 / t90_from_t48,
# Saunders 1990 factor / IPTS-48 bridge). Divisions and polynomials
# only — the staged SQL text IS the Spark expression text, so parity
# is exact at any quantization.
# ===========================================================================
_CBTB_FIRST_KEEP = {
    "__cbtb_xs", "__cbtb_ys", "__cbtb_z", "__cbtb_v", "__cbtb_vx",
    "__cbtb_vy", "__cbtb_vz", "__cbtb_dxdsa", "__cbtb_v_ct",
    "__cbtb_v_sa", "__cbtb_v_p",
}
_CBTB_SECOND_KEEP = _CBTB_FIRST_KEEP | {
    "__cbtb_vxx", "__cbtb_vxy", "__cbtb_vyy", "__cbtb_vxz", "__cbtb_vyz",
    "__cbtb_v_ctct", "__cbtb_v_ctsa", "__cbtb_v_sasa", "__cbtb_v_ctp",
    "__cbtb_v_sap",
}


def _cbtb_inner() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
    )

    return f"""
      SELECT l_orderkey, l_linenumber, p, {_SA_SQL} AS sa,
             {ct_from_t_sql("s", "t", "p")} AS ct
      FROM ({_IN_SQL})
    """


def _specvol_first_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        cabbeling_thermobaric_stages,
    )

    stages = [
        s
        for s in cabbeling_thermobaric_stages("sa", "ct", "p")
        if s[0] in _CBTB_FIRST_KEEP
    ]
    staged = _stage_sql(_cbtb_inner(), stages)
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(__cbtb_v_sa * 1.0e15 + 0.5) / 1.0e15 AS v_sa,
           floor(__cbtb_v_ct * 1.0e15 + 0.5) / 1.0e15 AS v_ct,
           floor(__cbtb_v_p * 1.0e18 + 0.5) / 1.0e18 AS v_p_dbar
    FROM {staged}
    """


@register("gsw_specvol_first_derivatives", oracle=_specvol_first_oracle())
def gsw_specvol_first_derivatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """∂v/∂SA, ∂v/∂CT, ∂v/∂p of the Roquet et al. (2015) 75-term
    specific volume, evaluated as ANALYTIC Horner polynomials of the
    differentiated coefficient table (GSW twin:
    gsw_specvol_first_derivatives) — the raw linearization behind
    alpha/beta and the haline/thermal contraction family. Same
    cabbeling stage family (FD-pinned in tests); per-row expressions
    only, zero shuffles beyond the scan."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        cabbeling_thermobaric_stages,
        ct_from_t_sql,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "p",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    for name, expr in cabbeling_thermobaric_stages("sa", "ct", "p"):
        if name in _CBTB_FIRST_KEEP:
            df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("__cbtb_v_sa") * 1.0e15 + 0.5) / 1.0e15).alias("v_sa"),
        (F.floor(F.col("__cbtb_v_ct") * 1.0e15 + 0.5) / 1.0e15).alias("v_ct"),
        (F.floor(F.col("__cbtb_v_p") * 1.0e18 + 0.5) / 1.0e18).alias(
            "v_p_dbar"
        ),
    )


def _rho_second_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        cabbeling_thermobaric_stages,
    )

    stages = [
        s
        for s in cabbeling_thermobaric_stages("sa", "ct", "p")
        if s[0] in _CBTB_SECOND_KEEP
    ]
    staged = _stage_sql(_cbtb_inner(), stages)
    # rho_AB = (2 v_A v_B / v - v_AB) / v^2  (quotient rule on rho=1/v)
    v = "__cbtb_v"
    terms = {
        "rho_sa_sa": ("__cbtb_v_sa", "__cbtb_v_sa", "__cbtb_v_sasa", "1.0e9"),
        "rho_sa_ct": ("__cbtb_v_sa", "__cbtb_v_ct", "__cbtb_v_ctsa", "1.0e9"),
        "rho_ct_ct": ("__cbtb_v_ct", "__cbtb_v_ct", "__cbtb_v_ctct", "1.0e9"),
        "rho_sa_p": ("__cbtb_v_sa", "__cbtb_v_p", "__cbtb_v_sap", "1.0e12"),
        "rho_ct_p": ("__cbtb_v_ct", "__cbtb_v_p", "__cbtb_v_ctp", "1.0e12"),
    }
    cols = ",\n           ".join(
        f"floor((2.0e0*{a}*{b}/{v} - {ab})/({v}*{v}) * {q} + 0.5) / {q}"
        f" AS {out}"
        for out, (a, b, ab, q) in terms.items()
    )
    return f"""
    SELECT l_orderkey, l_linenumber,
           {cols}
    FROM {staged}
    """


@register("gsw_rho_second_derivatives", oracle=_rho_second_oracle())
def gsw_rho_second_derivatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density second derivatives (rho_SA_SA, rho_SA_CT, rho_CT_CT,
    rho_SA_p, rho_CT_p; GSW twin: gsw_rho_second_derivatives) from the
    quotient rule rho_AB = (2·v_A·v_B/v − v_AB)/v² over the analytic
    75-term specific-volume derivative polynomials — the curvature
    terms cabbeling/thermobaricity consume, exposed as the raw GSW
    surface. p-derivatives are per dbar (as gsw_rho_first_derivatives
    here). Same FD-pinned cabbeling stage family; per-row math only."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        cabbeling_thermobaric_stages,
        ct_from_t_sql,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "p",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    for name, expr in cabbeling_thermobaric_stages("sa", "ct", "p"):
        if name in _CBTB_SECOND_KEEP:
            df = df.withColumn(name, F.expr(expr))
    v = F.col("__cbtb_v")
    v2 = v * v

    def rho2(a: str, b: str, ab: str, q: float):
        return F.floor(
            (F.lit(2.0) * F.col(a) * F.col(b) / v - F.col(ab)) / v2 * q + 0.5
        ) / q

    return df.select(
        "l_orderkey",
        "l_linenumber",
        rho2("__cbtb_v_sa", "__cbtb_v_sa", "__cbtb_v_sasa", 1.0e9).alias(
            "rho_sa_sa"
        ),
        rho2("__cbtb_v_sa", "__cbtb_v_ct", "__cbtb_v_ctsa", 1.0e9).alias(
            "rho_sa_ct"
        ),
        rho2("__cbtb_v_ct", "__cbtb_v_ct", "__cbtb_v_ctct", 1.0e9).alias(
            "rho_ct_ct"
        ),
        rho2("__cbtb_v_sa", "__cbtb_v_p", "__cbtb_v_sap", 1.0e12).alias(
            "rho_sa_p"
        ),
        rho2("__cbtb_v_ct", "__cbtb_v_p", "__cbtb_v_ctp", 1.0e12).alias(
            "rho_ct_p"
        ),
    )


@register(
    "gsw_temperature_scale_conversions",
    oracle=f"""
    WITH i AS (
      SELECT l_orderkey, l_linenumber, t FROM ({_IN_SQL})
    )
    SELECT l_orderkey, l_linenumber,
           floor(t / 1.00024e0 * 1.0e9 + 0.5) / 1.0e9 AS t90_from_t68,
           floor((t - 4.4e-6*t*(100.0e0 - t)) / 1.00024e0 * 1.0e9 + 0.5)
             / 1.0e9 AS t90_from_t48,
           floor((t / 1.00024e0) * 1.00024e0 * 1.0e9 + 0.5) / 1.0e9
             AS t68_roundtrip
    FROM i
    """,
)
def gsw_temperature_scale_conversions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ITS-90 temperature-scale conversion battery (GSW twins:
    gsw_t90_from_t68, gsw_t90_from_t48): the Saunders (1990) 1.00024
    IPTS-68 factor and the IPTS-48 bridge t90 = (t48 −
    4.4e-6·t48·(100−t48))/1.00024 — what every historical-archive
    ingest (pre-1990 CTD/bottle data, exactly the reference's IOS file
    domain) applies before any TEOS-10 call. t68_roundtrip pins the
    inverse composition on the same grid. Pure per-row arithmetic,
    identical expression text on both engines."""
    df = _inputs(spark, sf_dir)
    t = F.col("t")
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(t / F.lit(1.00024) * 1.0e9 + 0.5) / 1.0e9).alias(
            "t90_from_t68"
        ),
        (
            F.floor(
                (t - F.lit(4.4e-6) * t * (F.lit(100.0) - t))
                / F.lit(1.00024)
                * 1.0e9
                + 0.5
            )
            / 1.0e9
        ).alias("t90_from_t48"),
        (
            F.floor((t / F.lit(1.00024)) * F.lit(1.00024) * 1.0e9 + 0.5)
            / 1.0e9
        ).alias("t68_roundtrip"),
    )


# ===========================================================================
# Wave K — robust/econometric statistics: Brown–Forsythe variance
# equality (Levene with median centers), MAD-based robust anomaly
# days, a seasonal-naive forecast backtest (MAPE/bias via an equi-join
# on integer month keys — no window), and a difference-in-differences
# holiday-effect estimate. Medians use the doubled-integer trick
# (percentile of 2x an integer column is an exactly-representable
# .0-valued double on both engines); everything else is exact integer
# sums finished in double ([[oracle-parity-gotchas]]).
# ===========================================================================
@register(
    "customer_acctbal_levene_test",
    oracle="""
    WITH c AS (
      SELECT c_mktsegment AS seg,
             CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
      FROM customer
    ),
    med AS (
      SELECT seg, CAST(quantile_cont(cents * 2, 0.5) AS BIGINT) AS med2
      FROM c GROUP BY seg
    ),
    z AS (
      SELECT c.seg, CAST(abs(2 * cents - med2) AS HUGEINT) AS z2
      FROM c JOIN med ON c.seg = med.seg
    ),
    g AS (
      SELECT seg, CAST(count(*) AS HUGEINT) AS n, sum(z2) AS s,
             sum(z2 * z2) AS ss
      FROM z GROUP BY seg
    ),
    t AS (
      SELECT CAST(sum(n) AS DOUBLE) AS nn, CAST(count(*) AS DOUBLE) AS k,
             CAST(sum(s) AS DOUBLE) AS stot,
             sum(CAST(n AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                 - CAST((SELECT sum(s) FROM g) AS DOUBLE)
                   / CAST((SELECT sum(n) FROM g) AS DOUBLE))
                 * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                 - CAST((SELECT sum(s) FROM g) AS DOUBLE)
                   / CAST((SELECT sum(n) FROM g) AS DOUBLE))) AS between_ss,
             sum(CAST(ss AS DOUBLE)
                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                   / CAST(n AS DOUBLE)) AS within_ss
      FROM g
    )
    SELECT CAST(nn AS BIGINT) AS n_total, CAST(k AS BIGINT) AS k_groups,
           CAST(k - 1.0e0 AS BIGINT) AS df1, CAST(nn - k AS BIGINT) AS df2,
           floor((nn - k) / (k - 1.0e0) * between_ss
                 / nullif(within_ss, 0.0e0) * 1.0e6 + 0.5) / 1.0e6
             AS f_brown_forsythe,
           floor(stot / nn / 200.0e0 * 1.0e4 + 0.5) / 1.0e4
             AS mean_absdev_dollars
    FROM t
    """,
)
def customer_acctbal_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test (Levene 1960 with Brown & Forsythe's 1974
    median centers — the robust variance-equality test) of account
    balance across market segments: z = |x − median_g| per row, then a
    one-way ANOVA F on z. Group medians come from percentile over
    DOUBLED integer cents (2x makes the interpolated midpoint an exact
    integer double on both engines — no .5 representation drift), the
    ANOVA from exact decimal sums of integer |2x − med2| with doubles
    only in the final F algebra. Five bounded groups: one 5-row
    broadcast of medians joined back, two aggregate passes total."""
    cust = _t(spark, sf_dir, "customer")
    c = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    med = c.groupBy("seg").agg(
        F.expr("CAST(percentile(cents * 2, 0.5) AS BIGINT)").alias("med2")
    )
    z = c.join(F.broadcast(med), "seg").select(
        "seg",
        F.abs(F.lit(2) * F.col("cents") - F.col("med2"))
        .cast("decimal(38,0)")
        .alias("z2"),
    )
    g = z.groupBy("seg").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("z2").alias("s"),
        F.sum(F.col("z2") * F.col("z2")).alias("ss"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    tot = g.agg(
        F.sum("n").cast("double").alias("nn"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("s").cast("double").alias("stot"),
    )
    joined = g.crossJoin(F.broadcast(tot))
    t = joined.agg(
        F.max("nn").alias("nn"),
        F.max("k").alias("k"),
        F.max("stot").alias("stot"),
        F.sum(
            nd
            * (sd / nd - F.col("stot") / F.col("nn"))
            * (sd / nd - F.col("stot") / F.col("nn"))
        ).alias("between_ss"),
        F.sum(ssd - sd * sd / nd).alias("within_ss"),
    )
    nn, k = F.col("nn"), F.col("k")
    return t.select(
        nn.cast("long").alias("n_total"),
        k.cast("long").alias("k_groups"),
        (k - F.lit(1.0)).cast("long").alias("df1"),
        (nn - k).cast("long").alias("df2"),
        (
            F.floor(
                (nn - k)
                / (k - F.lit(1.0))
                * F.col("between_ss")
                / F.nullif(F.col("within_ss"), F.lit(0.0))
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("f_brown_forsythe"),
        (
            F.floor(F.col("stot") / nn / F.lit(200.0) * 1.0e4 + 0.5) / 1.0e4
        ).alias("mean_absdev_dollars"),
    )


@register(
    "events_daily_mad_anomalies",
    oracle="""
    WITH d AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    m AS (SELECT CAST(quantile_cont(n_events * 2, 0.5) AS BIGINT) AS med2 FROM d),
    dev AS (
      SELECT day, n_events, med2, abs(2 * n_events - med2) AS dev2
      FROM d, m
    ),
    md AS (SELECT CAST(quantile_cont(dev2 * 2, 0.5) AS BIGINT) AS mad4 FROM dev)
    SELECT day, n_events,
           floor(0.6745e0 * (2.0e0 * n_events - med2)
                 / nullif(CAST(mad4 AS DOUBLE) / 2.0e0, 0.0e0) * 1.0e6 + 0.5)
             / 1.0e6 AS robust_z
    FROM dev, md
    ORDER BY abs(2 * n_events - med2) * 1.0e0
               / nullif(CAST(mad4 AS DOUBLE) / 2.0e0, 0.0e0) DESC, day
    LIMIT 10
    """,
)
def events_daily_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly days via the median-absolute-deviation z-score
    z = 0.6745·(x − med)/MAD (Hampel's rule; 0.6745 normalizes MAD to
    sigma under normality) on daily event counts — the outlier detector
    that, unlike the mean/std z-score, one fat day cannot mask. Both
    medians use the doubled-integer percentile trick (med over 2x
    counts, MAD over 2x deviations, so mad4 = 4·MAD is an exact-integer
    double). The day table is bounded by the calendar (one groupBy of
    the raw events, then two 1-row broadcast scalars); the top-10 sort
    runs on that bounded table, tie-broken by day."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    m = d.agg(
        F.expr("CAST(percentile(n_events * 2, 0.5) AS BIGINT)").alias("med2")
    )
    dev = d.crossJoin(F.broadcast(m)).withColumn(
        "dev2", F.abs(F.lit(2) * F.col("n_events") - F.col("med2"))
    )
    md = dev.agg(
        F.expr("CAST(percentile(dev2 * 2, 0.5) AS BIGINT)").alias("mad4")
    )
    mad = F.nullif(F.col("mad4").cast("double") / F.lit(2.0), F.lit(0.0))
    diff = F.lit(2.0) * F.col("n_events") - F.col("med2")
    return (
        dev.crossJoin(F.broadcast(md))
        .select(
            "day",
            "n_events",
            (F.floor(F.lit(0.6745) * diff / mad * 1.0e6 + 0.5) / 1.0e6).alias(
                "robust_z"
            ),
            (F.col("dev2") * F.lit(1.0) / mad).alias("__sortkey"),
        )
        .orderBy(F.col("__sortkey").desc(), "day")
        .limit(10)
        .drop("__sortkey")
    )


@register(
    "orders_seasonal_naive_backtest",
    oracle="""
    WITH m AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS ym,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS HUGEINT) AS rev
      FROM orders GROUP BY 1
    ),
    j AS (
      SELECT cur.ym, cur.rev, prev.rev AS pred,
             CAST(floor(abs(CAST(cur.rev - prev.rev AS DOUBLE))
                        / CAST(cur.rev AS DOUBLE) * 1.0e9 + 0.5) AS BIGINT)
               AS ape_u,
             CAST(floor(CAST(cur.rev - prev.rev AS DOUBLE)
                        / CAST(cur.rev AS DOUBLE) * 1.0e9 + 0.5) AS BIGINT)
               AS pe_u,
             (cur.rev - prev.rev) * (cur.rev - prev.rev) AS sq
      FROM m cur JOIN m prev ON cur.ym = prev.ym + 12
    )
    SELECT CAST(count(*) AS BIGINT) AS n_months,
           floor(CAST(sum(ape_u) AS DOUBLE) / count(*) / 1.0e3 + 0.5) / 1.0e6
             AS mape,
           floor(CAST(sum(pe_u) AS DOUBLE) / count(*) / 1.0e3 + 0.5) / 1.0e6
             AS mean_pct_error,
           CAST(floor(sqrt(CAST(sum(sq) AS DOUBLE) / count(*)) / 100.0e0
                      + 0.5) AS BIGINT) AS rmse_dollars
    FROM j
    """,
)
def orders_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each month's revenue
    as the same month last year (the standard M-competition baseline
    every fancier forecaster must beat) and score MAPE / signed mean
    percentage error / RMSE over all months with a year-ago twin. The
    12-month lag is an EQUI-JOIN on an integer year*12+month key — no
    window, no sort; per-month percentage errors are floor-quantized to
    1e-9 units BEFORE the mean so the cross-month sum is an exact
    integer sum (bounded by the calendar, but the discipline holds at
    any width); RMSE comes from the exact decimal sum of squared cent
    errors."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("ym")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("decimal(38,0)")
        .alias("rev")
    )
    prev = m.select(F.col("ym").alias("ym_p"), F.col("rev").alias("pred"))
    err = (F.col("rev") - F.col("pred")).cast("double")
    j = m.join(prev, F.col("ym") == F.col("ym_p") + 12).select(
        F.floor(F.abs(err) / F.col("rev").cast("double") * 1.0e9 + 0.5)
        .cast("long")
        .alias("ape_u"),
        F.floor(err / F.col("rev").cast("double") * 1.0e9 + 0.5)
        .cast("long")
        .alias("pe_u"),
        ((F.col("rev") - F.col("pred")) * (F.col("rev") - F.col("pred")))
        .cast("decimal(38,0)")
        .alias("sq"),
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        (
            F.floor(
                F.sum("ape_u").cast("double") / F.count(F.lit(1)) / 1.0e3 + 0.5
            )
            / 1.0e6
        ).alias("mape"),
        (
            F.floor(
                F.sum("pe_u").cast("double") / F.count(F.lit(1)) / 1.0e3 + 0.5
            )
            / 1.0e6
        ).alias("mean_pct_error"),
        F.floor(
            F.sqrt(F.sum("sq").cast("double") / F.count(F.lit(1)))
            / F.lit(100.0)
            + 0.5
        ).alias("rmse_dollars"),
    )


@register(
    "orders_diff_in_diff_holiday",
    oracle="""
    WITH c AS (
      SELECT (year(o_orderdate) = 2000) AS post,
             (month(o_orderdate) = 12) AS treat,
             CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                  AS HUGEINT) AS cents
      FROM orders
      WHERE year(o_orderdate) IN (1999, 2000) AND month(o_orderdate) IN (11, 12)
    ),
    g AS (
      SELECT post, treat, CAST(count(*) AS HUGEINT) AS n, sum(cents) AS s,
             sum(cents * cents) AS ss
      FROM c GROUP BY 1, 2
    ),
    p AS (
      SELECT
        max(CASE WHEN post AND treat THEN CAST(s AS DOUBLE)/CAST(n AS DOUBLE) END) AS m11,
        max(CASE WHEN post AND NOT treat THEN CAST(s AS DOUBLE)/CAST(n AS DOUBLE) END) AS m10,
        max(CASE WHEN NOT post AND treat THEN CAST(s AS DOUBLE)/CAST(n AS DOUBLE) END) AS m01,
        max(CASE WHEN NOT post AND NOT treat THEN CAST(s AS DOUBLE)/CAST(n AS DOUBLE) END) AS m00,
        sum((CAST(n AS DOUBLE)*CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE))
            / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0e0)) / CAST(n AS DOUBLE)) AS var_did,
        CAST(sum(n) AS BIGINT) AS n_total
      FROM g
    )
    SELECT n_total,
           floor(m00 / 100.0e0 * 1.0e2 + 0.5) / 1.0e2 AS mean_nov_pre,
           floor(m01 / 100.0e0 * 1.0e2 + 0.5) / 1.0e2 AS mean_dec_pre,
           floor(m10 / 100.0e0 * 1.0e2 + 0.5) / 1.0e2 AS mean_nov_post,
           floor(m11 / 100.0e0 * 1.0e2 + 0.5) / 1.0e2 AS mean_dec_post,
           floor(((m11 - m10) - (m01 - m00)) / 100.0e0 * 1.0e4 + 0.5) / 1.0e4
             AS did_dollars,
           floor(((m11 - m10) - (m01 - m00)) / sqrt(var_did) * 1.0e6 + 0.5)
             / 1.0e6 AS t_stat
    FROM p
    """,
)
def orders_diff_in_diff_holiday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of the December holiday
    effect on average order value: treatment month Dec vs control Nov,
    pre-period 1999 vs post 2000 (both fully inside the data range at
    every scale factor), DiD = (Dec2000 − Nov2000) − (Dec1999 −
    Nov1999) with the large-sample SE sqrt(Σ var_g/n_g) over the four
    cells — the Card & Krueger (1994) design as one FILTERed aggregate.
    Four cells from a single conditional group-by of integer cents
    (exact decimal sums); all means/variances finish in double. One
    shuffle over four keys at any scale."""
    o = _t(spark, sf_dir, "orders")
    c = o.filter(
        F.year("o_orderdate").isin(1999, 2000)
        & F.month("o_orderdate").isin(11, 12)
    ).select(
        (F.year("o_orderdate") == 2000).alias("post"),
        (F.month("o_orderdate") == 12).alias("treat"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("decimal(38,0)")
        .alias("cents"),
    )
    g = c.groupBy("post", "treat").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    mean = sd / nd

    def cell(post: bool, treat: bool):
        return F.max(
            F.when((F.col("post") == post) & (F.col("treat") == treat), mean)
        )

    p = g.agg(
        cell(True, True).alias("m11"),
        cell(True, False).alias("m10"),
        cell(False, True).alias("m01"),
        cell(False, False).alias("m00"),
        F.sum(
            (nd * ssd - sd * sd) / (nd * (nd - F.lit(1.0))) / nd
        ).alias("var_did"),
        F.sum("n").cast("long").alias("n_total"),
    )
    did = (F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00"))

    def dollars(col, q):
        return F.floor(col / F.lit(100.0) * q + 0.5) / q

    return p.select(
        "n_total",
        dollars(F.col("m00"), 1.0e2).alias("mean_nov_pre"),
        dollars(F.col("m01"), 1.0e2).alias("mean_dec_pre"),
        dollars(F.col("m10"), 1.0e2).alias("mean_nov_post"),
        dollars(F.col("m11"), 1.0e2).alias("mean_dec_post"),
        dollars(did, 1.0e4).alias("did_dollars"),
        (F.floor(did / F.sqrt(F.col("var_did")) * 1.0e6 + 0.5) / 1.0e6).alias(
            "t_stat"
        ),
    )


# ===========================================================================
# Wave L — probabilistic-structure audits: a Bloom-filter build with a
# measured-vs-theoretical false-positive-rate probe (Bloom 1970;
# completes the sketch family next to HLL/KLL/KMV/CM), and a
# stratified train/val split balance audit over the deterministic
# Knuth-hash rule (the per-stratum fairness readout next to
# sample_hash_uniformity_chisq's global one). All hash arithmetic is
# pure BIGINT multiplication/modulo — identical on both engines.
# ===========================================================================
_BLOOM_M = 65536
_BLOOM_HASHES = (2654435761, 2246822519, 3266489917)


def _bloom_bits_sql(key: str) -> str:
    return ", ".join(
        f"(({key} * {a}) % 4294967296) % {_BLOOM_M}" for a in _BLOOM_HASHES
    )


@register(
    "sketch_bloom_fpr_audit",
    oracle=f"""
    WITH members AS (SELECT DISTINCT o_custkey AS key FROM orders),
    bits AS (
      SELECT DISTINCT unnest([{_bloom_bits_sql("key")}]) AS bit FROM members
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_members,
                 CAST(max(key) AS BIGINT) AS mx FROM members),
    probes AS (
      SELECT mx + g AS key FROM n, generate_series(1, 5000) AS t(g)
    ),
    pb AS (
      SELECT key, unnest([{_bloom_bits_sql("key")}]) AS bit FROM probes
    ),
    hits AS (
      SELECT pb.key, count(*) AS n_set
      FROM pb JOIN bits USING (bit) GROUP BY pb.key
    ),
    fp AS (SELECT CAST(count(*) AS BIGINT) AS n_fp FROM hits WHERE n_set = 3),
    b AS (SELECT CAST(count(*) AS BIGINT) AS bits_set FROM bits)
    SELECT n_members, bits_set,
           floor(CAST(bits_set AS DOUBLE) / {_BLOOM_M}.0e0 * 1.0e6 + 0.5)
             / 1.0e6 AS fill_ratio,
           CAST(5000 AS BIGINT) AS n_probes, n_fp,
           floor(CAST(n_fp AS DOUBLE) / 5000.0e0 * 1.0e6 + 0.5) / 1.0e6
             AS fpr_realized,
           floor(pow(1.0e0 - pow(1.0e0 - 1.0e0/{_BLOOM_M}.0e0,
                                 3.0e0 * CAST(n_members AS DOUBLE)),
                     3.0e0) * 1.0e6 + 0.5) / 1.0e6 AS fpr_theoretical
    FROM n, b, fp
    """,
)
def sketch_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter (1970) as relational algebra: members (distinct
    order custkeys) each set k=3 bits of an m=65536-bit array via
    Knuth-multiplicative hashes (pure BIGINT arithmetic — engine-
    identical); the filter IS the distinct (bit) relation, mergeable by
    union like every sketch in the family. 5000 guaranteed-non-member
    probe keys (max_custkey + 1..5000) then test membership by an
    equi-join on bit positions — a probe is a false positive iff all 3
    of its bits are set — and the realized FPR sits next to the
    closed-form (1-(1-1/m)^{{kn}})^k expectation. At scale the bit
    relation is bounded by m (64k rows however many members), so build
    and probe are both broadcast-join-sized; this is the audit a
    pipeline runs before shipping a Bloom pre-filter in front of an
    expensive dedup join."""
    o = _t(spark, sf_dir, "orders")
    members = o.select(F.col("o_custkey").alias("key")).distinct()

    def bloom_bits(key):
        return F.array(
            *[
                ((key * F.lit(a)) % F.lit(4294967296)) % F.lit(_BLOOM_M)
                for a in _BLOOM_HASHES
            ]
        )

    bits = (
        members.select(F.explode(bloom_bits(F.col("key"))).alias("bit"))
        .distinct()
    )
    n = members.agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max("key").cast("long").alias("mx"),
    )
    probes = spark.range(1, 5001).crossJoin(F.broadcast(n)).select(
        (F.col("mx") + F.col("id")).alias("key"), "n_members"
    )
    pb = probes.select("key", F.explode(bloom_bits(F.col("key"))).alias("bit"))
    hits = pb.join(bits, "bit").groupBy("key").agg(
        F.count(F.lit(1)).alias("n_set")
    )
    fp = hits.filter(F.col("n_set") == 3).agg(
        F.count(F.lit(1)).cast("long").alias("n_fp")
    )
    b = bits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    nm = F.col("n_members").cast("double")
    return (
        n.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(fp))
        .select(
            "n_members",
            "bits_set",
            (
                F.floor(
                    F.col("bits_set").cast("double")
                    / F.lit(float(_BLOOM_M))
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("fill_ratio"),
            F.lit(5000).cast("long").alias("n_probes"),
            "n_fp",
            (
                F.floor(F.col("n_fp").cast("double") / 5000.0 * 1.0e6 + 0.5)
                / 1.0e6
            ).alias("fpr_realized"),
            (
                F.floor(
                    F.pow(
                        F.lit(1.0)
                        - F.pow(
                            F.lit(1.0 - 1.0 / _BLOOM_M), F.lit(3.0) * nm
                        ),
                        F.lit(3.0),
                    )
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("fpr_theoretical"),
        )
    )


@register(
    "sample_stratified_split_audit",
    oracle="""
    WITH d AS (
      SELECT lang, source,
             (((doc_id * 2246822519) % 4294967296) % 64 < 13) AS is_val
      FROM documents
    ),
    s AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (is_val) AS BIGINT) AS n_val
      FROM d GROUP BY 1, 2
    ),
    g AS (
      SELECT CAST(sum(n) AS DOUBLE) AS nn, CAST(sum(n_val) AS DOUBLE) AS nv
      FROM s
    )
    SELECT lang, source, n, n_val,
           floor(CAST(n_val AS DOUBLE) / CAST(n AS DOUBLE) * 1.0e6 + 0.5)
             / 1.0e6 AS val_rate,
           floor((CAST(n_val AS DOUBLE) / CAST(n AS DOUBLE) - nv / nn)
                 * 1.0e6 + 0.5) / 1.0e6 AS rate_dev
    FROM s, g
    ORDER BY lang, source
    """,
)
def sample_stratified_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum balance audit of the deterministic hash split: the
    bucket<13-of-64 Knuth-hash validation rule (same pure-BIGINT hash
    family as sample_hash_uniformity_chisq, different multiplier) is
    key-deterministic but NOT stratified, so thin (lang, source) strata
    can drift far from the global ~20.3% rate — exactly what this
    readout quantifies per stratum before anyone trusts a per-language
    eval number from the holdout. One groupBy over bounded strata plus
    a 1-row global broadcast; at 100 TB the stratum table is still
    |langs|x|sources| rows."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        "source",
        (
            ((F.col("doc_id") * F.lit(2246822519)) % F.lit(4294967296))
            % F.lit(64)
            < 13
        ).alias("is_val"),
    )
    s = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("is_val"), 1).otherwise(0))
        .cast("long")
        .alias("n_val"),
    )
    g = s.agg(
        F.sum("n").cast("double").alias("nn"),
        F.sum("n_val").cast("double").alias("nv"),
    )
    rate = F.col("n_val").cast("double") / F.col("n").cast("double")
    return (
        s.crossJoin(F.broadcast(g))
        .select(
            "lang",
            "source",
            "n",
            "n_val",
            (F.floor(rate * 1.0e6 + 0.5) / 1.0e6).alias("val_rate"),
            (
                F.floor((rate - F.col("nv") / F.col("nn")) * 1.0e6 + 0.5)
                / 1.0e6
            ).alias("rate_dev"),
        )
        .orderBy("lang", "source")
    )


# ===========================================================================
# Wave M — corpus-distribution text analytics: per-source Jensen-
# Shannon divergence from the corpus unigram distribution (the drift /
# source-mixture readout a data-curation pass reads next to the
# set-based source_vocab_jaccard), and a per-language sentence-length
# profile. JSD uses the SPARSE decomposition (terms only for words the
# source actually contains; the missing-mass tail collapses to
# ln2·(1−Q(V_s)) in closed form) with every per-term double quantized
# to 1e-12 units before the sum, so the aggregate is an exact integer
# sum in any order ([[oracle-parity-gotchas]]).
# ===========================================================================
@register(
    "text_source_unigram_jsd",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    t AS (SELECT source, w FROM tok WHERE w <> ''),
    sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
    ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM sw GROUP BY 1),
    cw AS (SELECT w, CAST(sum(c) AS BIGINT) AS cg FROM sw GROUP BY 1),
    tot AS (SELECT CAST(sum(cg) AS BIGINT) AS nn,
                   CAST(count(*) AS BIGINT) AS vocab FROM cw),
    terms AS (
      SELECT sw.source,
             CAST(floor(0.5e0 * (
                    (CAST(c AS DOUBLE)/CAST(n_s AS DOUBLE))
                    * ln(2.0e0*(CAST(c AS DOUBLE)/CAST(n_s AS DOUBLE))
                         / ((CAST(c AS DOUBLE)/CAST(n_s AS DOUBLE))
                            + (CAST(cg AS DOUBLE)/CAST(nn AS DOUBLE))))
                    + (CAST(cg AS DOUBLE)/CAST(nn AS DOUBLE))
                    * ln(2.0e0*(CAST(cg AS DOUBLE)/CAST(nn AS DOUBLE))
                         / ((CAST(c AS DOUBLE)/CAST(n_s AS DOUBLE))
                            + (CAST(cg AS DOUBLE)/CAST(nn AS DOUBLE))))
                  ) * 1.0e12 + 0.5) AS BIGINT) AS t_u,
             CAST(floor(CAST(cg AS DOUBLE)/CAST(nn AS DOUBLE) * 1.0e12 + 0.5)
                  AS BIGINT) AS q_u,
             CAST(1 AS BIGINT) AS one
      FROM sw JOIN ns USING (source) JOIN cw USING (w), tot
    )
    SELECT source, n_s AS n_tokens,
           CAST(sum(one) AS BIGINT) AS vocab_overlap,
           floor((CAST(sum(t_u) AS DOUBLE) / 1.0e12
                  + 0.5e0 * ln(2.0e0)
                    * (1.0e0 - CAST(sum(q_u) AS DOUBLE) / 1.0e12))
                 * 1.0e6 + 0.5) / 1.0e6 AS jsd_nats
    FROM terms JOIN ns USING (source)
    GROUP BY source, n_s
    ORDER BY source
    """,
)
def text_source_unigram_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence (Lin 1991) of each source's unigram
    distribution P_s from the corpus distribution Q — the standard
    source-drift / domain-mixture score a curation pipeline tracks per
    snapshot. Computed in the SPARSE form: explicit terms only for
    words the source contains (p>0), and the entire p=0 tail collapses
    analytically to ½·ln2·(1−Σ_{w∈V_s} q_w), so the join is
    source-vocab-sized, never |sources|×|vocab|. Each per-term double
    (ln-based) is floor-quantized to 1e-12 units BEFORE summation, so
    both engines sum identical integers in any order. Shuffles are
    bounded by vocabulary, not corpus."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    sw = t.groupBy("source", "w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    ns = sw.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    cw = sw.groupBy("w").agg(F.sum("c").cast("long").alias("cg"))
    tot = cw.agg(F.sum("cg").cast("long").alias("nn"))
    p = F.col("c").cast("double") / F.col("n_s").cast("double")
    q = F.col("cg").cast("double") / F.col("nn").cast("double")
    term = F.lit(0.5) * (
        p * F.log(F.lit(2.0) * p / (p + q)) + q * F.log(F.lit(2.0) * q / (p + q))
    )
    terms = (
        sw.join(F.broadcast(ns), "source")
        .join(cw, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.floor(term * 1.0e12 + 0.5).cast("long").alias("t_u"),
            F.floor(q * 1.0e12 + 0.5).cast("long").alias("q_u"),
        )
    )
    agg = terms.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vocab_overlap"),
        F.sum("t_u").cast("decimal(38,0)").alias("st"),
        F.sum("q_u").cast("decimal(38,0)").alias("sq"),
    )
    import math

    return (
        agg.join(F.broadcast(ns), "source")
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            "vocab_overlap",
            (
                F.floor(
                    (
                        F.col("st").cast("double") / 1.0e12
                        + F.lit(0.5 * math.log(2.0))
                        * (F.lit(1.0) - F.col("sq").cast("double") / 1.0e12)
                    )
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("jsd_nats"),
        )
        .orderBy("source")
    )


@register(
    "text_sentence_length_profile",
    oracle="""
    WITH s AS (
      SELECT lang, trim(unnest(regexp_split_to_array(text, '[.!?]+'))) AS sent
      FROM documents
    ),
    w AS (
      SELECT lang,
             CAST(len(list_filter(string_split(sent, ' '), x -> x <> ''))
                  AS HUGEINT) AS n_words
      FROM s WHERE sent <> ''
    ),
    a AS (
      SELECT lang, CAST(count(*) AS HUGEINT) AS n, sum(n_words) AS sw,
             sum(n_words * n_words) AS ssw, CAST(max(n_words) AS BIGINT) AS mx
      FROM w GROUP BY lang
    )
    SELECT lang, CAST(n AS BIGINT) AS n_sentences,
           floor(CAST(sw AS DOUBLE) / CAST(n AS DOUBLE) * 1.0e6 + 0.5) / 1.0e6
             AS mean_words,
           floor((CAST(n AS DOUBLE) * CAST(ssw AS DOUBLE)
                  - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE))
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0))
                 * 1.0e6 + 0.5) / 1.0e6 AS var_words,
           mx AS max_words
    FROM a ORDER BY lang
    """,
)
def text_sentence_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sentence-length profile: sentences split on
    [.!?]+ runs (the same regex class both engines treat identically),
    empty segments dropped after trim, length measured in nonempty
    space-separated words. Mean/variance from exact integer sums per
    bounded language key; the readability-adjacent structural stat
    (word_length and Flesch profiles cover characters and syllables —
    this covers the sentence axis). One explode + one groupBy on a
    bounded key: map-side combinable at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    s = docs.select(
        "lang",
        F.explode(F.split(F.col("text"), "[.!?]+")).alias("seg"),
    ).select("lang", F.trim(F.col("seg")).alias("sent"))
    w = s.filter(F.col("sent") != "").select(
        "lang",
        F.size(F.filter(F.split(F.col("sent"), " "), lambda x: x != ""))
        .cast("decimal(38,0)")
        .alias("n_words"),
    )
    a = w.groupBy("lang").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("n_words").alias("sw"),
        F.sum(F.col("n_words") * F.col("n_words")).alias("ssw"),
        F.max("n_words").cast("long").alias("mx"),
    )
    nd = F.col("n").cast("double")
    swd = F.col("sw").cast("double")
    sswd = F.col("ssw").cast("double")
    return a.select(
        "lang",
        F.col("n").cast("long").alias("n_sentences"),
        (F.floor(swd / nd * 1.0e6 + 0.5) / 1.0e6).alias("mean_words"),
        (
            F.floor(
                (nd * sswd - swd * swd) / (nd * (nd - F.lit(1.0))) * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("var_words"),
        F.col("mx").alias("max_words"),
    ).orderBy("lang")


# ===========================================================================
# Wave N — embedding-space geometry audits: k-occurrence hubness
# (Radovanovic et al. 2010 — the high-dimensional pathology where a
# few points appear in everyone's neighbor list and ANN recall
# quietly degrades), and a deterministic triplet-margin violation rate
# (the metric-learning sanity check that labels actually separate in
# cosine space). Neighbor sets use the established rounded-cosine +
# id tiebreak so both engines agree on the exact graph.
# ===========================================================================
@register(
    "embedding_knn_hubness",
    oracle="""
    WITH sub AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 500
    ),
    nn AS (
      SELECT neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.v, c.v), 4) DESC,
                          c.vec_id ASC
               ) AS rank
        FROM sub q, sub c WHERE c.vec_id != q.vec_id
      ) WHERE rank <= 10
    ),
    deg AS (
      SELECT s.vec_id, CAST(count(nn.neighbor_id) AS HUGEINT) AS indeg
      FROM sub s LEFT JOIN nn ON nn.neighbor_id = s.vec_id
      GROUP BY s.vec_id
    ),
    a AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, sum(indeg) AS s1,
             sum(indeg * indeg) AS s2, sum(indeg * indeg * indeg) AS s3,
             CAST(max(indeg) AS BIGINT) AS mx,
             CAST(count(*) FILTER (indeg = 0) AS BIGINT) AS antihubs,
             CAST(count(*) FILTER (indeg > 20) AS BIGINT) AS hubs_2k
      FROM deg
    )
    SELECT CAST(n AS BIGINT) AS n_points, mx AS max_indegree,
           antihubs AS n_antihubs, hubs_2k AS n_hubs_over_2k,
           floor((CAST(s3 AS DOUBLE)/CAST(n AS DOUBLE)
                  - 3.0e0*(CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE))
                    *(CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE))
                  + 2.0e0*pow(CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE), 3.0e0))
                 / pow(CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE)
                       - pow(CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE), 2.0e0),
                       1.5e0) * 1.0e6 + 0.5) / 1.0e6 AS indegree_skewness
    FROM a
    """,
)
def embedding_knn_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-occurrence hubness audit (Radovanovic, Nanopoulos &
    Ivanovic 2010): over the deterministic vec_id<500 probe subset,
    build the exact 10-NN graph (rounded-cosine + id tiebreak — the
    engine-stable neighbor contract shared with
    embedding_knn_label_accuracy), then profile the IN-degree
    distribution: max hub size, antihub count (in-degree 0 — points no
    one retrieves), count above 2k, and the moment skewness S_{N_k}
    that IS the hubness score. Positive skew growing with dimension is
    the canonical symptom that cosine kNN is concentrating; an ANN
    rollout reads this before trusting recall numbers. Probe subset is
    bounded by construction (the 100 TB path swaps in the IVF index
    for neighbor generation); skewness from exact integer moment
    sums."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    sub = emb.filter(F.col("vec_id") < 500)
    nn = brute_force_topk(sub, sub, k=10, round_dp=4).select("neighbor_id")
    cnt = nn.groupBy("neighbor_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    deg = (
        sub.select("vec_id")
        .join(cnt, sub["vec_id"] == cnt["neighbor_id"], "left")
        .select(
            F.coalesce(F.col("c"), F.lit(0)).cast("decimal(38,0)").alias(
                "indeg"
            )
        )
    )
    a = deg.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("indeg").alias("s1"),
        F.sum(F.col("indeg") * F.col("indeg")).alias("s2"),
        F.sum(F.col("indeg") * F.col("indeg") * F.col("indeg")).alias("s3"),
        F.max("indeg").cast("long").alias("mx"),
        F.sum(F.when(F.col("indeg") == 0, 1).otherwise(0))
        .cast("long")
        .alias("antihubs"),
        F.sum(F.when(F.col("indeg") > 20, 1).otherwise(0))
        .cast("long")
        .alias("hubs_2k"),
    )
    nd = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / nd
    m2r = F.col("s2").cast("double") / nd
    m3r = F.col("s3").cast("double") / nd
    skew = (m3r - F.lit(3.0) * m1 * m2r + F.lit(2.0) * F.pow(m1, F.lit(3.0))) / F.pow(
        m2r - F.pow(m1, F.lit(2.0)), F.lit(1.5)
    )
    return a.select(
        F.col("n").cast("long").alias("n_points"),
        F.col("mx").alias("max_indegree"),
        F.col("antihubs").alias("n_antihubs"),
        F.col("hubs_2k").alias("n_hubs_over_2k"),
        (F.floor(skew * 1.0e6 + 0.5) / 1.0e6).alias("indegree_skewness"),
    )


@register(
    "embedding_triplet_margin_violations",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM e),
    anch AS (
      SELECT vec_id, label, v,
             lead(vec_id) OVER (PARTITION BY label ORDER BY vec_id) AS pos_id
      FROM e
    ),
    trip AS (
      SELECT a.vec_id, a.label, a.v,
             p.v AS pv,
             g.v AS gv, g.label AS neg_label
      FROM anch a
      JOIN e p ON p.vec_id = a.pos_id
      JOIN n ON true
      JOIN e g ON g.vec_id = (a.vec_id + nn // 2) % nn
      WHERE a.pos_id IS NOT NULL AND g.label != a.label
    ),
    s AS (
      SELECT CAST(round(list_cosine_similarity(v, pv), 6) * 1000000 AS BIGINT)
               AS cap,
             CAST(round(list_cosine_similarity(v, gv), 6) * 1000000 AS BIGINT)
               AS can
      FROM trip
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triplets,
           CAST(count(*) FILTER (cap < can + 50000) AS BIGINT) AS n_violations,
           floor(CAST(count(*) FILTER (cap < can + 50000) AS DOUBLE)
                 / count(*) * 1.0e6 + 0.5) / 1.0e6 AS violation_rate,
           floor(CAST(sum(cap) AS DOUBLE) / count(*) + 0.5) / 1.0e6
             AS mean_pos_cos,
           floor(CAST(sum(can) AS DOUBLE) / count(*) + 0.5) / 1.0e6
             AS mean_neg_cos
    FROM s
    """,
)
def embedding_triplet_margin_violations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Triplet-margin violation rate (the Schroff et al. 2015 FaceNet
    criterion, as a batch audit): anchors pair with a deterministic
    same-label positive (the next vec_id within the label — a window
    PARTITIONED by label, never global) and a deterministic negative
    (the vector at (id + n/2) mod n, an EQUI-join on computed id;
    same-label collisions are excluded, not resampled). A triplet
    violates if cos(a,p) < cos(a,n) + 0.05 on micro-unit-quantized
    cosines, so the cut and both means are integer-exact across
    engines. The label-separation health check run before trusting
    embedding-distance dedup or retrieval labels; every join is an
    equi-join, the only scalar is the broadcast count."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        cosine_expr,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    n = emb.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    w = Window.partitionBy("label").orderBy("vec_id")
    anch = emb.select(
        "vec_id",
        "label",
        F.col("embedding").alias("v"),
        F.lead("vec_id").over(w).alias("pos_id"),
    ).filter(F.col("pos_id").isNotNull())
    pos = emb.select(
        F.col("vec_id").alias("pos_id"), F.col("embedding").alias("pv")
    )
    neg = emb.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("gv"),
    )
    trip = (
        anch.crossJoin(F.broadcast(n))
        .withColumn(
            "neg_id",
            (F.col("vec_id") + F.floor(F.col("nn") / 2).cast("long"))
            % F.col("nn"),
        )
        .join(pos, "pos_id")
        .join(neg, "neg_id")
        .filter(F.col("neg_label") != F.col("label"))
    )
    s = trip.select(
        (F.round(cosine_expr("v", "pv"), 6) * 1000000)
        .cast("long")
        .alias("cap"),
        (F.round(cosine_expr("v", "gv"), 6) * 1000000)
        .cast("long")
        .alias("can"),
    )
    viol = F.sum(
        F.when(F.col("cap") < F.col("can") + 50000, 1).otherwise(0)
    ).cast("long")
    return s.agg(
        F.count(F.lit(1)).cast("long").alias("n_triplets"),
        viol.alias("n_violations"),
        (
            F.floor(
                viol.cast("double") / F.count(F.lit(1)) * 1.0e6 + 0.5
            )
            / 1.0e6
        ).alias("violation_rate"),
        (
            F.floor(F.sum("cap").cast("double") / F.count(F.lit(1)) + 0.5)
            / 1.0e6
        ).alias("mean_pos_cos"),
        (
            F.floor(F.sum("can").cast("double") / F.count(F.lit(1)) + 0.5)
            / 1.0e6
        ).alias("mean_neg_cos"),
    )


# ===========================================================================
# Wave O — two-pass-rank operator reuse (the scale-safe global-rank
# form from operators/windows.py, pinned equal to the single-window
# plan by pareto_share_two_pass): year-over-year spend-quintile
# migration built from two two-pass rankings (no global window
# anywhere), and the Kruskal–Wallis k-sample rank test whose midranks
# come from the operator's NEW weighted-cumsum mode over the
# distinct-value table.
# ===========================================================================
@register(
    "customer_segment_migration",
    oracle="""
    WITH s AS (
      SELECT o_custkey AS cust, year(o_orderdate) AS yr,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders WHERE year(o_orderdate) IN (1999, 2000)
      GROUP BY 1, 2
    ),
    r AS (
      SELECT cust, yr, cents,
             row_number() OVER (PARTITION BY yr
                                ORDER BY cents DESC, cust) AS rnk,
             count(*) OVER (PARTITION BY yr) AS n
      FROM s
    ),
    q AS (SELECT cust, yr, (5 * rnk - 1) // n + 1 AS quintile FROM r),
    mig AS (
      SELECT a.quintile AS q_1999, b.quintile AS q_2000,
             CAST(count(*) AS BIGINT) AS n_customers
      FROM q a JOIN q b ON a.cust = b.cust AND a.yr = 1999 AND b.yr = 2000
      GROUP BY 1, 2
    ),
    t AS (SELECT CAST(sum(n_customers) AS DOUBLE) AS tot FROM mig)
    SELECT q_1999, q_2000, n_customers,
           floor(CAST(n_customers AS DOUBLE) / tot * 1.0e6 + 0.5) / 1.0e6
             AS share
    FROM mig, t ORDER BY q_1999, q_2000
    """,
)
def customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year spend-quintile migration matrix (1999 -> 2000):
    customers rank by annual spend WITHIN each year via the two-pass
    range-bucket ranking operator (ranked_cumsum_two_pass — zero
    single-partition windows, the >= 1e8-key-safe form the concentration
    family documents), quintile = ceil(5·rank/n) in pure integer
    arithmetic, then the 25-cell transition matrix from an equi-join on
    customer across years — the churn/upsell movement readout behind
    RFM dashboards. Ranks are over integer cents with custkey
    tiebreaks, so the quintile cut is engine-exact; the oracle is the
    plain global-window formulation, which pins the operator's
    equivalence on a second live shape."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    o = _t(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1999, 2000)
    )
    s = o.groupBy(
        F.col("o_custkey").alias("cust"),
        F.year("o_orderdate").alias("yr"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )

    def quintiles(yr: int) -> DataFrame:
        d = s.filter(F.col("yr") == yr).select("cust", "cents")
        r = ranked_cumsum_two_pass(d, "cents", "cust")
        n = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
        return (
            r.crossJoin(F.broadcast(n))
            .select(
                "cust",
                (
                    ((F.lit(5) * F.col("rnk") - 1) / F.col("n")).cast("long")
                    + 1
                ).alias(f"q_{yr}"),
            )
        )

    a = quintiles(1999)
    b = quintiles(2000)
    mig = (
        a.join(b, "cust")
        .groupBy("q_1999", "q_2000")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )
    t = mig.agg(F.sum("n_customers").cast("double").alias("tot"))
    return (
        mig.crossJoin(F.broadcast(t))
        .select(
            "q_1999",
            "q_2000",
            "n_customers",
            (
                F.floor(
                    F.col("n_customers").cast("double")
                    / F.col("tot")
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("share"),
        )
        .orderBy("q_1999", "q_2000")
    )


@register(
    "events_kruskal_wallis_value",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) AS vq
      FROM events WHERE value IS NOT NULL
    ),
    c AS (SELECT vq, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
    r AS (
      SELECT vq, n,
             sum(n) OVER (ORDER BY vq DESC ROWS UNBOUNDED PRECEDING) AS cum
      FROM c
    ),
    m AS (SELECT vq, CAST(2 * cum - n + 1 AS HUGEINT) AS mr2 FROM r),
    g AS (
      SELECT event_type, vq, CAST(count(*) AS HUGEINT) AS cnt
      FROM v GROUP BY 1, 2
    ),
    rg AS (
      SELECT event_type, sum(cnt * mr2) AS r2, CAST(sum(cnt) AS HUGEINT) AS ng
      FROM g JOIN m USING (vq) GROUP BY 1
    ),
    terms AS (
      SELECT event_type, ng,
             CAST(floor(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
                        / (4.0e0 * CAST(ng AS DOUBLE))) AS HUGEINT) AS term_u
      FROM rg
    ),
    ties AS (SELECT CAST(sum(n * n * n - n) AS HUGEINT) AS t3 FROM c),
    t AS (
      SELECT CAST(sum(ng) AS DOUBLE) AS nn,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(term_u) AS DOUBLE) AS sum_r2sq,
             CAST(max(t3) AS DOUBLE) AS t3
      FROM terms, ties
    )
    SELECT CAST(nn AS BIGINT) AS n_total, k AS k_groups,
           floor((12.0e0 / (nn * (nn + 1.0e0)) * sum_r2sq
                  - 3.0e0 * (nn + 1.0e0)) * 1.0e6 + 0.5) / 1.0e6 AS h_stat,
           floor((1.0e0 - t3 / (nn*nn*nn - nn)) * 1.0e9 + 0.5) / 1.0e9
             AS tie_correction,
           floor((12.0e0 / (nn * (nn + 1.0e0)) * sum_r2sq
                  - 3.0e0 * (nn + 1.0e0))
                 / (1.0e0 - t3 / (nn*nn*nn - nn)) * 1.0e6 + 0.5) / 1.0e6
             AS h_tie_corrected
    FROM t
    """,
)
def events_kruskal_wallis_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H test (1952) of event value across types — the
    k-sample generalization of the registered Mann–Whitney, completing
    the rank-test battery. Midranks come WITHOUT any global window:
    values quantize to integer micro-units, the distinct-value count
    table gets a weighted running count from ranked_cumsum_two_pass's
    new weight_col mode (range-bucketed two-pass — bounded shuffles at
    any cardinality), and doubled midranks 2·cum−n+1 stay exact
    integers. Per-group rank sums are exact HUGEINT/decimal products;
    the per-group R²/n terms are floor-quantized before the cross-group
    sum (group-order independence); the tie correction
    1 − Σ(t³−t)/(N³−N) comes from the same count table. H under DESC
    ranks equals H under ASC (affine rank flip), both engines use
    DESC."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        "event_type",
        F.floor(F.col("value") * 1.0e6 + 0.5).cast("long").alias("vq"),
    )
    c = v.groupBy("vq").agg(F.count(F.lit(1)).cast("long").alias("n"))
    r = ranked_cumsum_two_pass(c, "vq", "vq", weight_col="n")
    m = r.select(
        "vq",
        (F.lit(2) * F.col("cum") - F.col("n") + 1)
        .cast("decimal(38,0)")
        .alias("mr2"),
    )
    g = v.groupBy("event_type", "vq").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt")
    )
    rg = (
        g.join(m, "vq")
        .groupBy("event_type")
        .agg(
            F.sum(F.col("cnt") * F.col("mr2")).alias("r2"),
            F.sum("cnt").cast("decimal(38,0)").alias("ng"),
        )
    )
    terms = rg.select(
        "ng",
        F.floor(
            F.col("r2").cast("double")
            * F.col("r2").cast("double")
            / (F.lit(4.0) * F.col("ng").cast("double"))
        )
        .cast("decimal(38,0)")
        .alias("term_u"),
    )
    ties = c.agg(
        F.sum(
            F.col("n").cast("decimal(38,0)")
            * F.col("n").cast("decimal(38,0)")
            * F.col("n").cast("decimal(38,0)")
            - F.col("n").cast("decimal(38,0)")
        ).alias("t3")
    )
    t = terms.crossJoin(F.broadcast(ties)).agg(
        F.sum("ng").cast("double").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("term_u").cast("double").alias("sum_r2sq"),
        F.max("t3").cast("double").alias("t3"),
    )
    nn = F.col("nn")
    h = F.lit(12.0) / (nn * (nn + 1.0)) * F.col("sum_r2sq") - F.lit(3.0) * (
        nn + 1.0
    )
    corr = F.lit(1.0) - F.col("t3") / (nn * nn * nn - nn)
    return t.select(
        nn.cast("long").alias("n_total"),
        F.col("k").alias("k_groups"),
        (F.floor(h * 1.0e6 + 0.5) / 1.0e6).alias("h_stat"),
        (F.floor(corr * 1.0e9 + 0.5) / 1.0e9).alias("tie_correction"),
        (F.floor(h / corr * 1.0e6 + 0.5) / 1.0e6).alias("h_tie_corrected"),
    )


# ===========================================================================
# Wave H (round-10 top-up) — context-length budget audit for the LLM
# training pipeline: per source, how many documents overflow the packing
# context windows? The direct upstream signal for pack_chunks_fixed /
# pack_training_shards sizing (an overflowing doc either truncates or
# splits — both change the training mix). Exact integers until the two
# final rate divisions (floor-quantized, order-independent).
# ===========================================================================
@register(
    "doc_context_overflow_rate",
    oracle="""
    WITH tok AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_tok > 32 THEN 1 ELSE 0 END) AS BIGINT)
             AS over_32,
           CAST(sum(CASE WHEN n_tok > 64 THEN 1 ELSE 0 END) AS BIGINT)
             AS over_64,
           CAST(max(n_tok) AS BIGINT) AS max_tokens,
           floor(sum(CASE WHEN n_tok > 32 THEN 1 ELSE 0 END) * 1.0e6
                 / count(*) + 0.5) / 1.0e6 AS rate_32,
           floor(sum(CASE WHEN n_tok > 64 THEN 1 ELSE 0 END) * 1.0e6
                 / count(*) + 0.5) / 1.0e6 AS rate_64
    FROM tok GROUP BY source
    """,
)
def doc_context_overflow_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source context-window overflow audit: share of documents
    whose whitespace token count exceeds the 32- and 64-token packing
    budgets (thresholds sized to the synthetic corpus's 10–99 token
    range; in production these are the model context windows). One
    tokenize-once projection into one map-side-combinable aggregate —
    no shuffle beyond the |sources|-bounded group-by, no window. Counts
    are exact longs; the rates divide once and floor-quantize at 1e-6
    (addition-order-proof vs the DuckDB oracle)."""
    from cioos_siooc_data_transform_spark.operators.dedup import words_expr

    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(words_expr(F.col("text"))).cast("long")
    agg = docs.select("source", n_tok.alias("n_tok")).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_tok") > 32, 1).otherwise(0))
        .cast("long")
        .alias("over_32"),
        F.sum(F.when(F.col("n_tok") > 64, 1).otherwise(0))
        .cast("long")
        .alias("over_64"),
        F.max("n_tok").cast("long").alias("max_tokens"),
    )
    rate = lambda c: (  # noqa: E731
        F.floor(F.col(c) * 1.0e6 / F.col("n_docs") + 0.5) / 1.0e6
    )
    return agg.select(
        "source", "n_docs", "over_32", "over_64", "max_tokens",
        rate("over_32").alias("rate_32"),
        rate("over_64").alias("rate_64"),
    )
