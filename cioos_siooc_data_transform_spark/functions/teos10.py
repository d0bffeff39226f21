"""TEOS-10 native (SA, CT) surface: Conservative Temperature and the
75-term specific-volume / density polynomial.

Everything here derives from PUBLISHED constants and equations:

- CT_from_pt: potential enthalpy polynomial of McDougall (2003) as fitted
  in Feistel (2003) / IOC-SCOR-IAPSO (2010, TEOS-10 manual, Eq. 3.3.3 and
  appendix A.12); cp0 = 3991.86795711963 J kg-1 K-1 is the TEOS-10
  defined constant.
- specvol/rho: the 75-term polynomial of Roquet, Madec, McDougall &
  Barker (2015, Ocean Modelling 90) — the fit TEOS-10 adopted for the
  computationally-efficient expression of v(SA, CT, p).

Parity note (reference GSW-Python/gsw-3.3.1/src/c_gsw/
gsw_oceanographic_toolbox.c:1401 gsw_ct_from_pt, :2009 gsw_specvol;
coefficient table gsw_internal_const.h GSW_SPECVOL_COEFFICIENTS): the
reference vendors the same published constants; this module re-expresses
the evaluation as a single portable SQL scalar expression that BOTH
engines parse (Spark via F.expr, DuckDB verbatim), so the driver's
bit-level hash comparison sees identical IEEE operation trees. GSW's
CT_from_t obtains pt0 by entropy Newton iteration; this engine ships
TWO paths and documents the choice:

- ``ct_from_t_sql`` (the registered-query / cf-pipeline default)
  composes CT_from_pt with the published Bryden (1973) θ polynomial —
  ONE scalar expression, fully codegen, |Δpt0| ≲ a few mK vs GSW over
  oceanographic ranges (the polynomial's own truncation error).
- the high-accuracy twin composes CT_from_pt with the UNESCO RK4
  lapse-rate integration (functions/oceanography.theta_rk4 — linear
  staged projections, still codegen, ~4× the arithmetic): at the
  TEOS-10 check point CT_from_t(34.7118, 28.7856, 10) it lands within
  3e-6 K of GSW's entropy-iterated 28.809919826700281 (pinned in
  tests/test_oceanography_checkvalues.py), reducing the remaining gap
  to the EOS-80↔TEOS-10 reference-state difference.

The default stays Bryden because every registered oceanography query is
oracle-paired at 6-dp rounding where both paths agree; pipelines that
need μK fidelity at depth call the RK4 twin.

Scale: every function is one closed-form scalar expression → whole-stage
codegen, zero shuffles, zero Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from cioos_siooc_data_transform_spark.functions.symdiff import derivative_sql

#: TEOS-10 defined constants (IOC-SCOR-IAPSO 2010).
GSW_SFAC = 0.0248826675584615  # SA normalization: 1/(40*(SSO/35))
GSW_OFFSET = 5.971840214030754e-1  # deltaS(=24) * sfac, specvol xs shift
GSW_CP0 = 3991.86795711963  # J kg-1 K-1
GSW_SSO = 35.16504  # Standard Ocean Absolute Salinity g/kg


def _lit(v: float) -> str:
    """Portable DOUBLE literal: force an exponent so neither engine
    parses it as DECIMAL."""
    s = repr(float(v))
    return s if "e" in s or "E" in s else s + "e0"


# ---------------------------------------------------------------------------
# CT from pt — potential-enthalpy polynomial (Feistel 2003 fit).
# Horner structure transcribed from the published expression
# (TEOS-10 manual appendix A.12 / gsw_oceanographic_toolbox.c:1401).
# Placeholders: {x2} = sfac*SA, {x} = sqrt(x2), {y} = pt*0.025.
# ---------------------------------------------------------------------------
_CT_FROM_PT_TEMPLATE = (
    "(61.01362420681071e0 + {y}*(168776.46138048015e0 + "
    "{y}*(-2735.2785605119625e0 + {y}*(2574.2164453821433e0 + "
    "{y}*(-1536.6644434977543e0 + {y}*(545.7340497931629e0 + "
    "(-50.91091728474331e0 - 18.30489878927802e0*{y})*{y}))))) + "
    "{x2}*(268.5520265845071e0 + {y}*(-12019.028203559312e0 + "
    "{y}*(3734.858026725145e0 + {y}*(-2046.7671145057618e0 + "
    "{y}*(465.28655623826234e0 + (-0.6370820302376359e0 - "
    "10.650848542359153e0*{y})*{y})))) + "
    "{x}*(937.2099110620707e0 + {y}*(588.1802812170108e0 + "
    "{y}*(248.39476522971285e0 + (-3.871557904936333e0 - "
    "2.6268019854268356e0*{y})*{y})) + "
    "{x}*(-1687.914374187449e0 + {x}*(246.9598888781377e0 + "
    "{x}*(123.59576582457964e0 - 48.5891069025409e0*{x})) + "
    "{y}*(936.3206544460336e0 + "
    "{y}*(-942.7827304544439e0 + {y}*(369.4389437509002e0 + "
    "(-33.83664947895248e0 - 9.987880382780322e0*{y})*{y})))))))"
)


def ct_from_pt_sql(sa: str, pt: str) -> str:
    """Portable SQL for Conservative Temperature from (SA g/kg, pt °C).

    `sa`/`pt` are SQL sub-expressions (already DOUBLE)."""
    x2 = f"({_lit(GSW_SFAC)}*({sa}))"
    x = f"sqrt({x2})"
    y = f"(({pt})*0.025e0)"
    pot_enthalpy = _CT_FROM_PT_TEMPLATE.format(x2=x2, x=x, y=y)
    return f"({pot_enthalpy}/{_lit(GSW_CP0)})"


# ---------------------------------------------------------------------------
# Bryden (1973) potential temperature — same polynomial as
# functions/oceanography.potential_temperature, as portable SQL so the
# CT_from_t composition is one expression on both engines.
# ---------------------------------------------------------------------------
def pt0_from_t_sql(s: str, t: str, p: str) -> str:
    """θ(S, T, p) referenced to 0 dbar (Bryden 1973), portable SQL.
    `p` is DECIBAR; Bryden's fit is in bars, so dp = p·0.1 (see
    functions/oceanography.potential_temperature)."""
    dp = f"(({p})*0.1e0)"
    return (
        f"(({t}) "
        f"- {dp}*(3.6504e-4 + 8.3198e-5*({t}) - 5.4065e-7*({t})*({t}) "
        f"+ 4.0274e-9*({t})*({t})*({t})) "
        f"- {dp}*(({s}) - 35.0e0)*(1.7439e-5 - 2.9778e-7*({t})) "
        f"- {dp}*{dp}*(8.9309e-7 - 3.1628e-8*({t}) "
        f"+ 2.1987e-10*({t})*({t})) "
        f"+ 4.1057e-9*(({s}) - 35.0e0)*{dp}*{dp} "
        f"- {dp}*{dp}*{dp}*(-1.6056e-10 + 5.0484e-12*({t})))"
    )


# ---------------------------------------------------------------------------
# 75-term specific volume v(SA, CT, p) — Roquet et al. (2015).
# Coefficient table transcribed from the published fit. NAMING (defined
# by the Horner template below, empirically verified by the
# dynamic-enthalpy derivative test): v{J}{I}{K} where J = ys power,
# I = xs power, K = z power — the FIRST digit nests under ys. Horner
# structure as published (gsw_oceanographic_toolbox.c:2009 gsw_specvol).
# ---------------------------------------------------------------------------
SPECVOL_COEFFS: dict[str, float] = {
    "v000": 1.0769995862e-3, "v001": -6.0799143809e-5, "v002": 9.9856169219e-6,
    "v003": -1.1309361437e-6, "v004": 1.0531153080e-7, "v005": -1.2647261286e-8,
    "v006": 1.9613503930e-9, "v010": -3.1038981976e-4, "v011": 2.4262468747e-5,
    "v012": -5.8484432984e-7, "v013": 3.6310188515e-7, "v014": -1.1147125423e-7,
    "v020": 6.6928067038e-4, "v021": -3.4792460974e-5, "v022": -4.8122251597e-6,
    "v023": 1.6746303780e-8, "v030": -8.5047933937e-4, "v031": 3.7470777305e-5,
    "v032": 4.9263106998e-6, "v040": 5.8086069943e-4, "v041": -1.7322218612e-5,
    "v042": -1.7811974727e-6, "v050": -2.1092370507e-4, "v051": 3.0927427253e-6,
    "v060": 3.1932457305e-5, "v100": -1.5649734675e-5, "v101": 1.8505765429e-5,
    "v102": -1.1736386731e-6, "v103": -3.6527006553e-7, "v104": 3.1454099902e-7,
    "v110": 3.5009599764e-5, "v111": -9.5677088156e-6, "v112": -5.5699154557e-6,
    "v113": -2.7295696237e-7, "v120": -4.3592678561e-5, "v121": 1.1100834765e-5,
    "v122": 5.4620748834e-6, "v130": 3.4532461828e-5, "v131": -9.8447117844e-6,
    "v132": -1.3544185627e-6, "v140": -1.1959409788e-5, "v141": 2.5909225260e-6,
    "v150": 1.3864594581e-6, "v200": 2.7762106484e-5, "v201": -1.1716606853e-5,
    "v202": 2.1305028740e-6, "v203": 2.8695905159e-7, "v210": -3.7435842344e-5,
    "v211": -2.3678308361e-7, "v212": 3.9137387080e-7, "v220": 3.5907822760e-5,
    "v221": 2.9283346295e-6, "v222": -6.5731104067e-7, "v230": -1.8698584187e-5,
    "v231": -4.8826139200e-7, "v240": 3.8595339244e-6, "v300": -1.6521159259e-5,
    "v301": 7.9279656173e-6, "v302": -4.6132540037e-7, "v310": 2.4141479483e-5,
    "v311": -3.4558773655e-6, "v312": 7.7618888092e-9, "v320": -1.4353633048e-5,
    "v321": 3.1655306078e-7, "v330": 2.2863324556e-6, "v400": 6.9111322702e-6,
    "v401": -3.4102187482e-6, "v402": -6.3352916514e-8, "v410": -8.7595873154e-6,
    "v411": 1.2956717783e-6, "v420": 4.3703680598e-6, "v500": -8.0539615540e-7,
    "v501": 5.0736766814e-7, "v510": -3.3052758900e-7, "v600": 2.0543094268e-7,
}

# Published Horner nesting, with {xs}/{ys}/{z} placeholders and vIJK
# names substituted from SPECVOL_COEFFS (single source of truth — the
# table is typed exactly once in this repo).
_SPECVOL_TEMPLATE = (
    "(v000 + {xs}*(v010 + {xs}*(v020 + {xs}*(v030 + {xs}*(v040 + "
    "{xs}*(v050 + v060*{xs}))))) + {ys}*(v100 + {xs}*(v110 + {xs}*(v120 + "
    "{xs}*(v130 + {xs}*(v140 + v150*{xs})))) + {ys}*(v200 + {xs}*(v210 + "
    "{xs}*(v220 + {xs}*(v230 + v240*{xs}))) + {ys}*(v300 + {xs}*(v310 + "
    "{xs}*(v320 + v330*{xs})) + {ys}*(v400 + {xs}*(v410 + v420*{xs}) + "
    "{ys}*(v500 + v510*{xs} + v600*{ys}))))) + {z}*(v001 + {xs}*(v011 + "
    "{xs}*(v021 + {xs}*(v031 + {xs}*(v041 + v051*{xs})))) + {ys}*(v101 + "
    "{xs}*(v111 + {xs}*(v121 + {xs}*(v131 + v141*{xs}))) + {ys}*(v201 + "
    "{xs}*(v211 + {xs}*(v221 + v231*{xs})) + {ys}*(v301 + {xs}*(v311 + "
    "v321*{xs}) + {ys}*(v401 + v411*{xs} + v501*{ys})))) + {z}*(v002 + "
    "{xs}*(v012 + {xs}*(v022 + {xs}*(v032 + v042*{xs}))) + {ys}*(v102 + "
    "{xs}*(v112 + {xs}*(v122 + v132*{xs})) + {ys}*(v202 + {xs}*(v212 + "
    "v222*{xs}) + {ys}*(v302 + v312*{xs} + v402*{ys}))) + {z}*(v003 + "
    "{xs}*(v013 + v023*{xs}) + {ys}*(v103 + v113*{xs} + v203*{ys}) + "
    "{z}*(v004 + v014*{xs} + v104*{ys} + {z}*(v005 + v006*{z}))))))"
)


def _substitute_coeffs(template: str) -> str:
    import re

    def repl(m: "re.Match[str]") -> str:
        return _lit(SPECVOL_COEFFS[m.group(0)])

    out = re.sub(r"v\d{3}", repl, template)
    assert "v0" not in out and "v1" not in out
    return out


def specvol_sql(sa: str, ct: str, p: str) -> str:
    """Portable SQL for specific volume v(SA g/kg, CT °C, p dbar) m³/kg."""
    xs = f"sqrt({_lit(GSW_SFAC)}*({sa}) + {_lit(GSW_OFFSET)})"
    ys = f"(({ct})*0.025e0)"
    z = f"(({p})*1.0e-4)"
    return _substitute_coeffs(_SPECVOL_TEMPLATE).format(xs=xs, ys=ys, z=z)


def rho_sql(sa: str, ct: str, p: str) -> str:
    """In-situ density ρ = 1/v(SA, CT, p), portable SQL."""
    return f"(1.0e0/{specvol_sql(sa, ct, p)})"


def ct_from_t_sql(s: str, t: str, p: str) -> str:
    """CT from in-situ (SP-scaled SA, T, p): Bryden θ → CT_from_pt."""
    sa = f"(({s})*({_lit(GSW_SSO)}/35.0e0))"
    return ct_from_pt_sql(sa, pt0_from_t_sql(s, t, p))


# -- Column wrappers (identical expression text → identical plans) ----------
def ct_from_pt(sa: Column | str, pt: Column | str) -> Column:
    sa_s = sa if isinstance(sa, str) else sa._jc.toString()
    pt_s = pt if isinstance(pt, str) else pt._jc.toString()
    return F.expr(ct_from_pt_sql(sa_s, pt_s))


def specvol(sa: str, ct: str, p: str) -> Column:
    return F.expr(specvol_sql(sa, ct, p))


def rho(sa: str, ct: str, p: str) -> Column:
    return F.expr(rho_sql(sa, ct, p))


# ---------------------------------------------------------------------------
# Specific entropy η(SA, t, p) = −∂g/∂T of the TEOS-10 Gibbs function
# (Feistel 2008; IOC, SCOR & IAPSO 2010 manual, appendix G coefficient
# table — published scientific data, transcribed from the papers'
# g(S,T,p) temperature derivative; GSW's gsw_entropy_from_t computes
# the same −g_T). Published check value (TEOS-10 check table):
# η(SA=35.7 g/kg, t=25.5 °C, p=1023 dbar) = 352.81879771528 J/(kg·K),
# reproduced bit-for-bit in tests/test_oceanography_checkvalues.py
# together with the reference-state normalization η(SSO, 0, 0) = 0
# (|residual| < 2e-5 — the fit's own rounding floor).
# Domain: SA > 0 (the x²·ln(x) salinity term; the engine's synthetic
# salinities are ≥ 30 g/kg).
# ---------------------------------------------------------------------------
def entropy_from_t_sql(sa: str, t: str, p: str) -> str:
    """η(SA, t, p) in J/(kg·K), portable SQL (identical literal tree on
    Spark and DuckDB; evaluation order fixed by the nesting)."""
    x2 = f"({_lit(GSW_SFAC)}*({sa}))"
    x = f"sqrt({x2})"
    y = f"(({t})*0.025e0)"
    z = f"(({p})*1.0e-4)"
    g03 = (
        f"(5.90578347909402e0 + {z}*(-270.983805184062e0 + "
        f"{z}*(776.153611613101e0 + {z}*(-196.51255088122e0 + "
        f"(28.9796526294175e0 - 2.13290083518327e0*{z})*{z}))) + "
        f"{y}*(-24715.571866078e0 + {z}*(2910.0729080936e0 + "
        f"{z}*(-1513.116771538718e0 + {z}*(546.959324647056e0 + "
        f"{z}*(-111.1208127634436e0 + 8.68841343834394e0*{z})))) + "
        f"{y}*(2210.2236124548363e0 + {z}*(-2017.52334943521e0 + "
        f"{z}*(1498.081172457456e0 + {z}*(-718.6359919632359e0 + "
        f"(146.4037555781616e0 - 4.9892131862671505e0*{z})*{z}))) + "
        f"{y}*(-592.743745734632e0 + {z}*(1591.873781627888e0 + "
        f"{z}*(-1207.261522487504e0 + (608.785486935364e0 - "
        f"105.4993508931208e0*{z})*{z})) + "
        f"{y}*(290.12956292128547e0 + {z}*(-973.091553087975e0 + "
        f"{z}*(602.603274510125e0 + {z}*(-276.361526170076e0 + "
        f"32.40953340386105e0*{z}))) + "
        f"{y}*(-113.90630790850321e0 + {y}*(21.35571525415769e0 - "
        f"67.41756835751434e0*{z}) + "
        f"{z}*(381.06836198507096e0 + {z}*(-133.7383902842754e0 + "
        f"49.023632509086724e0*{z}))))))))"
    )
    g08 = (
        f"({x2}*(168.072408311545e0 + {z}*(729.116529735046e0 + "
        f"{z}*(-343.956902961561e0 + {z}*(124.687671116248e0 + "
        f"{z}*(-31.656964386073e0 + 7.04658803315449e0*{z})))) + "
        f"{x}*(-493.407510141682e0 + {x}*(543.835333000098e0 + "
        f"{x}*(-196.028306689776e0 + 36.7571622995805e0*{x}) + "
        f"{y}*(-137.1145018408982e0 + {y}*(148.10030845687618e0 + "
        f"{y}*(-68.5590309679152e0 + 12.4848504784754e0*{y}))) - "
        f"22.6683558512829e0*{z}) + {z}*(-175.292041186547e0 + "
        f"(83.1923927801819e0 - 29.483064349429e0*{z})*{z}) + "
        f"{y}*(-86.1329351956084e0 + {z}*(766.116132004952e0 + "
        f"{z}*(-108.3834525034224e0 + 51.2796974779828e0*{z})) + "
        f"{y}*(-30.0682112585625e0 - 1380.9597954037708e0*{z} + "
        f"{y}*(3.50240264723578e0 + 938.26075044542e0*{z})))) + "
        f"{y}*(1760.062705994408e0 + {y}*(-675.802947790203e0 + "
        f"{y}*(365.7041791005036e0 + {y}*(-108.30162043765552e0 + "
        f"12.78101825083098e0*{y}) + "
        f"{z}*(-1190.914967948748e0 + (298.904564555024e0 - "
        f"145.9491676006352e0*{z})*{z})) + "
        f"{z}*(2082.7344423998043e0 + {z}*(-614.668925894709e0 + "
        f"(340.685093521782e0 - 33.3848202979239e0*{z})*{z}))) + "
        f"{z}*(-1721.528607567954e0 + {z}*(674.819060538734e0 + "
        f"{z}*(-356.629112415276e0 + (88.4080716616e0 - "
        f"15.84003094423364e0*{z})*{z}))))) + "
        f"851.226734946706e0*{x2}*ln({x}))"
    )
    return f"(-({g03} + {g08})*0.025e0)"


def entropy_from_pt_sql(sa: str, pt: str) -> str:
    """η(SA, pt) — the p = 0 specialization (η is invariant along the
    adiabat, so this is the potential-temperature form)."""
    return entropy_from_t_sql(sa, pt, "0.0e0")


# ---------------------------------------------------------------------------
# Surface spiciness τ₀(SA, CT) — McDougall & Krzysik (2015, J. Marine
# Res. 73, 141-152), the published 49-term polynomial fit (s01..s49
# from the paper's appendix; GSW's gsw_spiciness0 evaluates the same
# fit). Normalization pinned in tests: τ₀(SSO, 0 °C) = 0 (< 1e-10), and
# τ₀ increases with both CT and SA (warmer/saltier = spicier).
# ---------------------------------------------------------------------------
_SPICINESS0_COEFFS = [
    # ys^0..ys^6 blocks per xs power (xs^0 first), row-major
    [-9.22982898371678e1, -1.35727873628866e1, 1.87353650994010e1,
     -1.61360047373455e1, 3.76112762286425e1, -4.27086671461257e1,
     2.00820111041594e1],
    [2.87969717584045e2, 1.13747111959674e1, 6.07377192990680e1,
     -7.37514033570187e1, -7.51171878953574e1, 1.63310989721504e2,
     -8.83222751638095e1],
    [-6.41725302237048e2, 2.79732530789261e1, -2.49466901993728e2,
     3.26691295035416e2, 2.66389243708181e1, -2.93170905757579e2,
     1.76053907144524e2],
    [8.27634318120224e2, -7.02156220126926e1, 3.82973336590803e2,
     -5.06206828083959e2, 6.69626565169529e1, 3.02851235050766e2,
     -1.96345285604621e2],
    [-5.74040806713526e2, 7.03285905478333e1, -2.97870298879716e2,
     3.88340373735118e2, -8.29188936089122e1, -1.87602137195354e2,
     1.27096944425793e2],
    [2.11671167892147e2, -3.15140919876285e1, 1.16458864953602e2,
     -1.50029730802344e2, 3.76293848660589e1, 6.47247424373200e1,
     -4.47159994408867e1],
    [-3.23533339449055e1, 5.30648562097667e0, -1.82051249177948e1,
     2.33184351090495e1, -6.22909903460368e0, -9.55975464301446e0,
     6.61877073960113e0],
]


# spiciness1 (1000 dbar) and spiciness2 (2000 dbar) — the same
# published McDougall & Krzysik (2015) fit family at the two deeper
# reference pressures (coefficient tables from the paper's appendix).
_SPICINESS1_COEFFS = [
    [-9.19874584868912e1, -1.33517268529408e1, 2.18352211648107e1,
     -2.01491744114173e1, 3.70004204355132e1, -3.78831543226261e1,
     1.76337834294554e1],
    [2.87838842773396e2, 2.14531420554522e1, 3.14679705198796e1,
     -4.04398864750692e1, -7.70796428950487e1, 1.36783833820955e2,
     -7.36834317044850e1],
    [-6.41753415180701e2, 1.33701981685590e0, -1.75289327948412e2,
     2.42666160657536e2, 3.17062400799114e1, -2.28131490440865e2,
     1.39564245068468e2],
    [8.27747934506435e2, -3.50901590694775e1, 2.87473907262029e2,
     -4.00227341144928e2, 6.48307189919433e1, 2.16433334701578e2,
     -1.48273032774305e2],
    [-5.74545648799754e2, 4.50446431127421e1, -2.30714981343772e2,
     3.15958389253065e2, -8.60635313930106e1, -1.22978455069097e2,
     9.18287282626261e1],
    [2.12120473062203e2, -2.21528216973820e1, 9.19013417923270e1,
     -1.24400776026014e2, 4.08512871163839e1, 3.91127352213516e1,
     -3.10508021853093e1],
    [-3.24790035899152e1, 3.91029016556786e0, -1.45362719385412e1,
     1.96136194246355e1, -7.06035474689088e0, -5.36884688614009e0,
     4.43247303092448e0],
]

_SPICINESS2_COEFFS = [
    [-9.17327320732265e1, -1.31200235147912e1, 2.49574345782503e1,
     -2.41678075247398e1, 3.61654631402053e1, -3.22582164667710e1,
     1.45092623982509e1],
    [2.87776645983195e2, 3.13902307672447e1, 1.69777467534459e0,
     -5.69630115740438e0, -7.97586359017987e1, 1.07507460387751e2,
     -5.58234404964787e1],
    [-6.41708068766557e2, -2.53494801286161e1, -9.86755437385364e1,
     1.52406930795842e2, 4.23888258264105e1, -1.60118811141438e2,
     9.67497898053989e1],
    [8.27674355478637e2, 5.27561234412133e-1, 1.87440206992396e2,
     -2.83295392345171e2, 5.14485994597635e1, 1.29975755062696e2,
     -9.36526588377456e1],
    [-5.74911728972948e2, 1.91175851862772e1, -1.59347231968841e2,
     2.33884725744938e2, -7.87744010546157e1, -6.04757235443685e1,
     5.27869695599657e1],
    [2.12517758478878e2, -1.24351794740528e1, 6.53904308937490e1,
     -9.44804080763788e1, 3.93874257887364e1, 1.49425448888996e1,
     -1.62350721656367e1],
    [-3.25936844276669e1, 2.44035700301595e0, -1.05079633683795e1,
     1.51515796259082e1, -7.06609886460683e0, -1.48043337052968e0,
     2.10066653978515e0],
]


def _spiciness_sql(coeffs: list[list[float]], sa: str, ct: str) -> str:
    """Shared Horner builder: ys nested inside xs — the same evaluation
    order on both engines."""
    xs = f"sqrt({_lit(GSW_SFAC)}*({sa}) + {_lit(GSW_OFFSET)})"
    ys = f"(({ct})*0.025e0)"

    def horner_ys(row: list[float]) -> str:
        expr = _lit(row[-1])
        for c in reversed(row[:-1]):
            expr = f"({_lit(c)} + {ys}*{expr})"
        return expr

    expr = horner_ys(coeffs[-1])
    for row in reversed(coeffs[:-1]):
        expr = f"({horner_ys(row)} + {xs}*{expr})"
    return expr


def spiciness0_sql(sa: str, ct: str) -> str:
    """τ₀(SA, CT) in kg/m³ (0 dbar reference)."""
    return _spiciness_sql(_SPICINESS0_COEFFS, sa, ct)


def spiciness1_sql(sa: str, ct: str) -> str:
    """τ₁(SA, CT) in kg/m³ (1000 dbar reference)."""
    return _spiciness_sql(_SPICINESS1_COEFFS, sa, ct)


def spiciness2_sql(sa: str, ct: str) -> str:
    """τ₂(SA, CT) in kg/m³ (2000 dbar reference)."""
    return _spiciness_sql(_SPICINESS2_COEFFS, sa, ct)


# ---------------------------------------------------------------------------
# Specific internal energy u(SA, CT, p) = h − (P₀ + 10⁴·p)·v — the
# thermodynamic definition (IOC et al. 2010 eqn 3.25; GSW's
# gsw_internal_energy is the same composition), with
# h = cp0·CT + h_dyn(SA, CT, p) (McDougall 2003 potential-enthalpy
# framework) and v the 75-term specific volume (Roquet et al. 2015).
# P₀ = 101325 Pa (one standard atmosphere), db2Pa = 10⁴. Correctness
# inherits from the already-check-valued h_dyn and v; the definition
# identity is pinned in tests.
# ---------------------------------------------------------------------------
GSW_P0 = 101325.0  # Pa, one standard atmosphere


def dynamic_enthalpy_sql(sa: str, ct: str, p: str) -> str:
    """TEOS-10 dynamic enthalpy: the analytic pressure integral of the
    committed 75-term specific volume — h_dyn(SA, CT, p) =
    1e8 * sum vIJK * xs^I * ys^J * z^(K+1)/(K+1) J/kg (db2pa * 1e4
    scale, z = p*1e-4). Every coefficient comes from the SAME table the
    check-valued density uses; the integration itself is pinned by a
    derivative property test (dh/dp must reproduce specvol). Flat
    single-expression form — fine for ONE evaluation per projection;
    multi-evaluation consumers must use dynamic_enthalpy_stages below
    (janino 64 KB cliff, SCALE.md). Lived in plans/staged_r5.py through
    round 7; moved here so the functions->plans dependency points one
    way (plans re-export it)."""
    xs = f"sqrt({_lit(GSW_SFAC)}*({sa}) + {_lit(GSW_OFFSET)})"
    ys = f"(({ct})*0.025e0)"
    z = f"(({p})*1.0e-4)"
    terms = []
    # Coefficient names follow the committed Horner template's
    # convention: v{ys_power}{xs_power}{z_power} (the first digit nests
    # under ys, the second under xs — see _SPECVOL_TEMPLATE).
    for name, v in sorted(SPECVOL_COEFFS.items()):
        j_ys, i_xs, k_z = int(name[1]), int(name[2]), int(name[3])
        c = _lit(v / (k_z + 1))
        factors = [c] + [xs] * i_xs + [ys] * j_ys + [z] * (k_z + 1)
        terms.append("*".join(factors))
    return "(1.0e8*(" + " + ".join(terms) + "))"


def internal_energy_sql(sa: str, ct: str, p: str) -> str:
    h = f"({_lit(GSW_CP0)}*({ct}) + {dynamic_enthalpy_sql(sa, ct, p)})"
    return (
        f"({h} - ({_lit(GSW_P0)} + 1.0e4*({p}))*{specvol_sql(sa, ct, p)})"
    )


def sa_from_rho_stages(rho: str, ct: str, p: str) -> list[tuple[str, str]]:
    """Absolute Salinity from in-situ density (GSW twin: gsw_SA_from_rho)
    as Newton stages on the 75-term rho(SA, CT, p): ρ is near-linear in
    SA (∂ρ/∂SA ≈ ρ·β ≈ 0.76 kg/m³ per g/kg), so two iterations from
    SA₀ = 35 g/kg recover SA to sub-1e-9 g/kg across the oceanographic
    range (roundtrip pinned in tests). The derivative is a central
    finite difference (eps = 0.01 g/kg) — six specific-volume
    evaluations total, each its own stage column so the plan text stays
    linear. Stage names carry a collision-resistant prefix (same rule
    as theta_rk4_stages)."""
    eps = "1.0e-2"
    x = "__sa_from_rho_"
    stages: list[tuple[str, str]] = [(f"{x}sa0", "35.0e0")]
    for i in range(2):
        cur = f"{x}sa{i}"
        stages += [
            (
                f"{x}r{i}",
                f"({rho_sql(cur, ct, p)} - ({rho}))",
            ),
            (
                f"{x}dr{i}",
                f"(({rho_sql(f'({cur} + {eps})', ct, p)}"
                f" - {rho_sql(f'({cur} - {eps})', ct, p)}) / (2.0e0*{eps}))",
            ),
            (f"{x}sa{i + 1}", f"({cur} - {x}r{i}/{x}dr{i})"),
        ]
    stages.append(("sa_from_rho", f"{x}sa2"))
    return stages


# ---------------------------------------------------------------------------
# Specific enthalpy h(SA, CT, p) = cp0·CT + h_dyn(SA, CT, p) in the
# McDougall (2003) potential-enthalpy framework (GSW twin:
# gsw_enthalpy; h_dyn is the committed 75-term dynamic enthalpy).
# ---------------------------------------------------------------------------
def enthalpy_sql(sa: str, ct: str, p: str) -> str:
    return f"({_lit(GSW_CP0)}*({ct}) + {dynamic_enthalpy_sql(sa, ct, p)})"


def enthalpy_diff_stages(
    sa: str, ct: str, p_shallow: str, p_deep: str
) -> list[tuple[str, str]]:
    """h(SA, CT, p_deep) − h(SA, CT, p_shallow) (GSW twin:
    gsw_enthalpy_diff), final stage ``enthalpy_diff``. The cp0·CT term
    cancels, so this is the dynamic-enthalpy difference — the specific
    energy to move a parcel isentropically between the two pressures.
    The a_K(xs, ys) coefficient stages are z-independent, so BOTH
    pressures share one set (half the arithmetic of two h_dyn calls)."""
    x = "__hdiff_"
    stages: list[tuple[str, str]] = [
        (f"{x}xs", f"sqrt({_lit(GSW_SFAC)}*({sa}) + {_lit(GSW_OFFSET)})"),
        (f"{x}ys", f"(({ct})*0.025e0)"),
        (f"{x}z1", f"(({p_shallow})*1.0e-4)"),
        (f"{x}z2", f"(({p_deep})*1.0e-4)"),
    ]
    stages += hdyn_poly_stages(f"{x}xs", f"{x}ys", x)
    stages.append(
        (
            "enthalpy_diff",
            f"({hdyn_combine_sql(f'{x}z2', x)}"
            f" - {hdyn_combine_sql(f'{x}z1', x)})",
        )
    )
    return stages


def ct_from_enthalpy_stages(h: str, sa: str, p: str) -> list[tuple[str, str]]:
    """Conservative Temperature from specific enthalpy (GSW twin:
    gsw_CT_from_enthalpy) as Newton stages on h(SA, CT, p): h is
    near-linear in CT (∂h/∂CT ≈ cp0 = 3991.87 J/(kg·K), varying by a
    few % with p), so two iterations from CT₀ = h/cp0 recover CT to
    sub-µK (roundtrip pinned in tests). Derivative by central finite
    difference (eps = 1e-3 K) — six enthalpy evaluations, each its own
    stage column; identical IEEE tree on both engines."""
    eps = "1.0e-3"
    x = "__ct_from_h_"
    # Staged h_dyn evaluations (hdyn_poly_stages): the flat inline
    # 75-term text exceeds janino's 64 KB method limit and drops the
    # projection to interpreted row-mode. xs and z depend only on
    # (SA, p), so all six evaluations share them; each evaluation adds
    # its own ys + a_K + combine stages.
    stages: list[tuple[str, str]] = [
        (f"{x}xs", f"sqrt({_lit(GSW_SFAC)}*({sa}) + {_lit(GSW_OFFSET)})"),
        (f"{x}z", f"(({p})*1.0e-4)"),
        (f"{x}ct0", f"(({h})/{_lit(GSW_CP0)})"),
    ]

    def h_eval(ct_expr: str, tag: str) -> str:
        """Append one staged enthalpy evaluation; return its SQL ref."""
        stages.append((f"{x}{tag}ys", f"(({ct_expr})*0.025e0)"))
        stages.extend(hdyn_poly_stages(f"{x}xs", f"{x}{tag}ys", f"{x}{tag}"))
        stages.append(
            (
                f"{x}{tag}h",
                f"({_lit(GSW_CP0)}*({ct_expr})"
                f" + {hdyn_combine_sql(f'{x}z', f'{x}{tag}')})",
            )
        )
        return f"{x}{tag}h"

    for i in range(2):
        cur = f"{x}ct{i}"
        h0 = h_eval(cur, f"i{i}_")
        hp = h_eval(f"({cur} + {eps})", f"ip{i}_")
        hm = h_eval(f"({cur} - {eps})", f"im{i}_")
        stages += [
            (f"{x}r{i}", f"({h0} - ({h}))"),
            (f"{x}dh{i}", f"(({hp} - {hm}) / (2.0e0*{eps}))"),
            (f"{x}ct{i + 1}", f"({cur} - {x}r{i}/{x}dh{i})"),
        ]
    stages.append(("ct_from_enthalpy", f"{x}ct2"))
    return stages


# ---------------------------------------------------------------------------
# Freezing point (Millero 1978 / UNESCO 1983 polynomial — the published
# standard; GSW's t_freezing is the TEOS-10 Gibbs solve, within ~2 mK
# over the oceanographic range) and Conservative Temperature at
# freezing (GSW twin: gsw_CT_freezing).
# ---------------------------------------------------------------------------
def t_freezing_sql(s: str, p: str) -> str:
    return (
        f"(-0.0575e0*({s}) + 1.710523e-3*sqrt({s})*({s})"
        f" - 2.154996e-4*({s})*({s}) - 7.53e-4*({p}))"
    )


def ct_freezing_sql(s: str, p: str) -> str:
    return ct_from_t_sql(s, t_freezing_sql(s, p), p)


def latentheat_melting_stages(s: str, p: str) -> list[tuple[str, str]]:
    """Latent heat of melting of ice into seawater at (SP, p) — the
    thermodynamically exact definition (IOC et al. 2010 §3.34; GSW
    twin: gsw_latentheat_melting):

        L(SA, p) = h − SA·(∂h/∂SA)|_{t,p} − h_Ih,   at t = t_f(SA, p)

    i.e. the partial specific enthalpy of water in seawater minus the
    ice enthalpy. In CT coordinates (h = cp0·CT + h_dyn):

        (∂h/∂SA)|_{t,p} = h_SA|_{CT,p} + h_CT·(∂CT/∂SA)|_{t,p}

    with h_SA, h_CT central finite differences on the 75-term h_dyn and
    (∂CT/∂SA)|_t a central difference on ct_from_t (chain-ruled from
    practical salinity, dSA = dSP·SSO/35). h_Ih is the exact IAPWS-06
    ice enthalpy (functions/ice.py, Table-6 check values pinned).
    Pure-water anchor: L(0, 0) = 333 426.5 J/kg published (IOC et al.
    2010); this composition lands within 10 J/kg — the residual is the
    Millero-vs-exact freezing point (3.6 mK ≈ 7 J/kg), pinned in tests.
    Valid for SP ≥ 0.02 (ct_from_pt's sqrt(SA) term)."""
    from cioos_siooc_data_transform_spark.functions.ice import gibbs_ice_stages

    x = "__lh_melt_"
    sa = f"(({s})*({_lit(GSW_SSO)}/35.0e0))"
    # Staged h_dyn evaluations (janino 64 KB method limit — same rule
    # as ct_from_enthalpy_stages). z is shared by all five; each
    # (SA, CT) pair gets its own xs/ys + a_K + combine stages.
    stages: list[tuple[str, str]] = [
        (f"{x}tf", t_freezing_sql(s, p)),
        (f"{x}sa", sa),
        (f"{x}ctf", ct_from_t_sql(s, f"{x}tf", p)),
        (f"{x}z", f"(({p})*1.0e-4)"),
    ]

    def h_eval(sa_expr: str, ct_expr: str, tag: str) -> str:
        stages.append(
            (
                f"{x}{tag}xs",
                f"sqrt({_lit(GSW_SFAC)}*({sa_expr}) + {_lit(GSW_OFFSET)})",
            )
        )
        stages.append((f"{x}{tag}ys", f"(({ct_expr})*0.025e0)"))
        stages.extend(
            hdyn_poly_stages(f"{x}{tag}xs", f"{x}{tag}ys", f"{x}{tag}")
        )
        stages.append(
            (
                f"{x}{tag}h",
                f"({_lit(GSW_CP0)}*({ct_expr})"
                f" + {hdyn_combine_sql(f'{x}z', f'{x}{tag}')})",
            )
        )
        return f"{x}{tag}h"

    h0 = h_eval(f"{x}sa", f"{x}ctf", "e0_")
    hsp = h_eval(f"({x}sa + 1.0e-2)", f"{x}ctf", "sp_")
    hsm = h_eval(f"({x}sa - 1.0e-2)", f"{x}ctf", "sm_")
    hcp = h_eval(f"{x}sa", f"({x}ctf + 1.0e-3)", "cp_")
    hcm = h_eval(f"{x}sa", f"({x}ctf - 1.0e-3)", "cm_")
    stages += [
        (f"{x}h_sa", f"(({hsp} - {hsm}) / 2.0e-2)"),
        (f"{x}h_ct", f"(({hcp} - {hcm}) / 2.0e-3)"),
        (f"{x}ct_sp", ct_from_t_sql(f"(({s}) + 1.0e-2)", f"{x}tf", p)),
        (f"{x}ct_sm", ct_from_t_sql(f"(({s}) - 1.0e-2)", f"{x}tf", p)),
        (
            f"{x}dct_dsa",
            f"((({x}ct_sp - {x}ct_sm) / 2.0e-2)"
            f" * (35.0e0/{_lit(GSW_SSO)}))",
        ),
    ]
    stages += gibbs_ice_stages(f"{x}tf", p)
    stages.append(
        (
            "latentheat_melting",
            f"({h0} - {x}sa*({x}h_sa + {x}h_ct*{x}dct_dsa) - enthalpy_ice)",
        )
    )
    return stages


def latentheat_evap_hs84_sql(t: str) -> str:
    """Latent heat of evaporation of PURE water at temperature t (°C) —
    Henderson-Sellers (1984, QJRMS 110 p.1186) published fit
    L = 1.91846e6·(T/(T − 33.91))², within 0.02 % of steam-table values
    over 0–40 °C (checks: 2.5008e6 at 0 °C, 2.4535e6 at 20 °C, pinned
    in tests). GSW's gsw_latentheat_evap_t adds an SA-dependent term
    from a fitted coefficient table (see COVERAGE.md — the table is
    published data we do not reproduce offline; the SA effect is
    ~0.1 % at ocean salinities)."""
    tk = f"(273.15e0 + ({t}))"
    return f"(1.91846e6 * ({tk}/({tk} - 33.91e0)) * ({tk}/({tk} - 33.91e0)))"


# ---------------------------------------------------------------------------
# Staged dynamic enthalpy — the SAME 75 coefficients as
# dynamic_enthalpy_sql (above), restructured as stage
# columns: a_K(xs, ys) = sum_JI vJIK/(K+1)·xs^I·ys^J per z-power, then
# a Horner combine in z. Rationale: the flat inline 75-term text
# expands xs/ys/z textually per term, and consumers composing SEVERAL
# h_dyn evaluations (Newton inversions, FD derivatives) rebuild a
# mega-expression that exceeds janino's 64 KB method limit — the
# projection then silently runs interpreted row-mode (measured 21 s vs
# 3.3 s at sf0.1 for the 6-evaluation CT<-h inversion). Per-z-power
# stages keep each surviving projection a few KB (xs/ys/z computed once
# per row), which is also the measured sweet spot: Catalyst's
# CollapseProject re-inlines single-use stages into ~7 KB projection
# groups that janino compiles per-operator. (A/B notes, sf0.1 local[32],
# 600k rows: flat inline 21.2 s; these stages 3.3 s; forcing MORE
# surviving projections via double-reference pins is WORSE — 5.7-23.8 s
# — because each extra boundary pays a full UnsafeRow materialization;
# a single compact Horner text per evaluation ties the staged form, so
# the structure below is kept for its shared-a_K reuse.) The regrouped
# tree differs from the flat sum only in last-ulp rounding — both
# engines share the regrouped text, so oracle parity is unaffected.
# ---------------------------------------------------------------------------
def _hdyn_coeffs_by_k() -> dict[int, list[tuple[int, int, float]]]:
    by_k: dict[int, list[tuple[int, int, float]]] = {}
    for name, v in sorted(SPECVOL_COEFFS.items()):
        j_ys, i_xs, k_z = int(name[1]), int(name[2]), int(name[3])
        by_k.setdefault(k_z, []).append((j_ys, i_xs, v / (k_z + 1)))
    return by_k


def _horner_ys_xs(terms: list[tuple[int, int, float]], xs: str, ys: str) -> str:
    """Emit Σ c_{ji}·xs^i·ys^j as nested Horner (ys outer, xs inner) —
    ~3× fewer multiplies and ~3× less text than flat per-term products
    (round-8 finding: the flat a_K emission made the staged h_dyn only
    TIE the flat 75-term form at one evaluation, 5.6 s vs 8.5 s at
    sf0.1; Horner emission is what makes the regrouping actually pay).
    Evaluation order is fixed by the nesting and shared verbatim with
    the oracles, so cross-engine parity is unaffected."""
    by_j: dict[int, dict[int, float]] = {}
    for j, i, c in terms:
        by_j.setdefault(j, {})[i] = by_j.setdefault(j, {}).get(i, 0.0) + c
    if not by_j:
        return "0.0e0"

    def horner_x(ci: dict[int, float]) -> str:
        deg = max(ci)
        txt = _lit(ci.get(deg, 0.0))
        for i in range(deg - 1, -1, -1):
            c = ci.get(i, 0.0)
            txt = f"({_lit(c)} + {xs}*{txt})"
        return txt

    deg_j = max(by_j)
    out = horner_x(by_j[deg_j])
    for j in range(deg_j - 1, -1, -1):
        inner = horner_x(by_j[j]) if j in by_j else "0.0e0"
        out = f"({inner} + {ys}*{out})"
    return out


def hdyn_poly_stages(xs: str, ys: str, x: str) -> list[tuple[str, str]]:
    """Stages ``{x}a0``..``{x}a6``: the z-power coefficient polynomials
    a_K(xs, ys). Independent of z, so consumers evaluating h_dyn at
    several pressures with the same (SA, CT) share ONE set."""
    stages = []
    for k, terms in sorted(_hdyn_coeffs_by_k().items()):
        stages.append((f"{x}a{k}", f"({_horner_ys_xs(terms, xs, ys)})"))
    return stages


def hdyn_combine_sql(z: str, x: str) -> str:
    """h_dyn from the ``{x}a*`` stages at pressure-height z = p·1e-4:
    1e8·z·(a0 + z·(a1 + ... z·a6))."""
    inner = f"{x}a6"
    for k in (5, 4, 3, 2, 1, 0):
        inner = f"({x}a{k} + ({z})*{inner})"
    return f"(1.0e8*({z})*{inner})"


def dynamic_enthalpy_stages(
    sa: str, ct: str, p: str, x: str = "__hdyn_"
) -> list[tuple[str, str]]:
    """Full staged h_dyn(SA, CT, p); final stage is ``{x}out``."""
    stages = [
        (f"{x}xs", f"sqrt({_lit(GSW_SFAC)}*({sa}) + {_lit(GSW_OFFSET)})"),
        (f"{x}ys", f"(({ct})*0.025e0)"),
        (f"{x}z", f"(({p})*1.0e-4)"),
    ]
    stages += hdyn_poly_stages(f"{x}xs", f"{x}ys", x)
    stages.append((f"{x}out", hdyn_combine_sql(f"{x}z", x)))
    return stages


def enthalpy_stages(
    sa: str, ct: str, p: str, x: str = "__h_"
) -> list[tuple[str, str]]:
    """Staged h(SA, CT, p) = cp0·CT + h_dyn; final stage ``{x}out``."""
    stages = dynamic_enthalpy_stages(sa, ct, p, x=f"{x}d_")
    stages.append((f"{x}out", f"({_lit(GSW_CP0)}*({ct}) + {x}d_out)"))
    return stages


# ---------------------------------------------------------------------------
# Analytic derivatives of the 75-term specific volume, and the second-
# order stability coefficients built from them (GSW twins:
# gsw_alpha / gsw_beta / gsw_cabbeling / gsw_thermobaric — definitions
# per McDougall 1987 / IOC et al. 2010 eqns 3.9.2, P.2-P.3, evaluated
# on the same Roquet et al. 2015 polynomial GSW differentiates):
#
#   alpha = v_CT/v,  beta = -v_SA/v
#   cabbeling   = alpha_CT + 2(alpha/beta)·alpha_SA − (alpha/beta)²·beta_SA
#   thermobaric = alpha_p − (alpha/beta)·beta_p            [per Pa]
#
# Every partial is an ANALYTIC derivative polynomial (coefficients
# c·I·J·K shifted down a power — no finite differences, so no eps
# tuning and exact cross-engine parity); the chain factors are
# dys/dCT = 0.025, dz/dp = 1e-4, dxs/dSA = sfac/(2·xs). Analytic-vs-FD
# agreement is pinned in tests.
# ---------------------------------------------------------------------------
def specvol_deriv_poly_sql(
    xs: str, ys: str, z: str, dxs: int = 0, dys: int = 0, dz: int = 0
) -> str:
    """Horner SQL for ∂^(dxs+dys+dz) v / ∂xs^dxs ∂ys^dys ∂z^dz as a
    polynomial in the (xs, ys, z) fit coordinates (args are SQL
    sub-expressions, typically short stage-column names)."""
    tbl: dict[int, dict[int, dict[int, float]]] = {}
    for name, v in SPECVOL_COEFFS.items():
        j_ys, i_xs, k_z = int(name[1]), int(name[2]), int(name[3])
        if i_xs < dxs or j_ys < dys or k_z < dz:
            continue
        c = v
        for d in range(dxs):
            c *= i_xs - d
        for d in range(dys):
            c *= j_ys - d
        for d in range(dz):
            c *= k_z - d
        tbl.setdefault(k_z - dz, {}).setdefault(j_ys - dys, {})[i_xs - dxs] = c

    def horner_x(d: dict[int, float]) -> str:
        out = None
        for i in sorted(d, reverse=True):
            c = _lit(d[i])
            out = c if out is None else f"({c} + {xs}*{out})"
        return out

    def horner_y(dk: dict[int, dict[int, float]]) -> str:
        out = None
        for j in sorted(dk, reverse=True):
            pj = horner_x(dk[j])
            out = pj if out is None else f"({pj} + {ys}*{out})"
        return out

    out = None
    for k in sorted(tbl, reverse=True):
        ak = horner_y(tbl[k])
        out = ak if out is None else f"({ak} + {z}*{out})"
    return out if out is not None else "0.0e0"


def cabbeling_thermobaric_stages(
    sa: str, ct: str, p: str, x: str = "__cbtb_"
) -> list[tuple[str, str]]:
    """Stages ending in ``cabbeling`` [1/K²] and ``thermobaric``
    [1/(K·Pa)]. Nine Horner polynomial evaluations (v and its first and
    second partials), each its own stage column; divisions only —
    no transcendentals, so parity is exact at any quantization."""
    xs, ys, z = f"{x}xs", f"{x}ys", f"{x}z"
    stages: list[tuple[str, str]] = [
        (xs, f"sqrt({_lit(GSW_SFAC)}*({sa}) + {_lit(GSW_OFFSET)})"),
        (ys, f"(({ct})*0.025e0)"),
        (z, f"(({p})*1.0e-4)"),
    ]
    for tag, (dx, dy, dzz) in {
        "v": (0, 0, 0), "vx": (1, 0, 0), "vy": (0, 1, 0),
        "vxx": (2, 0, 0), "vxy": (1, 1, 0), "vyy": (0, 2, 0),
        "vz": (0, 0, 1), "vxz": (1, 0, 1), "vyz": (0, 1, 1),
    }.items():
        stages.append((f"{x}{tag}", specvol_deriv_poly_sql(xs, ys, z, dx, dy, dzz)))
    # chain factors: d/dCT = 0.025·d/dys, d/dp = 1e-4·d/dz,
    # d/dSA = (sfac/(2·xs))·d/dxs
    sfac = _lit(GSW_SFAC)
    stages += [
        (f"{x}dxdsa", f"({sfac}/(2.0e0*{xs}))"),
        (f"{x}v_ct", f"(0.025e0*{x}vy)"),
        (f"{x}v_sa", f"({x}dxdsa*{x}vx)"),
        (f"{x}v_ctct", f"(6.25e-4*{x}vyy)"),
        (f"{x}v_ctsa", f"(0.025e0*{x}dxdsa*{x}vxy)"),
        # v_SASA = (sfac/(2xs))·d/dxs[(sfac/(2xs))·vx]
        #        = (sfac/(2xs))·(sfac/2)·(vxx/xs − vx/xs²)
        (
            f"{x}v_sasa",
            f"({x}dxdsa*({sfac}/2.0e0)*({x}vxx/{xs} - {x}vx/({xs}*{xs})))",
        ),
        (f"{x}v_p", f"(1.0e-4*{x}vz)"),
        (f"{x}v_ctp", f"(0.025e-4*{x}vyz)"),
        (f"{x}v_sap", f"(1.0e-4*{x}dxdsa*{x}vxz)"),
        (f"{x}alpha", f"({x}v_ct/{x}v)"),
        (f"{x}beta", f"(-{x}v_sa/{x}v)"),
        (f"{x}r", f"({x}alpha/{x}beta)"),
        (f"{x}alpha_ct", f"({x}v_ctct/{x}v - {x}alpha*{x}alpha)"),
        (f"{x}alpha_sa", f"({x}v_ctsa/{x}v - {x}alpha*{x}v_sa/{x}v)"),
        (f"{x}beta_sa", f"({x}v_sa*{x}v_sa/({x}v*{x}v) - {x}v_sasa/{x}v)"),
        (f"{x}alpha_p", f"({x}v_ctp/{x}v - {x}alpha*{x}v_p/{x}v)"),
        (f"{x}beta_p", f"({x}v_sa*{x}v_p/({x}v*{x}v) - {x}v_sap/{x}v)"),
        (
            "cabbeling",
            f"({x}alpha_ct + 2.0e0*{x}r*{x}alpha_sa"
            f" - {x}r*{x}r*{x}beta_sa)",
        ),
        # alpha_p/beta_p are per DBAR; × 1e-4 dbar/Pa → per Pa (GSW unit)
        ("thermobaric", f"(1.0e-4*({x}alpha_p - {x}r*{x}beta_p))"),
    ]
    return stages


def internal_energy_stages(
    sa: str, ct: str, p: str, x: str = "__u_"
) -> list[tuple[str, str]]:
    """Staged u(SA, CT, p) = h − (P₀ + 10⁴·p)·v (IOC et al. 2010 eqn
    3.25); final stage ``{x}out``. Same regrouped-tree/janino rationale
    as the staged dynamic enthalpy — the flat internal_energy_sql text
    (h_dyn + specvol inline) exceeds the 64 KB method limit when
    composed."""
    stages = enthalpy_stages(sa, ct, p, x=f"{x}h_")
    stages.append((f"{x}v", specvol_sql(sa, ct, p)))
    stages.append(
        (
            f"{x}out",
            f"({x}h_out - ({_lit(GSW_P0)} + 1.0e4*({p}))*{x}v)",
        )
    )
    return stages


def hdyn_deriv_poly_stages(
    xs: str, ys: str, x: str, dxs: int = 0, dys: int = 0
) -> list[tuple[str, str]]:
    """Stages ``{x}a0``..: z-power coefficient polynomials of the
    ANALYTIC derivative ∂^(dxs+dys) h_dyn/∂xs^dxs ∂ys^dys (the z
    structure 1e8·z·Horner(a_K) is unchanged by xs/ys derivatives, so
    hdyn_combine_sql applies verbatim). dxs = dys = 0 reproduces
    hdyn_poly_stages."""
    stages = []
    for k, terms in sorted(_hdyn_coeffs_by_k().items()):
        dterms = []
        for j, i, c in terms:
            if i < dxs or j < dys:
                continue
            cc = c
            for d in range(dxs):
                cc *= i - d
            for d in range(dys):
                cc *= j - d
            dterms.append((j - dys, i - dxs, cc))
        stages.append((f"{x}a{k}", f"({_horner_ys_xs(dterms, xs, ys)})"))
    return stages


def enthalpy_first_derivatives_stages(
    sa: str, ct: str, p: str, x: str = "__hd1_"
) -> list[tuple[str, str]]:
    """Analytic ∂h/∂SA|_{CT,p} and ∂h/∂CT|_{SA,p} (GSW twin:
    gsw_enthalpy_first_derivatives): h = cp0·CT + h_dyn, so
    h_CT = cp0 + 0.025·∂h_dyn/∂ys and h_SA = (sfac/2xs)·∂h_dyn/∂xs —
    derivative coefficient polynomials, no finite differences.
    Final stages ``h_sa`` and ``h_ct``; FD agreement pinned in tests."""
    stages: list[tuple[str, str]] = [
        (f"{x}xs", f"sqrt({_lit(GSW_SFAC)}*({sa}) + {_lit(GSW_OFFSET)})"),
        (f"{x}ys", f"(({ct})*0.025e0)"),
        (f"{x}z", f"(({p})*1.0e-4)"),
    ]
    stages += hdyn_deriv_poly_stages(f"{x}xs", f"{x}ys", f"{x}dy_", dys=1)
    stages += hdyn_deriv_poly_stages(f"{x}xs", f"{x}ys", f"{x}dx_", dxs=1)
    stages += [
        (
            "h_ct",
            f"({_lit(GSW_CP0)}"
            f" + 0.025e0*{hdyn_combine_sql(f'{x}z', f'{x}dy_')})",
        ),
        (
            "h_sa",
            f"(({_lit(GSW_SFAC)}/(2.0e0*{x}xs))"
            f"*{hdyn_combine_sql(f'{x}z', f'{x}dx_')})",
        ),
    ]
    return stages


def ct_maxdensity_stages(
    sa: str, p: str, x: str = "__ctmd_"
) -> list[tuple[str, str]]:
    """CT of maximum density (GSW twin: gsw_CT_maxdensity): the root of
    v_CT = 0 by four Newton steps on the ANALYTIC v_ys / v_ysys
    polynomials (v_CT ∝ v_ys; derivative v_ysys), starting from 4 °C —
    the famous fresh-water density-maximum anomaly (≈ 3.97 °C at
    SA ≈ 0, sinking below freezing past SA ≈ 24). Final stage
    ``ct_maxdensity``."""
    stages: list[tuple[str, str]] = [
        (f"{x}xs", f"sqrt({_lit(GSW_SFAC)}*({sa}) + {_lit(GSW_OFFSET)})"),
        (f"{x}z", f"(({p})*1.0e-4)"),
        (f"{x}ct0", "4.0e0"),
    ]
    for i in range(4):
        cur = f"{x}ct{i}"
        ysc = f"{x}i{i}_ys"
        stages.append((ysc, f"(({cur})*0.025e0)"))
        stages.append(
            (
                f"{x}i{i}_vy",
                specvol_deriv_poly_sql(f"{x}xs", ysc, f"{x}z", 0, 1, 0),
            )
        )
        stages.append(
            (
                f"{x}i{i}_vyy",
                specvol_deriv_poly_sql(f"{x}xs", ysc, f"{x}z", 0, 2, 0),
            )
        )
        # d(ct)/step: v_ys root; dys/dct = 0.025 cancels in the ratio
        stages.append(
            (
                f"{x}ct{i + 1}",
                f"({cur} - {x}i{i}_vy/(0.025e0*{x}i{i}_vyy))",
            )
        )
    stages.append(("ct_maxdensity", f"{x}ct4"))
    return stages


# ---------------------------------------------------------------------------
# Isobaric heat capacity cp(SA, t, p) = −(T0 + t)·g_TT = (T0 + t)·η_t
# (IOC, SCOR & IAPSO 2010 eqn 2.20.3; GSW twin gsw_cp_t_exact in
# GSW/_wrapped_ufuncs.py). η_t comes from SYMBOLIC differentiation of
# the entropy polynomial string (functions/symdiff.py) — no hand-
# transcribed derivative table, parity exact by construction because
# the differentiated string is again one literal tree shared by both
# engines. Published check value gsw_cp_t_exact(34.7118, 28.7856, 10)
# = 4002.888003958537 J/(kg·K) reproduced bit-for-bit
# (tests/test_oceanography_checkvalues.py), plus FD pins.
# ---------------------------------------------------------------------------
def entropy_t_derivative_sql(sa: str, t: str, p: str) -> str:
    """∂η/∂t at constant (SA, p), J/(kg·K²), portable SQL."""
    return derivative_sql(entropy_from_t_sql, (sa, t, p), (0, 1, 0))


def cp_t_exact_sql(sa: str, t: str, p: str) -> str:
    """cp(SA, t, p) in J/(kg·K) — (T0 + t)·η_t."""
    return f"((273.15e0 + ({t})) * {entropy_t_derivative_sql(sa, t, p)})"


def entropy_sa_derivative_sql(sa: str, t: str, p: str) -> str:
    """∂η/∂SA = −g_SA_T, J/(kg·K) per (g/kg), portable SQL (symbolic
    derivative of the entropy polynomial — chains through x=sqrt(SFAC·SA)
    and the x²·ln(x) saline term mechanically)."""
    return derivative_sql(entropy_from_t_sql, (sa, t, p), (1, 0, 0))


def entropy_p_derivative_sql(sa: str, t: str, p: str) -> str:
    """∂η/∂p = −g_T_P, J/(kg·K) per dbar, portable SQL."""
    return derivative_sql(entropy_from_t_sql, (sa, t, p), (0, 0, 1))


def t_deriv_chem_potential_water_sql(sa: str, t: str, p: str) -> str:
    """∂μ_W/∂T = g_T − SA·g_SA_T = −η + SA·η_SA, J/(g·K) per GSW's
    gram-based convention ×1e-3 from the kg-based Gibbs units (GSW twin
    gsw_t_deriv_chem_potential_water_t_exact returns J/(g·K))."""
    return (
        f"(1.0e-3 * (-({entropy_from_t_sql(sa, t, p)})"
        f" + ({sa}) * {entropy_sa_derivative_sql(sa, t, p)}))"
    )


def adiabatic_lapse_rate_t_exact_sql(sa: str, t: str, p: str) -> str:
    """Γ(SA, t, p) = −g_T_P/g_T_T = −η_p/η_t in K/dbar (Gibbs-exact
    form; the EOS-80 lapse_rate_sql in functions/oceanography.py is the
    independent published fit it cross-checks against in tests)."""
    return (
        f"(-({entropy_p_derivative_sql(sa, t, p)})"
        f" / {entropy_t_derivative_sql(sa, t, p)})"
    )


# ---------------------------------------------------------------------------
# Symbolic derivatives of the ct_from_pt polynomial (McDougall 2003 /
# IOC et al. 2010 appendix A.12 fit): CT_SA, CT_pt and the three second
# derivatives, each again one shared literal tree (functions/symdiff.py;
# FD-pinned in tests). These power the GSW twins gsw_CT_first_derivatives,
# gsw_CT_second_derivatives, gsw_pt_first_derivatives and (chained with
# the entropy derivatives) gsw_entropy_first_derivatives.
# ---------------------------------------------------------------------------
def ct_derivative_sql(sa: str, pt: str, dsa: int, dpt: int) -> str:
    """∂^(dsa+dpt) CT / ∂SA^dsa ∂pt^dpt as portable SQL."""
    return derivative_sql(ct_from_pt_sql, (sa, pt), (dsa, dpt))


def _entropy_p0_sql(sa: str, t: str) -> str:
    return entropy_from_t_sql(sa, t, "0.0e0")


def entropy_p0_derivative_sql(sa: str, pt: str, dsa: int, dt: int) -> str:
    """∂^(dsa+dt) η(SA, pt, 0) / ∂SA^dsa ∂pt^dt — symbolic derivatives
    of the p = 0 entropy surface (the pieces of the (SA, CT) chain
    rule; FD-pinned)."""
    return derivative_sql(_entropy_p0_sql, (sa, pt), (dsa, dt))


# ---------------------------------------------------------------------------
# Full Gibbs potential of seawater g(SA, t, p) — IAPWS-08 / Feistel
# (2008, Deep-Sea Res. I 55, 1639-1671) as adopted by TEOS-10
# (IOC-2010 manual, appendix G; reference implementation
# gsw_oceanographic_toolbox.c::gsw_gibbs, the (0,0,0) value branch).
# The coefficients below are the PUBLISHED constants of that standard,
# re-extracted from the nested-Horner publication form into exact
# monomials c·x^i·y^j·z^k (x = sqrt(sfac·SA), y = t/40 °C, z =
# p/1e4 dbar) by exact polynomial expansion — Horner products only ever
# multiply a coefficient by a variable, so every monomial coefficient
# IS a published constant bit-for-bit (expansion cross-checked to
# <4e-16 relative against direct evaluation at three states).
#
# Everything *_t_exact derives from THIS one table via the symbolic
# differentiator (functions/symdiff.py) — d/dSA chains through
# sqrt(sfac·SA) and the x²·ln(x) salinity terms automatically, so the
# per-derivative scalings (0.025/K, 1e-8/Pa, sfac/(2x), ...) that the
# reference hand-maintains per gibbs branch cannot drift here. Anchors
# (tests/test_oceanography_checkvalues.py): η = −g_t must match the
# INDEPENDENT entropy tree above to double precision; cp = −(T0+t)·g_tt
# is pinned to the published 4002.888003958537 J/(kg·K); v = g_p agrees
# with the check-valued 75-term polynomial within its published fit
# error; second derivatives FD-pinned.
# ---------------------------------------------------------------------------
GIBBS_SW_G03: dict[str, float] = {
    "00": 101.342743139674,
    "01": 100015.695367145,
    "02": -2544.5765420363,
    "03": 284.517778446287,
    "04": -33.3146754253611,
    "05": 4.20263108803084,
    "06": -0.546428511471039,
    "10": 5.90578347909402,
    "11": -270.983805184062,
    "12": 776.153611613101,
    "13": -196.51255088122,
    "14": 28.9796526294175,
    "15": -2.13290083518327,
    "20": -12357.785933039,
    "21": 1455.0364540468,
    "22": -756.558385769359,
    "23": 273.479662323528,
    "24": -55.5604063817218,
    "25": 4.34420671917197,
    "30": 736.741204151612,
    "31": -672.50778314507,
    "32": 499.360390819152,
    "33": -239.545330654412,
    "34": 48.8012518593872,
    "35": -1.66307106208905,
    "40": -148.185936433658,
    "41": 397.968445406972,
    "42": -301.815380621876,
    "43": 152.196371733841,
    "44": -26.3748377232802,
    "50": 58.0259125842571,
    "51": -194.618310617595,
    "52": 120.520654902025,
    "53": -55.2723052340152,
    "54": 6.48190668077221,
    "60": -18.9843846514172,
    "61": 63.5113936641785,
    "62": -22.2897317140459,
    "63": 8.17060541818112,
    "70": 3.05081646487967,
    "71": -9.63108119393062,
}

GIBBS_SW_G08: dict[str, float] = {
    "200": 1416.27648484197,
    "201": -3310.49154044839,
    "202": 384.794152978599,
    "203": -96.5324320107458,
    "204": 15.8408172766824,
    "205": -2.62480156590992,
    "210": 168.072408311545,
    "211": 729.116529735046,
    "212": -343.956902961561,
    "213": 124.687671116248,
    "214": -31.656964386073,
    "215": 7.04658803315449,
    "220": 880.031352997204,
    "221": -860.764303783977,
    "222": 337.409530269367,
    "223": -178.314556207638,
    "224": 44.2040358308,
    "225": -7.92001547211682,
    "230": -225.267649263401,
    "231": 694.244814133268,
    "232": -204.889641964903,
    "233": 113.561697840594,
    "234": -11.1282734326413,
    "240": 91.4260447751259,
    "241": -297.728741987187,
    "242": 74.726141138756,
    "243": -36.4872919001588,
    "250": -21.6603240875311,
    "260": 2.13016970847183,
    "300": -2432.14662381794,
    "301": 199.459603073901,
    "302": -52.2940909281335,
    "303": 68.0444942726459,
    "304": -3.41251932441282,
    "310": -493.407510141682,
    "311": -175.292041186547,
    "312": 83.1923927801819,
    "313": -29.483064349429,
    "320": -43.0664675978042,
    "321": 383.058066002476,
    "322": -54.1917262517112,
    "323": 25.6398487389914,
    "330": -10.0227370861875,
    "331": -460.319931801257,
    "340": 0.875600661808945,
    "341": 234.565187611355,
    "400": 2025.80115603697,
    "401": -54.7919133532887,
    "402": -4.08193978912261,
    "403": -30.1755111971161,
    "410": 543.835333000098,
    "411": -22.6683558512829,
    "420": -68.5572509204491,
    "430": 49.3667694856254,
    "440": -17.1397577419788,
    "450": 2.49697009569508,
    "500": -1091.66841042967,
    "501": 36.0284195611086,
    "510": -196.028306689776,
    "600": 374.60123787784,
    "610": 36.7571622995805,
    "700": -48.5891069025409,
}

#: x²·(GIBBS_SW_LN0 + GIBBS_SW_LN1·y)·ln(x) — the salinity logarithm
#: terms (same Feistel 2008 table).
GIBBS_SW_LN0 = 5812.81456626732
GIBBS_SW_LN1 = 851.226734946706

def _horner1(coefs: dict[int, float], var: str) -> str:
    """Σ c_k·var^k as Horner text (missing powers padded with 0)."""
    deg = max(coefs)
    txt = _lit(coefs[deg])
    for k in range(deg - 1, -1, -1):
        txt = f"({_lit(coefs.get(k, 0.0))} + {var}*{txt})"
    return txt


def _horner_yz(terms: dict[tuple[int, int], float], y: str, z: str) -> str:
    """Σ c_{jk}·y^j·z^k as nested Horner (y outer, z inner)."""
    by_j: dict[int, dict[int, float]] = {}
    for (j, k), c in terms.items():
        by_j.setdefault(j, {})[k] = c
    deg_j = max(by_j)
    out = _horner1(by_j[deg_j], z)
    for j in range(deg_j - 1, -1, -1):
        inner = _horner1(by_j[j], z) if j in by_j else "0.0e0"
        out = f"({inner} + {y}*{out})"
    return out


def _gibbs_sw_value_sql(sa: str, t: str, p: str) -> str:
    """g(SA, t, p) over plain argument names: g03 + x²·(Horner core in
    x of the g08 monomials, absolute powers ≥ 2) + x²·ln(x) terms.
    Nested Horner keeps the text ~6 KB — inside the janino comfort
    zone for single evaluations."""
    x2 = f"({_lit(GSW_SFAC)}*{sa})"
    x = f"sqrt({x2})"
    y = f"({t}*0.025e0)"
    z = f"({p}*1.0e-4)"
    g03 = _horner_yz(
        {(int(jk[0]), int(jk[1])): c for jk, c in GIBBS_SW_G03.items()}, y, z
    )
    by_i: dict[int, dict[tuple[int, int], float]] = {}
    for ijk, c in GIBBS_SW_G08.items():
        i, j, k = int(ijk[0]), int(ijk[1]), int(ijk[2])
        by_i.setdefault(i - 2, {})[(j, k)] = c  # factor x² out
    deg = max(by_i)
    core = _horner_yz(by_i[deg], y, z)
    for i in range(deg - 1, -1, -1):
        inner = _horner_yz(by_i[i], y, z) if i in by_i else "0.0e0"
        core = f"({inner} + {x}*{core})"
    ln_terms = f"({_lit(GIBBS_SW_LN0)} + {_lit(GIBBS_SW_LN1)}*{y})*ln({x})"
    return f"({g03} + {x2}*({core} + {ln_terms}))"


def gibbs_sw_sql(
    sa: str, t: str, p: str, dsa: int = 0, dt: int = 0, dp: int = 0
) -> str:
    """∂^(dsa+dt+dp) g / ∂SA^dsa ∂t^dt ∂p^dp as portable SQL — the
    seawater twin of the gibbs_ice machinery. Units are PHYSICAL
    (J/kg per (g/kg)^dsa per K^dt per dbar^dp): the symbolic d/dSA
    chains through x = sqrt(sfac·SA) and the x²·ln(x) terms, d/dt and
    d/dp through the 0.025/K and 1e-4/dbar argument scalings, so e.g.
    specific volume is 1e-4·gibbs_sw_sql(dp=1) m³/kg (per-dbar →
    per-Pa; the Pa scalings cancel entirely in the sound-speed and
    alpha/beta ratios).
    Each order is differentiated once (symdiff.derivative_sql)."""
    return derivative_sql(_gibbs_sw_value_sql, (sa, t, p), (dsa, dt, dp))


# ---------------------------------------------------------------------------
# GSW freezing polynomial (McDougall, Barker & Feistel fit adopted by
# TEOS-10; reference gsw_ct_freezing_poly / GSW_FREEZING_POLY_
# COEFFICIENTS — published constants). CT_freezing(SA, p) as one
# codegen expression in sa_r = SA/100, x = sqrt(sa_r), p_r = p/1e4;
# the saturation-fraction air correction uses the published a, b.
# The exact (Gibbs) freezing temperature already ships as
# t_freezing_sql (Millero form); this is the _poly family the GSW
# ufunc surface exposes separately.
# ---------------------------------------------------------------------------
FREEZING_POLY_C = [
    0.017947064327968736, -6.076099099929818, 4.883198653547851,
    -11.88081601230542, 13.34658511480257, -8.722761043208607,
    2.082038908808201, -7.389420998107497, -2.110913185058476,
    0.2295491578006229, -0.9891538123307282, -0.08987150128406496,
    0.3831132432071728, 1.054318231187074, 1.065556599652796,
    -0.7997496801694032, 0.3850133554097069, -2.078616693017569,
    0.8756340772729538, -2.079022768390933, 1.596435439942262,
    0.1338002171109174, 1.242891021876471,
]
FREEZING_POLY_A = 0.014289763856964
FREEZING_POLY_B = 0.057000649899720


def ct_freezing_poly_sql(sa: str, p: str, saturation_fraction: str = "0.0e0") -> str:
    c = FREEZING_POLY_C
    sa_r = f"(({sa})*1.0e-2)"
    x = f"sqrt({sa_r})"
    p_r = f"(({p})*1.0e-4)"
    main = (
        f"({_lit(c[0])}"
        f" + {sa_r}*({_lit(c[1])} + {x}*({_lit(c[2])} + {x}*({_lit(c[3])}"
        f" + {x}*({_lit(c[4])} + {x}*({_lit(c[5])} + {_lit(c[6])}*{x})))))"
        f" + {p_r}*({_lit(c[7])} + {p_r}*({_lit(c[8])} + {_lit(c[9])}*{p_r}))"
        f" + {sa_r}*{p_r}*({_lit(c[10])} + {p_r}*({_lit(c[12])}"
        f" + {p_r}*({_lit(c[15])} + {_lit(c[21])}*{sa_r}))"
        f" + {sa_r}*({_lit(c[13])} + {_lit(c[17])}*{p_r}"
        f" + {_lit(c[19])}*{sa_r})"
        f" + {x}*({_lit(c[11])} + {p_r}*({_lit(c[14])} + {_lit(c[18])}*{p_r})"
        f" + {sa_r}*({_lit(c[16])} + {_lit(c[20])}*{p_r}"
        f" + {_lit(c[22])}*{sa_r}))))"
    )
    air = (
        f"(({saturation_fraction})*1.0e-3*(2.4e0 - {_lit(FREEZING_POLY_A)}"
        f"*({sa}))*(1.0e0 + {_lit(FREEZING_POLY_B)}*(1.0e0"
        f" - ({sa})/{_lit(GSW_SSO)})))"
    )
    return f"({main} - {air})"


def sa_freezing_from_ct_poly_stages(
    ct: str, p: str, x: str = "__safr_"
) -> list[tuple[str, str]]:
    """SA such that CT_freezing_poly(SA, p) = ct — three Newton steps
    on the freezing polynomial from SA0 = 35 g/kg with a central-FD
    slope (dCT_f/dSA ≈ −0.058 K per g/kg; the sqrt(SA) terms leave
    enough curvature that two steps still carry ~5e-6 g/kg at the far
    end of the envelope — the third lands < 1e-9, roundtrip-pinned).
    Final stage ``sa_freezing``."""
    eps = "1.0e-2"
    stages: list[tuple[str, str]] = [(f"{x}sa0", "35.0e0")]
    for i in range(3):
        cur = f"{x}sa{i}"
        stages += [
            (f"{x}r{i}", f"({ct_freezing_poly_sql(cur, p)} - ({ct}))"),
            (
                f"{x}d{i}",
                f"(({ct_freezing_poly_sql(f'({cur} + {eps})', p)}"
                f" - {ct_freezing_poly_sql(f'({cur} - {eps})', p)})"
                f"/(2.0e0*{eps}))",
            ),
            (f"{x}sa{i + 1}", f"({cur} - {x}r{i}/{x}d{i})"),
        ]
    stages.append(("sa_freezing", f"{x}sa3"))
    return stages


# ---------------------------------------------------------------------------
# Height/pressure conversions (Saunders 1981 as adopted by TEOS-10;
# reference gsw_z_from_p / gsw_p_from_z / gsw_enthalpy_sso_0 /
# gsw_specvol_sso_0 — published constants; gamma = 2.26e-7 is the
# gravity gradient, the h00k are the pressure-integral coefficients of
# the standard-ocean specific volume).
# ---------------------------------------------------------------------------
GSW_GAMMA = 2.26e-7
_H_SSO = [
    9.726613854843870e-4, -2.252956605630465e-5, 2.376909655387404e-6,
    -1.664294869986011e-7, -5.988108894465758e-9, -2.10787688100e-9,
    2.80192913290e-10,
]
_V_SSO = [
    9.726613854843870e-4, -4.505913211160929e-5, 7.130728965927127e-6,
    -6.657179479768312e-7, -2.994054447232880e-8, -1.264665057122e-8,
    1.96207708420e-9,
]


def enthalpy_sso_0_sql(p: str) -> str:
    """Dynamic enthalpy of the standard ocean (SA = SSO, CT = 0) at p,
    J/kg: z·Horner(h00k)·db2pa·1e4 with z = p/1e4."""
    z = f"(({p})*1.0e-4)"
    inner = _lit(_H_SSO[-1])
    for c in reversed(_H_SSO[:-1]):
        inner = f"({_lit(c)} + {z}*{inner})"
    return f"({z}*{inner}*1.0e8)"


def specvol_sso_0_sql(p: str) -> str:
    """Specific volume of the standard ocean at p (m³/kg)."""
    z = f"(({p})*1.0e-4)"
    inner = _lit(_V_SSO[-1])
    for c in reversed(_V_SSO[:-1]):
        inner = f"({_lit(c)} + {z}*{inner})"
    return f"({inner})"


def grav_sql(lat: str) -> str:
    """Surface gravity (Moritz 1980 normal gravity, the GSW grav
    surface term): 9.780327·(1 + (5.2792e-3 + 2.32e-5·sin²)·sin²)."""
    sin2 = f"(sin(({lat})*{_lit(3.141592653589793 / 180.0)})"
    sin2 = f"({sin2}*sin(({lat})*{_lit(3.141592653589793 / 180.0)})))"
    return (
        f"(9.780327e0*(1.0e0 + (5.2792e-3 + 2.32e-5*{sin2})*{sin2}))"
    )


def z_from_p_stages(p: str, lat: str, x: str = "__zfp_") -> list[tuple[str, str]]:
    """Height z (m, NEGATIVE below the surface) from sea pressure
    (dbar) and latitude — the quadratic-in-z geopotential solve with
    the standard-ocean enthalpy integral. Final stage ``z_out``."""
    stages = [
        (f"{x}b", grav_sql(lat)),
        (f"{x}a", f"(-0.5e0*{_lit(GSW_GAMMA)}*{x}b)"),
        (f"{x}c", enthalpy_sso_0_sql(p)),
        (
            "z_out",
            f"(-2.0e0*{x}c/({x}b + sqrt({x}b*{x}b - 4.0e0*{x}a*{x}c)))",
        ),
    ]
    return stages


def p_from_z_stages(z: str, lat: str, x: str = "__pfz_") -> list[tuple[str, str]]:
    """Sea pressure (dbar) from height (m, negative below surface) —
    Saunders (1981) first estimate + two modified-Newton steps on
    f(p) = h_SSO(p) + g·(z − γz²/2), derivative db2pa·v_SSO(p).
    Final stage ``p_out``."""
    stages = [
        (f"{x}gs", grav_sql(lat)),
        (
            f"{x}c1",
            f"(5.25e-3*sin(({lat})*{_lit(3.141592653589793 / 180.0)})"
            f"*sin(({lat})*{_lit(3.141592653589793 / 180.0)}) + 5.92e-3)",
        ),
        (
            f"{x}p0",
            f"(-2.0e0*({z})/((1.0e0 - {x}c1)"
            f" + sqrt((1.0e0 - {x}c1)*(1.0e0 - {x}c1) + 8.84e-6*({z}))))",
        ),
        (f"{x}df0", f"(1.0e4*{specvol_sso_0_sql(f'{x}p0')})"),
        (
            f"{x}f0",
            f"({enthalpy_sso_0_sql(f'{x}p0')} + {x}gs*(({z})"
            f" - 0.5e0*{_lit(GSW_GAMMA)}*({z})*({z})))",
        ),
        (f"{x}p1", f"({x}p0 - {x}f0/{x}df0)"),
        (f"{x}pm", f"(0.5e0*({x}p1 + {x}p0))"),
        (f"{x}dfm", f"(1.0e4*{specvol_sso_0_sql(f'{x}pm')})"),
        ("p_out", f"({x}p0 - {x}f0/{x}dfm)"),
    ]
    return stages


# ---------------------------------------------------------------------------
# Potential enthalpy of ice at the seawater freezing point — the
# published direct polynomial fit h_pot_If(SA, p), and the published
# pt0_ice <-> pot_enthalpy_ice polynomial pair (TEOS-10 fit constants;
# reference parity anchors: GSW-Python src/c_gsw/
# gsw_oceanographic_toolbox.c gsw_pot_enthalpy_ice_freezing_poly /
# gsw_pt_from_pot_enthalpy_ice_poly / gsw_pot_enthalpy_from_pt_ice_poly).
# Derivatives are minted by the symbolic differentiator, never hand
# tables. Promoted here from plans/staged_r15.py so both the r14 and
# r15 slates (and any future frazil composition) share one definition.
# ---------------------------------------------------------------------------
POT_H_ICE_FREEZING_POLY_C = [
    -3.333548730778702e5, -1.249490228128056e4, 0.891189273859881e4,
    -2.405994758887321e4, 3.217945710496395e4, -2.374817375023954e4,
    0.651630522289954e4, -2.034535061416256e4, -0.252580687014574e4,
    0.021290274388826e4, 0.315423710959628e3, -0.239518382138314e3,
    0.379377450285737e3, 0.822414256564615e3, -1.781443326566310e3,
    -0.160245473297112e3, -1.923856387576336e3, 2.522158744711316e3,
    0.268604113069031e3, 0.967023925992424e3, -1.052684746354551e3,
    -0.184147500983788e3, -0.263384562367307e3,
]
PT_FROM_POT_H_ICE_POLY_Q = [
    2.533588268773218e2, 2.594351081876611e-3, 1.765077810213815e-8,
    7.768070564290540e-14, 2.034842254277530e-19, 3.220014531712841e-25,
    2.845172809636068e-31, 1.094005878892950e-37,
]
POT_H_FROM_PT_ICE_POLY_P = [
    -3.333601570157700e5, 2.096693916810367e3, 3.687110754043292,
    4.559401565980682e-4, -2.516011957758120e-6, -1.040364574632784e-8,
    -1.701786588412454e-10, -7.667191301635057e-13,
]

def _horner_lit(coeffs: list[float], var: str) -> str:
    expr = f"{coeffs[-1]:.16e}"
    for c in reversed(coeffs[:-1]):
        expr = f"({c:.16e} + {var}*{expr})"
    return expr


def pot_enthalpy_ice_freezing_poly_sql(sa: str, p: str) -> str:
    c = [f"{v:.16e}" for v in POT_H_ICE_FREEZING_POLY_C]
    sa_r = f"(({sa})*1.0e-2)"
    x = f"sqrt({sa_r})"
    p_r = f"(({p})*1.0e-4)"
    return (
        f"({c[0]} + {sa_r}*({c[1]} + {x}*({c[2]} + {x}*({c[3]} + {x}*({c[4]}"
        f" + {x}*({c[5]} + {c[6]}*{x})))))"
        f" + {p_r}*({c[7]} + {p_r}*({c[8]} + {c[9]}*{p_r}))"
        f" + {sa_r}*{p_r}*({c[10]} + {p_r}*({c[12]} + {p_r}*({c[15]}"
        f" + {c[21]}*{sa_r})) + {sa_r}*({c[13]} + {c[17]}*{p_r}"
        f" + {c[19]}*{sa_r}) + {x}*({c[11]} + {p_r}*({c[14]}"
        f" + {c[18]}*{p_r}) + {sa_r}*({c[16]} + {c[20]}*{p_r}"
        f" + {c[22]}*{sa_r}))))"
    )


def pot_enthalpy_ice_freezing_poly_deriv_sql(sa: str, p: str, var: int) -> str:
    """Symbolic d/dSA (var=0) or d/dp (var=1) of the freezing fit."""
    orders = (1, 0) if var == 0 else (0, 1)
    return derivative_sql(pot_enthalpy_ice_freezing_poly_sql, (sa, p), orders)


def pt_from_pot_enthalpy_ice_poly_sql(h: str) -> str:
    return _horner_lit(PT_FROM_POT_H_ICE_POLY_Q, f"({h})")


def pt_from_pot_enthalpy_ice_poly_deriv_sql(h: str) -> str:
    return derivative_sql(pt_from_pot_enthalpy_ice_poly_sql, (h,), (1,))


def pot_enthalpy_from_pt_ice_poly_estimate_sql(pt: str) -> str:
    """The published degree-7 initial-estimate polynomial GSW's own
    Newton inverse starts from."""
    return _horner_lit(POT_H_FROM_PT_ICE_POLY_P, f"({pt})")
