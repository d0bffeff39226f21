"""Round-9 query slate: 50 live queries, each registered at import
with ``register``; strict-harness coverage in tests/test_staged_r9.py.

``gsw_dynamic_enthalpy`` and ``gsw_enthalpy`` are served from here in
the staged-Horner form (wave B). Their flat-form predecessors stay in
plans/staged_r5.py as unregistered reference code; the two forms are
value-identical at the queries' quantization except ~1e-5-probability
last-ulp boundary rows, pinned by tests/test_staged_r9.py.

Content:
- Wave A — TEOS-10 native alpha/beta/ratio from the ANALYTIC derivative
  polynomials (GSW twins: gsw_alpha, gsw_beta, gsw_alpha_on_beta);
  Simpson's-paradox audit over discount->revenue correlations; IVF
  recall-vs-nprobe curve (the ANN tuning audit).
- Wave B (replacements) — gsw_dynamic_enthalpy and gsw_enthalpy
  migrated to the staged per-z-power form (functions/teos10.py
  dynamic_enthalpy_stages): the flat inline text exceeds janino's
  64 KB method limit and silently runs interpreted (~10x slower,
  measured 5.4 s vs 0.5 s at sf0.1 for one evaluation).
- Wave C — ice second-derivative quantities: kappa_const_t_ice,
  internal/Helmholtz energy of ice, adiabatic sound speed in ice
  (analytic g_pp/g_Tp; IAPWS-06 Table-6 + FD pinned).
- Wave D — Simpson's-paradox slope audit, interval union coverage
  (sweep-line), single-bin DFT power at 24 h / 7 d, Gumbel block-maxima
  fit with 30-block return level.
- Wave E — IVF recall-vs-nprobe tuning curve, stupid-backoff trigram
  LM scoring (held-out halves, per-level backoff counts), backlog
  aging, Laspeyres price index, the Gopher-rule quality funnel,
  record-breaking-events trend test.
- Wave F — KMV bottom-k distinct sketch audit, temporal-split leakage
  audit, sessionization-threshold sensitivity sweep.
- Wave G — mean-imputation variance-shrink audit, int8-quantization
  recall audit, lognormal fit with median/mean probes.
- Wave H — ABC×XYZ inventory matrix (cross-multiplied CV classes),
  degree-distribution power-law slope, weekday×hour two-way η².
- Wave I — 1 KiB chunk manifests, out-of-order/watermark profile,
  per-label centroid drift, monthly growth accounting, dedup
  vocabulary impact, part-name token top-k.
- Wave J — mixed-layer pressure (de Boyer Montégut threshold; GSW twin
  gsw_mlp), rho first derivatives from the analytic stages, Hill tail
  index (EVT complement to the Gumbel fit), circular mean hour.
- Wave K — Theil-T inequality decomposition by brand (within/between),
  classical additive seasonal-trend decomposition (centered 13-month
  MA over the bounded month table), two-hop reachability profile.
- Wave L — freezing-point derivatives, ANALYTIC enthalpy first
  derivatives (derivative coefficient polynomials), CT of maximum
  density (Newton on the analytic v_ys root), potential enthalpy,
  tie-corrected Mann–Whitney U test.
- Wave M — CUSUM changepoint location with flanking means, Kendall
  τ-b from the contingency table (O(cells²), bounded broadcast),
  first-vs-repeat order value bias, quantile normalization onto a
  reference distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cioos_siooc_data_transform_spark.plans.staged_r5 import (
    _IN_SQL,
    _SA_SQL,
    _inputs,
)
from cioos_siooc_data_transform_spark.plans.staged_r6 import (
    _stage_sql,
    pearson_r_from_sums,
)
from cioos_siooc_data_transform_spark.plans.registry import register
from cioos_siooc_data_transform_spark.session import read_table as _t


# ---------------------------------------------------------------------------
# Wave A — TEOS-10 native alpha/beta/ratio (GSW twins: gsw_alpha,
# gsw_beta, gsw_alpha_on_beta) from the analytic 75-term derivative
# polynomials — the native-(SA, CT) upgrade of the live EOS-80
# gsw_alpha_beta. Divisions + sqrt only: exact parity; zero shuffle.
# ---------------------------------------------------------------------------
def _alpha_beta_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        cabbeling_thermobaric_stages,
        ct_from_t_sql,
    )

    inner = f"""
    SELECT l_orderkey, l_linenumber, {_SA_SQL} AS sa,
           {ct_from_t_sql("s", "t", "p")} AS ct, p
    FROM ({_IN_SQL})
    """
    stages = [
        s
        for s in cabbeling_thermobaric_stages("sa", "ct", "p")
        if s[0]
        in {
            "__cbtb_xs", "__cbtb_ys", "__cbtb_z", "__cbtb_v", "__cbtb_vx",
            "__cbtb_vy", "__cbtb_dxdsa", "__cbtb_v_ct", "__cbtb_v_sa",
            "__cbtb_alpha", "__cbtb_beta", "__cbtb_r",
        }
    ]
    staged = _stage_sql(inner, stages)
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(__cbtb_alpha * 1.0e12 + 0.5) / 1.0e12 AS alpha,
           floor(__cbtb_beta * 1.0e12 + 0.5) / 1.0e12 AS beta,
           floor(__cbtb_r * 1.0e9 + 0.5) / 1.0e9 AS alpha_on_beta
    FROM {staged}
    """


@register("gsw_alpha_beta_75term", oracle=_alpha_beta_oracle())
def gsw_alpha_beta_75term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thermal expansion alpha = v_CT/v, haline contraction
    beta = −v_SA/v, and the density ratio alpha/beta — ANALYTIC
    derivatives of the 75-term specvol (the native-(SA, CT) upgrade of
    the live EOS-80 gsw_alpha_beta; GSW twins gsw_alpha / gsw_beta /
    gsw_alpha_on_beta). Reuses the first half of
    cabbeling_thermobaric_stages — FD agreement is pinned by that
    family's test."""
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
    keep = {
        "__cbtb_xs", "__cbtb_ys", "__cbtb_z", "__cbtb_v", "__cbtb_vx",
        "__cbtb_vy", "__cbtb_dxdsa", "__cbtb_v_ct", "__cbtb_v_sa",
        "__cbtb_alpha", "__cbtb_beta", "__cbtb_r",
    }
    for name, expr in cabbeling_thermobaric_stages("sa", "ct", "p"):
        if name in keep:
            df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("__cbtb_alpha") * 1.0e12 + 0.5) / 1.0e12).alias("alpha"),
        (F.floor(F.col("__cbtb_beta") * 1.0e12 + 0.5) / 1.0e12).alias("beta"),
        (F.floor(F.col("__cbtb_r") * 1.0e9 + 0.5) / 1.0e9).alias(
            "alpha_on_beta"
        ),
    )


# ---------------------------------------------------------------------------
# Wave B — staged-Horner migrations of the two live flat-text
# dynamic-enthalpy queries (REPLACEMENTS: same names, same inputs, same
# quantization; the tree regroups per-z-power so codegen survives
# janino's 64 KB method limit — measured 5.4 s -> ~0.5 s at sf0.1 for
# one evaluation. Values differ from the flat form only in last-ulp
# rounding below the 6-dp output floor; still handled as a semantics
# change for driver bookkeeping).
# ---------------------------------------------------------------------------
def _dyn_enthalpy_staged_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        dynamic_enthalpy_stages,
    )

    inner = f"""
      SELECT l_orderkey, l_linenumber, p, {_SA_SQL} AS sa,
             {ct_from_t_sql("s", "t", "p")} AS ct
      FROM ({_IN_SQL})
    """
    staged = _stage_sql(inner, dynamic_enthalpy_stages("sa", "ct", "p"))
    return f"""
    SELECT l_orderkey, l_linenumber,
           round(__hdyn_out, 6) AS h_dyn
    FROM {staged}
    """


@register("gsw_dynamic_enthalpy", oracle=_dyn_enthalpy_staged_oracle())
def gsw_dynamic_enthalpy_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic enthalpy (the pressure-dependent part of specific
    enthalpy) — staged per-z-power form of the same 75 published
    coefficients the original flat query summed (plans/staged_r5.py);
    one a_K stage set + Horner combine per row, whole-stage codegen."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        dynamic_enthalpy_stages,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "p",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    for name, expr in dynamic_enthalpy_stages("sa", "ct", "p"):
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("__hdyn_out"), 6).alias("h_dyn"),
    )


def _enthalpy_staged_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        enthalpy_stages,
    )

    inner = f"""
      SELECT l_orderkey, l_linenumber, p, {_SA_SQL} AS sa,
             {ct_from_t_sql("s", "t", "p")} AS ct
      FROM ({_IN_SQL})
    """
    staged = _stage_sql(inner, enthalpy_stages("sa", "ct", "p"))
    return f"""
    SELECT l_orderkey, l_linenumber,
           round(__h_out, 6) AS enthalpy
    FROM {staged}
    """


@register("gsw_enthalpy", oracle=_enthalpy_staged_oracle())
def gsw_enthalpy_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """h(SA, CT, p) = cp0·CT + h_dyn — staged per-z-power form (see
    gsw_dynamic_enthalpy replacement)."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        enthalpy_stages,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "p",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    for name, expr in enthalpy_stages("sa", "ct", "p"):
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("__h_out"), 6).alias("enthalpy"),
    )


# ---------------------------------------------------------------------------
# Wave C — ice second-derivative quantities (GSW twins:
# gsw_kappa_const_t_ice, gsw_internal_energy_ice,
# gsw_helmholtz_energy_ice, gsw_sound_speed_ice in
# GSW/_wrapped_ufuncs.py / GSW/ice.py): analytic g_pp / g_Tp stages on
# the IAPWS-06 Gibbs potential, Table-6 + FD pinned in
# tests/test_oceanography_checkvalues.py. Shares the wave-H input shape
# (sub-zero t, shelf pressures) from staged_r8.
# ---------------------------------------------------------------------------
def _ice9_query(out_col: str, scale: float):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from cioos_siooc_data_transform_spark.functions.ice import (
            gibbs_ice_stages,
        )
        from cioos_siooc_data_transform_spark.plans.staged_r8 import _ice_inputs

        df = _ice_inputs(spark, sf_dir)
        for name, expr in gibbs_ice_stages("t", "p"):
            df = df.withColumn(name, F.expr(expr))
        return df.select(
            "l_orderkey",
            "l_linenumber",
            (F.floor(F.col(out_col) * scale + 0.5) / scale).alias(out_col),
        )

    return fn


def _ice9_oracle(out_col: str, scale: float) -> str:
    from cioos_siooc_data_transform_spark.functions.ice import gibbs_ice_stages
    from cioos_siooc_data_transform_spark.plans.staged_r8 import _ICE_IN_SQL

    staged = _stage_sql(_ICE_IN_SQL, gibbs_ice_stages("t", "p"))
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor({out_col} * {scale:.1e} + 0.5) / {scale:.1e} AS {out_col}
    FROM {staged}
    """


# scales by magnitude: kappa ~1e-10 1/Pa (1e22 -> 1e-12 relative? no:
# value*1e22 ~ 1e12 exact-int range, 1e-22 floor ~ 1e-12 relative);
# u/f ~ 1e5 J/kg -> 1e-3 floor (the wave-H transcendental argument);
# c ~ 3e3 m/s -> 1e-4 floor.
for _col, _scale in (
    ("kappa_const_t_ice", 1.0e22),
    ("internal_energy_ice", 1.0e3),
    ("helmholtz_energy_ice", 1.0e3),
    ("sound_speed_ice", 1.0e4),
):
    _fn = _ice9_query(_col, _scale)
    _fn.__name__ = f"gsw_{_col}"
    _fn.__doc__ = (
        f"Ice Ih {_col} from the IAPWS-06 Gibbs second derivatives "
        "(Table-6 + FD pinned in tests)."
    )
    register(f"gsw_{_col}", oracle=_ice9_oracle(_col, _scale))(_fn)


# ---------------------------------------------------------------------------
# Wave D — statistical audits over the TPC-H / events tables:
# Simpson's-paradox slope audit, interval union coverage (sweep-line),
# daily/weekly spectral power, and Gumbel block-maxima fitting.
# Integer-exact sums everywhere a rounded aggregate needs
# order-independence (the per-term-quantize idiom extends to the
# cos/sin spectral terms: a last-ulp cos difference flips a 1e-12 term
# quantum with ~1e-4 probability, drifting the exact sum by ~1e-11 —
# five decades below the 1e-6 output floor).
# ---------------------------------------------------------------------------
@register(
    "lineitem_simpson_paradox_audit",
    oracle="""
    WITH pts AS (
      SELECT l_returnflag AS grp,
             CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS x,
             CAST(l_quantity AS BIGINT) AS y
      FROM lineitem
    ), per AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx, sum(x*y) AS sxy
      FROM pts GROUP BY grp
      UNION ALL
      SELECT '__pooled__', CAST(count(*) AS BIGINT),
             sum(x), sum(y), sum(x*x), sum(x*y)
      FROM pts
    ), slopes AS (
      SELECT grp, n,
             floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                   / NULLIF(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE), 0.0)
                   * 1.0e6 + 0.5) / 1.0e6 AS slope
      FROM per
    )
    SELECT s.grp, s.n, s.slope,
           CASE WHEN s.grp = '__pooled__' THEN FALSE
                ELSE (s.slope > 0) <> (p.slope > 0) END AS sign_flips_pooled
    FROM slopes s
    CROSS JOIN (SELECT slope FROM slopes WHERE grp = '__pooled__') p
    """,
)
def lineitem_simpson_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox detector: the pooled OLS slope of quantity on
    discount next to each return-flag stratum's slope, flagging sign
    reversals — the aggregation-bias audit any metrics pipeline should
    run before trusting a pooled trend. One exact-integer moment pass
    (grouping-sets shape via union), slopes finished in double on the
    exact sums; the pooled row broadcasts back as a 1-row dimension."""
    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("grp"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    def moments(df, label):
        g = df.groupBy(*( ["grp"] if label is None else [] )).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
        return g if label is None else g.select(F.lit(label).alias("grp"), "*")
    per = moments(pts, None).unionByName(moments(pts, "__pooled__"))
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    den = F.nullif(nd * sxx - sx * sx, F.lit(0.0))
    slopes = per.select(
        "grp",
        "n",
        (F.floor((nd * sxy - sx * sy) / den * 1.0e6 + 0.5) / 1.0e6).alias(
            "slope"
        ),
    )
    pooled = slopes.filter(F.col("grp") == "__pooled__").select(
        F.col("slope").alias("pooled_slope")
    )
    return slopes.crossJoin(F.broadcast(pooled)).select(
        "grp",
        "n",
        "slope",
        F.when(F.col("grp") == "__pooled__", F.lit(False))
        .otherwise((F.col("slope") > 0) != (F.col("pooled_slope") > 0))
        .alias("sign_flips_pooled"),
    )


@register(
    "interval_union_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
      FROM events
    ), marked AS (
      SELECT user_id, s, e,
             CASE WHEN s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS brk
      FROM iv
    ), isl AS (
      SELECT user_id, e,  s,
             sum(brk) OVER (PARTITION BY user_id ORDER BY s, e
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM marked
    ), runs AS (
      SELECT user_id, island, min(s) AS island_s, max(e) AS island_e,
             CAST(count(*) AS BIGINT) AS n_iv
      FROM isl GROUP BY 1, 2
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(n_iv) AS BIGINT) AS n_intervals,
           CAST(sum(island_e - island_s) AS BIGINT) AS covered_us
    FROM runs GROUP BY user_id
    """,
)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union length of overlapping intervals per user (each event opens
    a 5-minute window): the classic sweep-line — sort by start, break
    when a start exceeds the running max end, sum island extents. Two
    windows sharing one (user_id; s, e) sort; all arithmetic exact
    integer epoch-µs. The merged-island length is the
    double-counting-free exposure metric sessionization/billing needs."""
    e = _t(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(300000000)).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.withColumn(
        "brk",
        F.when(F.col("s") > prev_max_e, 1).otherwise(0),
    )
    isl = marked.withColumn(
        "island",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    runs = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("island_s"),
        F.max("e").alias("island_e"),
        F.count(F.lit(1)).cast("long").alias("n_iv"),
    )
    return runs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum("n_iv").cast("long").alias("n_intervals"),
        F.sum(F.col("island_e") - F.col("island_s"))
        .cast("long")
        .alias("covered_us"),
    )


_DFT_TERMS_SQL = """
      SELECT event_type,
             CAST(floor(value * cos(2.0e0*pi()*((epoch_us(ts) % 86400000000)
                        / 86400000000.0e0)) * 1.0e6 + 0.5) AS BIGINT) AS c24,
             CAST(floor(value * sin(2.0e0*pi()*((epoch_us(ts) % 86400000000)
                        / 86400000000.0e0)) * 1.0e6 + 0.5) AS BIGINT) AS s24,
             CAST(floor(value * cos(2.0e0*pi()*((epoch_us(ts) % 604800000000)
                        / 604800000000.0e0)) * 1.0e6 + 0.5) AS BIGINT) AS c168,
             CAST(floor(value * sin(2.0e0*pi()*((epoch_us(ts) % 604800000000)
                        / 604800000000.0e0)) * 1.0e6 + 0.5) AS BIGINT) AS s168,
             CAST(floor(abs(value) * 1.0e6 + 0.5) AS BIGINT) AS av
      FROM events
"""


@register(
    "events_dft_power_daily_weekly",
    oracle=f"""
    WITH terms AS ({_DFT_TERMS_SQL}),
    sums AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c24) AS HUGEINT) AS sc24, CAST(sum(s24) AS HUGEINT) AS ss24,
             CAST(sum(c168) AS HUGEINT) AS sc168, CAST(sum(s168) AS HUGEINT) AS ss168,
             CAST(sum(av) AS HUGEINT) AS sav
      FROM terms GROUP BY event_type
    )
    SELECT event_type, n,
           floor(sqrt(CAST(sc24 AS DOUBLE)*CAST(sc24 AS DOUBLE)
                      + CAST(ss24 AS DOUBLE)*CAST(ss24 AS DOUBLE))
                 / CAST(sav AS DOUBLE) * 1.0e6 + 0.5) / 1.0e6 AS daily_power,
           floor(sqrt(CAST(sc168 AS DOUBLE)*CAST(sc168 AS DOUBLE)
                      + CAST(ss168 AS DOUBLE)*CAST(ss168 AS DOUBLE))
                 / CAST(sav AS DOUBLE) * 1.0e6 + 0.5) / 1.0e6 AS weekly_power
    FROM sums
    """,
)
def events_dft_power_daily_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-bin DFT power at the 24 h and 7 d periods per event type —
    the spectral seasonality detector (|Σv·e^{-iωt}|/Σ|v|, 0 = flat,
    →1 = pure tone). Per-term micro-quantization before the exact sums:
    a last-ulp cos() disagreement flips a term's 1e-6 quantum with
    ~1e-7 probability, drifting the HUGEINT/long sum ~1e-6 against a
    ~1e9 total — nine decades below the output floor. One
    map-side-combinable agg; phases from exact integer epoch-µs."""
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    def term(trig, period_us):
        phase = 2.0 * 3.141592653589793 * (
            (us % F.lit(period_us)) / float(period_us)
        )
        return F.floor(F.col("value") * trig(phase) * 1.0e6 + 0.5).cast("long")
    terms = e.select(
        "event_type",
        term(F.cos, 86400000000).alias("c24"),
        term(F.sin, 86400000000).alias("s24"),
        term(F.cos, 604800000000).alias("c168"),
        term(F.sin, 604800000000).alias("s168"),
        F.floor(F.abs(F.col("value")) * 1.0e6 + 0.5).cast("long").alias("av"),
    )
    sums = terms.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("c24").cast("decimal(38,0)")).alias("sc24"),
        F.sum(F.col("s24").cast("decimal(38,0)")).alias("ss24"),
        F.sum(F.col("c168").cast("decimal(38,0)")).alias("sc168"),
        F.sum(F.col("s168").cast("decimal(38,0)")).alias("ss168"),
        F.sum(F.col("av").cast("decimal(38,0)")).alias("sav"),
    )
    def power(sc, ss):
        return (
            F.floor(
                F.sqrt(
                    sc.cast("double") * sc.cast("double")
                    + ss.cast("double") * ss.cast("double")
                )
                / F.col("sav").cast("double")
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        )
    return sums.select(
        "event_type",
        "n",
        power(F.col("sc24"), F.col("ss24")).alias("daily_power"),
        power(F.col("sc168"), F.col("ss168")).alias("weekly_power"),
    )


@register(
    "events_block_maxima_gumbel",
    oracle="""
    WITH blocks AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day_id,
             CAST(max(CAST(floor(value * 1.0e6 + 0.5) AS BIGINT)) AS BIGINT)
               AS m
      FROM events GROUP BY 1, 2
    ), mom AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(m) AS HUGEINT) AS sm, CAST(sum(m*m) AS HUGEINT) AS smm
      FROM blocks GROUP BY event_type
    ), fit AS (
      SELECT event_type, n_blocks,
             CAST(sm AS DOUBLE) / 1.0e6 / n_blocks AS mean_max,
             sqrt(CAST(smm AS DOUBLE) / 1.0e12 / n_blocks
                  - (CAST(sm AS DOUBLE) / 1.0e6 / n_blocks)
                    * (CAST(sm AS DOUBLE) / 1.0e6 / n_blocks))
               * sqrt(6.0e0) / pi() AS beta
      FROM mom
    )
    SELECT event_type, n_blocks,
           floor((mean_max - 0.57721566490153286e0 * beta) * 1.0e6 + 0.5)
             / 1.0e6 AS gumbel_loc,
           floor(beta * 1.0e6 + 0.5) / 1.0e6 AS gumbel_scale,
           floor(((mean_max - 0.57721566490153286e0 * beta)
                  - beta * ln(-ln(1.0e0 - 1.0e0/30.0e0))) * 1.0e6 + 0.5)
             / 1.0e6 AS return_level_30
    FROM fit
    """,
)
def events_block_maxima_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis per type: daily block maxima fitted to a
    Gumbel distribution by the method of moments (β = s·√6/π,
    μ = m̄ − γ·β with Euler–Mascheroni γ), plus the 30-block return
    level μ − β·ln(−ln(1 − 1/30)) — the "how bad can a day get"
    capacity-planning number. Maxima quantize to exact micro-ints; both
    engines finish the fit in double on identical exact moments."""
    e = _t(spark, sf_dir, "events")
    blocks = e.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(86400000000)).cast("long").alias("day_id"),
    ).agg(
        F.max(F.floor(F.col("value") * 1.0e6 + 0.5).cast("long")).alias("m")
    )
    mom = blocks.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(F.col("m").cast("decimal(38,0)")).alias("sm"),
        F.sum(
            F.col("m").cast("decimal(19,0)") * F.col("m").cast("decimal(19,0)")
        ).alias("smm"),
    )
    mean_max = F.col("sm").cast("double") / 1.0e6 / F.col("n_blocks")
    beta = (
        F.sqrt(
            F.col("smm").cast("double") / 1.0e12 / F.col("n_blocks")
            - mean_max * mean_max
        )
        * F.sqrt(F.lit(6.0))
        / 3.141592653589793
    )
    gamma = 0.57721566490153286
    ret_mult = F.lit(-1.0) * F.log(F.lit(-1.0) * F.log(F.lit(1.0 - 1.0 / 30.0)))
    return mom.select(
        "event_type",
        "n_blocks",
        (F.floor((mean_max - gamma * beta) * 1.0e6 + 0.5) / 1.0e6).alias(
            "gumbel_loc"
        ),
        (F.floor(beta * 1.0e6 + 0.5) / 1.0e6).alias("gumbel_scale"),
        (
            F.floor(
                ((mean_max - gamma * beta) + beta * ret_mult) * 1.0e6 + 0.5
            )
            / 1.0e6
        ).alias("return_level_30"),
    )


# ---------------------------------------------------------------------------
# Wave E — ANN tuning, LM backoff, finance/ops round-out.
# ---------------------------------------------------------------------------
def _nprobe_arm_sql(nprobe: int) -> str:
    """One IVF arm of the recall curve at a given nprobe (query probes
    its `nprobe` nearest cells; corpus stays single-assigned)."""
    return f"""
      SELECT {nprobe} AS nprobe, b.query_id,
             CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hits
      FROM bf b
      LEFT JOIN (
        SELECT query_id, neighbor_id FROM (
          SELECT qa.query_id, ca.neighbor_id,
                 row_number() OVER (
                   PARTITION BY qa.query_id
                   ORDER BY round(list_cosine_similarity(qa.qv, ca.cv2), 4)
                              DESC,
                            ca.neighbor_id ASC
                 ) AS rank
          FROM (SELECT vec_id AS query_id, embedding AS qv, centroid_id
                FROM multi WHERE vec_id < 5 AND rn <= {nprobe}) qa
          JOIN (SELECT vec_id AS neighbor_id, embedding AS cv2, centroid_id
                FROM multi WHERE rn = 1) ca
            ON qa.centroid_id = ca.centroid_id
               AND ca.neighbor_id != qa.query_id
        ) WHERE rank <= 5
      ) i ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
      GROUP BY b.query_id
"""


_NPROBE_CURVE_ORACLE = f"""
    WITH cent AS (SELECT vec_id AS centroid_id,
                         CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings WHERE vec_id < 8),
    multi AS (
      SELECT v.vec_id, CAST(v.embedding AS DOUBLE[]) AS embedding,
             cent.centroid_id,
             row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY round(list_cosine_similarity(v.embedding, cent.cv), 4)
                          DESC,
                        cent.centroid_id ASC
             ) AS rn
      FROM embeddings v, cent
    ),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY round(list_cosine_similarity(qv, cv), 4) DESC,
                          neighbor_id ASC
               ) AS rank
        FROM q, c WHERE neighbor_id != query_id
      ) WHERE rank <= 5
    ),
    arms AS (
{_nprobe_arm_sql(1)}
      UNION ALL
{_nprobe_arm_sql(2)}
      UNION ALL
{_nprobe_arm_sql(4)}
    )
    SELECT CAST(nprobe AS BIGINT) AS nprobe,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(n_hits) AS BIGINT) AS total_hits,
           sum(n_hits) / (5.0 * count(*)) AS mean_recall_at_5
    FROM arms GROUP BY nprobe
"""


@register("similarity_ivf_nprobe_curve", oracle=_NPROBE_CURVE_ORACLE)
def similarity_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN tuning curve: mean recall@5 of the IVF index at nprobe ∈
    {1, 2, 4} against exact brute-force truth — THE plot you read before
    fixing an index configuration (recall rises with nprobe at
    proportional probe cost; the curve's knee picks the deployment
    point). Reuses operators/similarity.ivf_topk's multi-probe
    assignment; each arm's hit join is k·|queries| rows, broadcast;
    recall is an exact rational."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    centroids = emb.filter(F.col("vec_id") < 8)
    bf = brute_force_topk(queries, emb, k=5, round_dp=4).select(
        "query_id", "neighbor_id"
    )
    arms = None
    for nprobe in (1, 2, 4):
        ivf = ivf_topk(
            queries, emb, centroids, k=5, round_dp=4, nprobe=nprobe
        ).select("query_id", F.col("neighbor_id").alias("ivf_neighbor_id"))
        hits = (
            bf.join(
                ivf,
                (bf["query_id"] == ivf["query_id"])
                & (bf["neighbor_id"] == ivf["ivf_neighbor_id"]),
                "left",
            )
            .select(bf["query_id"].alias("qid"), "ivf_neighbor_id")
            .groupBy("qid")
            .agg(
                F.sum(
                    F.when(F.col("ivf_neighbor_id").isNotNull(), 1).otherwise(0)
                )
                .cast("long")
                .alias("n_hits")
            )
            .select(F.lit(nprobe).alias("nprobe"), "qid", "n_hits")
        )
        arms = hits if arms is None else arms.unionByName(hits)
    return arms.groupBy(F.col("nprobe").cast("long").alias("nprobe")).agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("n_hits").cast("long").alias("total_hits"),
        (F.sum("n_hits") / (5.0 * F.count(F.lit(1)))).alias("mean_recall_at_5"),
    )


@register(
    "lm_trigram_backoff_logprob",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    tg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
               AS t
      FROM w WHERE doc_id % 2 = 1
    ),
    train AS (SELECT words FROM w WHERE doc_id % 2 = 0),
    ttg AS (
      SELECT unnest(list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
               AS t
      FROM train
    ),
    tfreq AS (SELECT t, CAST(count(*) AS DOUBLE) AS ct FROM ttg GROUP BY t),
    tbg AS (
      SELECT unnest(list_transform(generate_series(1, greatest(len(words) - 1, 0)),
                    i -> words[i] || ' ' || words[i+1])) AS b
      FROM train
    ),
    bfreq AS (SELECT b, CAST(count(*) AS DOUBLE) AS cb FROM tbg GROUP BY b),
    tun AS (SELECT unnest(words) AS u FROM train),
    ufreq AS (SELECT u, CAST(count(*) AS DOUBLE) AS cu FROM tun GROUP BY u),
    n_tok AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tun),
    scored AS (
      SELECT tg.doc_id,
             CASE
               WHEN tf.ct IS NOT NULL AND bctx.cb IS NOT NULL
                 THEN ln(tf.ct / bctx.cb)
               WHEN btail.cb IS NOT NULL AND uctx.cu IS NOT NULL
                 THEN ln(0.4e0 * btail.cb / uctx.cu)
               WHEN utail.cu IS NOT NULL
                 THEN ln(0.16e0 * utail.cu / n_tok.n)
               ELSE ln(0.16e0 / n_tok.n)
             END AS lp,
             CASE WHEN tf.ct IS NOT NULL AND bctx.cb IS NOT NULL THEN 0
                  WHEN btail.cb IS NOT NULL AND uctx.cu IS NOT NULL THEN 1
                  ELSE 2 END AS level
      FROM tg
      CROSS JOIN n_tok
      LEFT JOIN tfreq tf ON tf.t = tg.t
      LEFT JOIN bfreq bctx
        ON bctx.b = split_part(tg.t, ' ', 1) || ' ' || split_part(tg.t, ' ', 2)
      LEFT JOIN bfreq btail
        ON btail.b = split_part(tg.t, ' ', 2) || ' ' || split_part(tg.t, ' ', 3)
      LEFT JOIN ufreq uctx ON uctx.u = split_part(tg.t, ' ', 2)
      LEFT JOIN ufreq utail ON utail.u = split_part(tg.t, ' ', 3)
    ),
    q AS (
      SELECT doc_id,
             CAST(floor(lp * 1.0e9 + 0.5) AS BIGINT) AS lpq, level
      FROM scored
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(sum(CASE WHEN level = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_backoff_bigram,
           CAST(sum(CASE WHEN level = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_backoff_unigram,
           floor(CAST(sum(lpq) AS DOUBLE) / 1.0e9 / count(*) * 1.0e6 + 0.5)
             / 1.0e6 AS avg_logprob_sb
    FROM q GROUP BY doc_id
    """,
)
def lm_trigram_backoff_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram scoring (Brants et al. 2007): held-out
    docs (odd ids) score against counts from the train half (even ids);
    unseen trigrams back off to 0.4·P(bigram), then 0.4²·P(unigram),
    with per-level usage counts in the output — the data-quality view
    of how much a corpus half explains the other. Frequency tables are
    vocabulary-sized broadcasts; per-term logprobs quantize to 1e-9
    before the exact sum (a raw double sum of ln() terms would be
    order-dependent)."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        word_shingles,
        words_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 2 == 1)
    tr = docs.filter(F.col("doc_id") % 2 == 0)
    tg = ev.select(
        "doc_id", F.explode(word_shingles(words_expr(F.col("text")), 3)).alias("t")
    )
    ttg = tr.select(
        F.explode(word_shingles(words_expr(F.col("text")), 3)).alias("t")
    )
    tfreq = ttg.groupBy("t").agg(F.count(F.lit(1)).cast("double").alias("ct"))
    tbg = tr.select(
        F.explode(word_shingles(words_expr(F.col("text")), 2)).alias("b")
    )
    bfreq = tbg.groupBy("b").agg(F.count(F.lit(1)).cast("double").alias("cb"))
    tun = tr.select(F.explode(words_expr(F.col("text"))).alias("u"))
    ufreq = tun.groupBy("u").agg(F.count(F.lit(1)).cast("double").alias("cu"))
    n_tok = tun.agg(F.count(F.lit(1)).cast("double").alias("n"))
    sp = lambda c, i: F.split_part(F.col(c), F.lit(" "), F.lit(i))  # noqa: E731
    scored = (
        tg.crossJoin(F.broadcast(n_tok))
        .join(F.broadcast(tfreq), "t", "left")
        .join(
            F.broadcast(bfreq.select(F.col("b").alias("bctx_b"), F.col("cb").alias("cb_ctx"))),
            F.concat_ws(" ", sp("t", 1), sp("t", 2)) == F.col("bctx_b"),
            "left",
        )
        .join(
            F.broadcast(bfreq.select(F.col("b").alias("btail_b"), F.col("cb").alias("cb_tail"))),
            F.concat_ws(" ", sp("t", 2), sp("t", 3)) == F.col("btail_b"),
            "left",
        )
        .join(
            F.broadcast(ufreq.select(F.col("u").alias("uctx_u"), F.col("cu").alias("cu_ctx"))),
            sp("t", 2) == F.col("uctx_u"),
            "left",
        )
        .join(
            F.broadcast(ufreq.select(F.col("u").alias("utail_u"), F.col("cu").alias("cu_tail"))),
            sp("t", 3) == F.col("utail_u"),
            "left",
        )
    )
    tri_hit = F.col("ct").isNotNull() & F.col("cb_ctx").isNotNull()
    bi_hit = F.col("cb_tail").isNotNull() & F.col("cu_ctx").isNotNull()
    lp = (
        F.when(tri_hit, F.log(F.col("ct") / F.col("cb_ctx")))
        .when(bi_hit, F.log(0.4 * F.col("cb_tail") / F.col("cu_ctx")))
        .when(
            F.col("cu_tail").isNotNull(),
            F.log(0.16 * F.col("cu_tail") / F.col("n")),
        )
        .otherwise(F.log(0.16 / F.col("n")))
    )
    level = (
        F.when(tri_hit, 0).when(bi_hit, 1).otherwise(2)
    )
    q = scored.select(
        "doc_id",
        F.floor(lp * 1.0e9 + 0.5).cast("long").alias("lpq"),
        level.alias("level"),
    )
    return q.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_trigrams"),
        F.sum(F.when(F.col("level") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_backoff_bigram"),
        F.sum(F.when(F.col("level") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n_backoff_unigram"),
        (
            F.floor(
                F.sum("lpq").cast("double")
                / 1.0e9
                / F.count(F.lit(1))
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("avg_logprob_sb"),
    )


@register(
    "orders_backlog_aging",
    oracle="""
    WITH ref AS (SELECT max(o_orderdate) AS ref_date FROM orders),
    open_o AS (
      SELECT date_diff('day', o.o_orderdate, r.ref_date) AS age_days,
             CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders o CROSS JOIN ref r
      WHERE o.o_orderstatus = 'O'
    )
    SELECT CASE WHEN age_days <= 30 THEN '0-30'
                WHEN age_days <= 90 THEN '31-90'
                WHEN age_days <= 365 THEN '91-365'
                ELSE '365+' END AS age_bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS value_cents
    FROM open_o GROUP BY 1
    """,
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounts-receivable-style backlog aging: OPEN orders bucketed by
    age at the corpus reference date (max order date — a 1-row
    broadcast, no driver collect), with counts and exact integer-cent
    value per bucket. Day arithmetic is exact integer date difference
    on both engines."""
    o = _t(spark, sf_dir, "orders")
    ref = o.agg(F.max("o_orderdate").alias("ref_date"))
    open_o = (
        o.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(ref))
        .select(
            F.datediff(F.col("ref_date"), F.col("o_orderdate")).alias(
                "age_days"
            ),
            F.floor(F.col("o_totalprice") * 100.0 + 0.5)
            .cast("long")
            .alias("cents"),
        )
    )
    bucket = (
        F.when(F.col("age_days") <= 30, "0-30")
        .when(F.col("age_days") <= 90, "31-90")
        .when(F.col("age_days") <= 365, "91-365")
        .otherwise("365+")
    )
    return open_o.groupBy(bucket.alias("age_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("value_cents"),
    )


@register(
    "lineitem_price_index_laspeyres",
    oracle="""
    WITH m AS (
      SELECT l_partkey AS pk,
             year(l_shipdate) * 12 + month(l_shipdate) AS month_id,
             CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY 1, 2
    ), base AS (
      SELECT pk, cents AS cents0, qty AS qty0
      FROM m JOIN (SELECT min(month_id) AS m0 FROM m) ON month_id = m0
    ), priced AS (
      SELECT m.month_id,
             CAST(floor(CAST(m.cents AS DOUBLE) / m.qty * 1.0e4 + 0.5)
                  AS BIGINT) AS p_t,            -- unit price, 1e-4 cents
             CAST(floor(CAST(b.cents0 AS DOUBLE) / b.qty0 * 1.0e4 + 0.5)
                  AS BIGINT) AS p_0,
             b.qty0
      FROM m JOIN base b ON m.pk = b.pk
    )
    SELECT CAST(month_id AS BIGINT) AS month_id,
           CAST(count(*) AS BIGINT) AS n_parts,
           floor(CAST(sum(p_t * qty0) AS DOUBLE)
                 / CAST(sum(p_0 * qty0) AS DOUBLE) * 1.0e6 + 0.5) / 1.0e6
             AS laspeyres_index
    FROM priced GROUP BY month_id
    """,
)
def lineitem_price_index_laspeyres(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index by ship month: Σp_t·q₀ / Σp₀·q₀ over parts
    present in both the base (first) month and month t — the
    fixed-basket inflation measure. Unit prices quantize to exact
    1e-4-cent ints BEFORE the cross products (products of quantized
    ints sum exactly as longs), so the index is a division of two exact
    integers. Base-month basket is part-keyed and broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    m = li.groupBy(
        F.col("l_partkey").alias("pk"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("month_id"),
    ).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("cents"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
    )
    m0 = m.agg(F.min("month_id").alias("m0"))
    base = (
        m.crossJoin(F.broadcast(m0))
        .filter(F.col("month_id") == F.col("m0"))
        .select(
            "pk", F.col("cents").alias("cents0"), F.col("qty").alias("qty0")
        )
    )
    priced = m.join(base, "pk").select(
        "month_id",
        F.floor(F.col("cents").cast("double") / F.col("qty") * 1.0e4 + 0.5)
        .cast("long")
        .alias("p_t"),
        F.floor(F.col("cents0").cast("double") / F.col("qty0") * 1.0e4 + 0.5)
        .cast("long")
        .alias("p_0"),
        "qty0",
    )
    return priced.groupBy(F.col("month_id").cast("long").alias("month_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        (
            F.floor(
                F.sum(F.col("p_t") * F.col("qty0")).cast("double")
                / F.sum(F.col("p_0") * F.col("qty0")).cast("double")
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("laspeyres_index"),
    )


@register(
    "quality_filter_funnel",
    oracle="""
    WITH feats AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS wc,
             n_chars,
             len(list_distinct(list_filter(string_split(text, ' '),
                 w -> list_contains(['a','the','and','of','to','in'], w))))
               AS n_stop,
             len(list_distinct(string_split(text, ' '))) AS n_distinct
      FROM documents
    ), rules AS (
      SELECT doc_id,
             wc >= 10 AS r1,
             -- mean word length in [3, 10]: cross-multiplied ints
             (n_chars - wc + 1) >= 3 * wc AND (n_chars - wc + 1) <= 10 * wc
               AS r2,
             n_stop >= 2 AS r3,
             10 * n_distinct >= 3 * wc AS r4
      FROM feats
    ), marks AS (
      SELECT doc_id,
             CASE WHEN r1 THEN 1 ELSE 0 END AS s1,
             CASE WHEN r1 AND r2 THEN 1 ELSE 0 END AS s2,
             CASE WHEN r1 AND r2 AND r3 THEN 1 ELSE 0 END AS s3,
             CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END AS s4
      FROM rules
    )
    SELECT stage, n_pass,
           floor(n_pass * 1.0e6 / n_total + 0.5) / 1.0e6 AS pass_rate
    FROM (
      SELECT 'all' AS stage, CAST(count(*) AS BIGINT) AS n_pass,
             CAST(count(*) AS BIGINT) AS n_total FROM marks
      UNION ALL SELECT '1_min_words', CAST(sum(s1) AS BIGINT),
             CAST(count(*) AS BIGINT) FROM marks
      UNION ALL SELECT '2_word_len', CAST(sum(s2) AS BIGINT),
             CAST(count(*) AS BIGINT) FROM marks
      UNION ALL SELECT '3_stopwords', CAST(sum(s3) AS BIGINT),
             CAST(count(*) AS BIGINT) FROM marks
      UNION ALL SELECT '4_distinct_ratio', CAST(sum(s4) AS BIGINT),
             CAST(count(*) AS BIGINT) FROM marks
    )
    """,
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential quality-filter attrition (the Gopher-rule funnel):
    how many documents survive each successive gate — minimum word
    count, mean-word-length band (cross-multiplied integer comparison,
    no float ratio), minimum distinct stopwords, distinct-word ratio.
    The per-doc pass is one narrow row-local projection; the funnel is
    one tiny agg (grouping-sets shape via union). The stagewise counts
    are what a pipeline dashboard plots to see WHICH rule eats the
    corpus."""
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    stop = F.array(*[F.lit(s) for s in ["a", "the", "and", "of", "to", "in"]])
    feats = d.select(
        "doc_id",
        F.size(words).alias("wc"),
        F.col("n_chars"),
        F.size(
            F.array_distinct(
                F.filter(words, lambda w: F.array_contains(stop, w))
            )
        ).alias("n_stop"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
    )
    ml = F.col("n_chars") - F.col("wc") + 1
    rules = feats.select(
        "doc_id",
        (F.col("wc") >= 10).alias("r1"),
        ((ml >= 3 * F.col("wc")) & (ml <= 10 * F.col("wc"))).alias("r2"),
        (F.col("n_stop") >= 2).alias("r3"),
        (10 * F.col("n_distinct") >= 3 * F.col("wc")).alias("r4"),
    )
    marks = rules.select(
        F.when(F.col("r1"), 1).otherwise(0).alias("s1"),
        F.when(F.col("r1") & F.col("r2"), 1).otherwise(0).alias("s2"),
        F.when(F.col("r1") & F.col("r2") & F.col("r3"), 1)
        .otherwise(0)
        .alias("s3"),
        F.when(F.col("r1") & F.col("r2") & F.col("r3") & F.col("r4"), 1)
        .otherwise(0)
        .alias("s4"),
    )
    agg = marks.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum("s1").cast("long").alias("p1"),
        F.sum("s2").cast("long").alias("p2"),
        F.sum("s3").cast("long").alias("p3"),
        F.sum("s4").cast("long").alias("p4"),
    )
    stages = None
    for stage, col in (
        ("all", "n_total"),
        ("1_min_words", "p1"),
        ("2_word_len", "p2"),
        ("3_stopwords", "p3"),
        ("4_distinct_ratio", "p4"),
    ):
        row = agg.select(
            F.lit(stage).alias("stage"),
            F.col(col).alias("n_pass"),
            (
                F.floor(F.col(col) * 1.0e6 / F.col("n_total") + 0.5) / 1.0e6
            ).alias("pass_rate"),
        )
        stages = row if stages is None else stages.unionByName(row)
    return stages


@register(
    "events_record_breaks",
    oracle="""
    WITH seq AS (
      SELECT event_type, value,
             max(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS prior_max
      FROM events
    ), marked AS (
      SELECT event_type,
             CASE WHEN prior_max IS NULL OR value > prior_max THEN 1 ELSE 0
               END AS is_record
      FROM seq
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(is_record) AS BIGINT) AS n_records,
           floor((ln(CAST(count(*) AS DOUBLE)) + 0.57721566490153286e0)
                 * 1.0e6 + 0.5) / 1.0e6 AS expected_iid,
           floor(sum(is_record) * 1.0e6
                 / (ln(CAST(count(*) AS DOUBLE)) + 0.57721566490153286e0)
                 + 0.5) / 1.0e6 AS record_excess_ratio
    FROM marked GROUP BY event_type
    """,
)
def events_record_breaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-breaking event counts per type vs the exchangeable-i.i.d.
    expectation H_n ≈ ln n + γ: a ratio ≫ 1 means the series trends
    upward (records keep falling), ≪ 1 means early saturation — a
    distribution-free trend test. One ordered window per type (running
    max over the preceding frame), one agg."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = e.select(
        "event_type",
        F.when(
            F.max("value").over(w).isNull()
            | (F.col("value") > F.max("value").over(w)),
            1,
        )
        .otherwise(0)
        .alias("is_record"),
    )
    gamma = 0.57721566490153286
    hn = F.log(F.count(F.lit(1)).cast("double")) + gamma
    return marked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("is_record").cast("long").alias("n_records"),
        (F.floor(hn * 1.0e6 + 0.5) / 1.0e6).alias("expected_iid"),
        (F.floor(F.sum("is_record") * 1.0e6 / hn + 0.5) / 1.0e6).alias(
            "record_excess_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# Wave F — sketch/split/session audits: KMV distinct sketches, temporal
# split leakage, sessionization-threshold sensitivity.
# ---------------------------------------------------------------------------
@register(
    "sketch_kmv_distinct",
    oracle="""
    WITH du AS (
      SELECT DISTINCT epoch_us(ts) // 86400000000 AS day_id, user_id
      FROM events
    ), hashed AS (
      SELECT day_id, user_id,
             (user_id * 2654435761) % 4294967296 AS h
      FROM du
    ), ranked AS (
      SELECT day_id, h,
             row_number() OVER (PARTITION BY day_id ORDER BY h, user_id)
               AS rn,
             CAST(count(*) OVER (PARTITION BY day_id) AS BIGINT)
               AS exact_distinct
      FROM hashed
    )
    SELECT CAST(day_id AS BIGINT) AS day_id, exact_distinct,
           CAST(CASE WHEN exact_distinct <= 64 THEN exact_distinct
                ELSE CAST(floor(63.0e0 * 4294967296.0e0 / max(h) + 0.5)
                          AS BIGINT) END AS BIGINT) AS kmv_estimate
    FROM ranked
    WHERE rn <= 64
    GROUP BY day_id, exact_distinct
    """,
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch per day,
    k = 64, audited against the exact count — the order-sketch
    alternative to HLL (mergeable by unioning bottom-k sets; estimate
    (k−1)/u_(k)). The hash is the Knuth multiplicative LCG on the
    integer key — pure modular arithmetic, bit-identical on both
    engines (md5 hex can't be ranked numerically in portable SQL).
    Exact-cover fallback when a day has ≤ k users (the estimator is
    exact there by construction)."""
    e = _t(spark, sf_dir, "events")
    du = e.select(
        (F.unix_micros("ts") / F.lit(86400000000)).cast("long").alias("day_id"),
        "user_id",
    ).distinct()
    hashed = du.select(
        "day_id",
        "user_id",
        ((F.col("user_id") * F.lit(2654435761)) % F.lit(4294967296)).alias("h"),
    )
    w = Window.partitionBy("day_id").orderBy("h", "user_id")
    wall = Window.partitionBy("day_id")
    ranked = hashed.select(
        "day_id",
        "h",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).cast("long").alias("exact_distinct"),
    ).filter(F.col("rn") <= 64)
    return ranked.groupBy("day_id", "exact_distinct").agg(
        F.when(F.col("exact_distinct") <= 64, F.col("exact_distinct"))
        .otherwise(
            F.floor(63.0 * 4294967296.0 / F.max("h") + 0.5).cast("long")
        )
        .cast("long")
        .alias("kmv_estimate")
    ).select(
        F.col("day_id").cast("long").alias("day_id"),
        "exact_distinct",
        "kmv_estimate",
    )


@register(
    "temporal_split_leakage_audit",
    oracle="""
    WITH bounds AS (
      SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events
    ), marked AS (
      SELECT e.user_id,
             CASE WHEN epoch_us(e.ts) <
                       b.mn + CAST(floor((b.mx - b.mn) * 0.8e0) AS BIGINT)
                  THEN 'train' ELSE 'test' END AS split
      FROM events e CROSS JOIN bounds b
    ), sides AS (
      SELECT split, CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM marked GROUP BY split
    ), overlap AS (
      SELECT CAST(count(*) AS BIGINT) AS n_overlap FROM (
        SELECT user_id FROM marked GROUP BY user_id
        HAVING count(DISTINCT split) = 2
      )
    )
    SELECT s.split, s.n_events, s.n_users, o.n_overlap,
           floor(o.n_overlap * 1.0e6 / s.n_users + 0.5) / 1.0e6
             AS overlap_frac
    FROM sides s CROSS JOIN overlap o
    """,
)
def temporal_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal 80/20 train/test split (cutoff at 80 % of the exact
    integer-µs time span — a 1-row broadcast, no driver collect) with
    the user-leakage audit every time-series eval needs: how many users
    appear on BOTH sides of the cutoff (their test rows are
    user-history-contaminated for per-user models). Side stats + one
    distinct-splits-per-user aggregate."""
    e = _t(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    )
    marked = e.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.when(
            F.unix_micros("ts")
            < F.col("mn")
            + F.floor((F.col("mx") - F.col("mn")) * 0.8).cast("long"),
            "train",
        )
        .otherwise("test")
        .alias("split"),
    )
    sides = marked.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    overlap = (
        marked.groupBy("user_id")
        .agg(F.countDistinct("split").alias("n_sides"))
        .filter(F.col("n_sides") == 2)
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    return sides.crossJoin(F.broadcast(overlap)).select(
        "split",
        "n_events",
        "n_users",
        "n_overlap",
        (
            F.floor(F.col("n_overlap") * 1.0e6 / F.col("n_users") + 0.5)
            / 1.0e6
        ).alias("overlap_frac"),
    )


@register(
    "sessionize_gap_sensitivity",
    oracle="""
    WITH deltas AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d_us
      FROM events
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(sum(CASE WHEN d_us > 900000000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b15,
             CAST(sum(CASE WHEN d_us > 1800000000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b30,
             CAST(sum(CASE WHEN d_us > 3600000000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b60
      FROM deltas
    )
    SELECT gap_minutes, n_sessions,
           floor(n_events * 1.0e6 / n_sessions + 0.5) / 1.0e6
             AS avg_events_per_session
    FROM (
      SELECT 15 AS gap_minutes, n_users + b15 AS n_sessions, n_events FROM agg
      UNION ALL
      SELECT 30, n_users + b30, n_events FROM agg
      UNION ALL
      SELECT 60, n_users + b60, n_events FROM agg
    )
    """,
)
def sessionize_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization parameter sweep: session counts and mean session
    size at 15/30/60-minute inactivity gaps, from ONE per-user ordered
    window pass (three conditional sums over the same lag deltas) — the
    sensitivity table you check before fixing a session timeout.
    Sessions = users + gap-breaks, all exact integers."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    deltas = e.select(
        "user_id",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
            "d_us"
        ),
    )
    agg = deltas.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(F.when(F.col("d_us") > 900000000, 1).otherwise(0))
        .cast("long")
        .alias("b15"),
        F.sum(F.when(F.col("d_us") > 1800000000, 1).otherwise(0))
        .cast("long")
        .alias("b30"),
        F.sum(F.when(F.col("d_us") > 3600000000, 1).otherwise(0))
        .cast("long")
        .alias("b60"),
    )
    rows = None
    for mins, col in ((15, "b15"), (30, "b30"), (60, "b60")):
        r = agg.select(
            F.lit(mins).cast("int").alias("gap_minutes"),
            (F.col("n_users") + F.col(col)).cast("long").alias("n_sessions"),
            (
                F.floor(
                    F.col("n_events")
                    * 1.0e6
                    / (F.col("n_users") + F.col(col))
                    + 0.5
                )
                / 1.0e6
            ).alias("avg_events_per_session"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows


# ---------------------------------------------------------------------------
# Wave G — imputation/quantization/distribution audits.
# ---------------------------------------------------------------------------
@register(
    "events_mean_imputation_audit",
    oracle="""
    WITH marked AS (
      SELECT event_type,
             CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) AS v,
             event_id % 7 = 0 AS missing
      FROM events
    ), agg AS (
      SELECT event_type,
             CAST(sum(CASE WHEN missing THEN 1 ELSE 0 END) AS BIGINT)
               AS n_miss,
             CAST(sum(CASE WHEN missing THEN 0 ELSE 1 END) AS BIGINT)
               AS n_obs,
             CAST(sum(CASE WHEN missing THEN 0 ELSE v END) AS HUGEINT) AS s,
             CAST(sum(CASE WHEN missing THEN 0 ELSE v*v END) AS HUGEINT)
               AS ss
      FROM marked GROUP BY event_type
    ), stats AS (
      SELECT event_type, n_miss, n_obs,
             CAST(s AS DOUBLE) / 1.0e6 / n_obs AS mean_obs,
             CAST(ss AS DOUBLE) / 1.0e12 / n_obs
               - (CAST(s AS DOUBLE) / 1.0e6 / n_obs)
                 * (CAST(s AS DOUBLE) / 1.0e6 / n_obs) AS var_obs
      FROM agg
    )
    SELECT event_type, n_obs, n_miss,
           floor(mean_obs * 1.0e6 + 0.5) / 1.0e6 AS mean_obs,
           floor(var_obs * 1.0e6 + 0.5) / 1.0e6 AS var_obs,
           -- mean-imputed variance: same sum of squares + n_miss copies
           -- of the mean, over n_obs + n_miss rows
           floor((var_obs * n_obs / (n_obs + n_miss)) * 1.0e6 + 0.5) / 1.0e6
             AS var_imputed,
           floor((CAST(n_obs AS DOUBLE) / (n_obs + n_miss)) * 1.0e6 + 0.5)
             / 1.0e6 AS variance_shrink_factor
    FROM stats
    """,
)
def events_mean_imputation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-imputation bias audit: with a deterministic 1-in-7
    missingness mask, per-type mean imputation leaves the mean fixed
    but shrinks the variance by exactly n_obs/(n_obs+n_miss) — the
    audit quantifies that artifact per type (the reason imputation
    pipelines must track imputed-row masks). Exact micro-int sums;
    the shrink factor is an exact rational."""
    e = _t(spark, sf_dir, "events")
    marked = e.select(
        "event_type",
        F.floor(F.col("value") * 1.0e6 + 0.5).cast("long").alias("v"),
        (F.col("event_id") % 7 == 0).alias("missing"),
    )
    agg = marked.groupBy("event_type").agg(
        F.sum(F.when(F.col("missing"), 1).otherwise(0))
        .cast("long")
        .alias("n_miss"),
        F.sum(F.when(F.col("missing"), 0).otherwise(1))
        .cast("long")
        .alias("n_obs"),
        F.sum(
            F.when(F.col("missing"), F.lit(0).cast("decimal(38,0)")).otherwise(
                F.col("v").cast("decimal(38,0)")
            )
        ).alias("s"),
        F.sum(
            F.when(F.col("missing"), F.lit(0).cast("decimal(38,0)")).otherwise(
                F.col("v").cast("decimal(19,0)") * F.col("v").cast("decimal(19,0)")
            )
        ).alias("ss"),
    )
    mean_obs = F.col("s").cast("double") / 1.0e6 / F.col("n_obs")
    var_obs = (
        F.col("ss").cast("double") / 1.0e12 / F.col("n_obs")
        - mean_obs * mean_obs
    )
    n_tot = F.col("n_obs") + F.col("n_miss")
    return agg.select(
        "event_type",
        "n_obs",
        "n_miss",
        (F.floor(mean_obs * 1.0e6 + 0.5) / 1.0e6).alias("mean_obs"),
        (F.floor(var_obs * 1.0e6 + 0.5) / 1.0e6).alias("var_obs"),
        (
            F.floor(var_obs * F.col("n_obs") / n_tot * 1.0e6 + 0.5) / 1.0e6
        ).alias("var_imputed"),
        (
            F.floor(F.col("n_obs").cast("double") / n_tot * 1.0e6 + 0.5)
            / 1.0e6
        ).alias("variance_shrink_factor"),
    )


@register(
    "similarity_int8_recall_audit",
    oracle="""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             127.0e0 / list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                               x -> abs(x))) AS scale
      FROM embeddings
    ), recon AS (
      SELECT vec_id, v,
             list_transform(v, x -> floor(x * scale + 0.5) / scale) AS r
      FROM base
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, r AS qr FROM recon
          WHERE vec_id < 5),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(q.qv, c.v), 4) DESC,
                          c.vec_id ASC) AS rank
        FROM q, recon c WHERE c.vec_id != q.query_id
      ) WHERE rank <= 5
    ),
    q8 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(q.qr, c.r), 4) DESC,
                          c.vec_id ASC) AS rank
        FROM q, recon c WHERE c.vec_id != q.query_id
      ) WHERE rank <= 5
    )
    SELECT b.query_id,
           CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0
             AS recall_at_5
    FROM bf b
    LEFT JOIN q8 i ON i.query_id = b.query_id
                  AND i.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def similarity_int8_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval impact of int8 quantization: top-5 by exact float
    cosine vs top-5 after symmetric per-vector int8 round-trip
    (q = round(127·x/max|x|), reconstructed q/scale) — the recall@5
    overlap is the number that says whether 4× memory compression is
    free for THIS corpus. Brute force on both arms (5 queries ×
    corpus), rounded-cosine id-tiebroken ranking."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    scale = 127.0 / F.array_max(F.transform(v, lambda x: F.abs(x)))
    recon = emb.select(
        "vec_id",
        v.alias("v"),
        F.transform(v, lambda x: F.floor(x * scale + 0.5) / scale).alias("r"),
    )
    qf = recon.filter(F.col("vec_id") < 5).select("vec_id", F.col("v").alias("embedding"))
    cf = recon.select("vec_id", F.col("v").alias("embedding"))
    bf = brute_force_topk(qf, cf, k=5, round_dp=4).select(
        "query_id", "neighbor_id"
    )
    qq = recon.filter(F.col("vec_id") < 5).select("vec_id", F.col("r").alias("embedding"))
    cq = recon.select("vec_id", F.col("r").alias("embedding"))
    i8 = brute_force_topk(qq, cq, k=5, round_dp=4).select(
        "query_id", F.col("neighbor_id").alias("q_neighbor_id")
    )
    hits = bf.join(
        i8,
        (bf["query_id"] == i8["query_id"])
        & (bf["neighbor_id"] == i8["q_neighbor_id"]),
        "left",
    ).select(bf["query_id"].alias("qid"), "q_neighbor_id")
    n_hits = F.sum(F.when(F.col("q_neighbor_id").isNotNull(), 1).otherwise(0))
    return hits.groupBy(F.col("qid").alias("query_id")).agg(
        n_hits.cast("long").alias("n_hits"),
        (n_hits / 5.0).alias("recall_at_5"),
    )


@register(
    "orders_lognormal_fit_audit",
    oracle="""
    WITH lx AS (
      SELECT o_orderpriority AS priority,
             CAST(floor(ln(o_totalprice) * 1.0e9 + 0.5) AS BIGINT) AS lq,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), mom AS (
      SELECT priority, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(lq) AS HUGEINT) AS s,
             sum(CAST(lq AS HUGEINT) * CAST(lq AS HUGEINT)) AS ss,
             CAST(sum(cents) AS HUGEINT) AS sc
      FROM lx GROUP BY priority
    ), fit AS (
      SELECT priority, n,
             CAST(s AS DOUBLE) / 1.0e9 / n AS mu,
             sqrt(CAST(ss AS DOUBLE) / 1.0e18 / n
                  - (CAST(s AS DOUBLE) / 1.0e9 / n)
                    * (CAST(s AS DOUBLE) / 1.0e9 / n)) AS sigma,
             CAST(sc AS DOUBLE) / 100.0 / n AS actual_mean
      FROM mom
    ), probe AS (
      SELECT l.priority,
             CAST(sum(CASE WHEN exp(f.mu) * 100.0 > l.cents THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_below_median
      FROM lx l JOIN fit f USING (priority)
      GROUP BY l.priority
    )
    SELECT f.priority, f.n,
           floor(f.mu * 1.0e6 + 0.5) / 1.0e6 AS mu,
           floor(f.sigma * 1.0e6 + 0.5) / 1.0e6 AS sigma,
           floor(exp(f.mu + f.sigma*f.sigma/2.0e0) * 1.0e2 + 0.5) / 1.0e2
             AS fitted_mean,
           floor(f.actual_mean * 1.0e2 + 0.5) / 1.0e2 AS actual_mean,
           floor(p.n_below_median * 1.0e6 / f.n + 0.5) / 1.0e6
             AS frac_below_fitted_median
    FROM fit f JOIN probe p USING (priority)
    """,
)
def orders_lognormal_fit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lognormal fit of order value per priority (μ, σ of ln X by exact
    quantized moments) with two goodness probes: the fitted mean
    e^{μ+σ²/2} against the actual mean, and the empirical mass below
    the fitted median e^μ (0.5 under a perfect fit) — the
    distribution-modeling sanity check before using a parametric tail.
    Per-term 1e-9 log quantization keeps the moment sums
    order-independent; one extra pass scores the median probe."""
    o = _t(spark, sf_dir, "orders")
    lx = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.log(F.col("o_totalprice")) * 1.0e9 + 0.5)
        .cast("long")
        .alias("lq"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    mom = lx.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("lq").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.col("lq").cast("decimal(19,0)") * F.col("lq").cast("decimal(19,0)")
        ).alias("ss"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("sc"),
    )
    mu = F.col("s").cast("double") / 1.0e9 / F.col("n")
    sigma = F.sqrt(
        F.col("ss").cast("double") / 1.0e18 / F.col("n") - mu * mu
    )
    fit = mom.select(
        "priority",
        "n",
        mu.alias("mu"),
        sigma.alias("sigma"),
        (F.col("sc").cast("double") / 100.0 / F.col("n")).alias("actual_mean"),
    )
    probe = (
        lx.join(F.broadcast(fit.select("priority", "mu")), "priority")
        .groupBy("priority")
        .agg(
            F.sum(
                F.when(F.exp(F.col("mu")) * 100.0 > F.col("cents"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_below_median")
        )
    )
    return fit.join(probe, "priority").select(
        "priority",
        "n",
        (F.floor(F.col("mu") * 1.0e6 + 0.5) / 1.0e6).alias("mu"),
        (F.floor(F.col("sigma") * 1.0e6 + 0.5) / 1.0e6).alias("sigma"),
        (
            F.floor(
                F.exp(F.col("mu") + F.col("sigma") * F.col("sigma") / 2.0)
                * 1.0e2
                + 0.5
            )
            / 1.0e2
        ).alias("fitted_mean"),
        (F.floor(F.col("actual_mean") * 1.0e2 + 0.5) / 1.0e2).alias(
            "actual_mean"
        ),
        (
            F.floor(F.col("n_below_median") * 1.0e6 / F.col("n") + 0.5) / 1.0e6
        ).alias("frac_below_fitted_median"),
    )


# ---------------------------------------------------------------------------
# Wave H — inventory/graph/two-way-variance round-out.
# ---------------------------------------------------------------------------
@register(
    "part_abc_xyz_matrix",
    oracle="""
    WITH pm AS (
      SELECT l_partkey AS pk,
             year(l_shipdate) * 12 + month(l_shipdate) AS month_id,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
             CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY 1, 2
    ), per_part AS (
      SELECT pk, CAST(sum(cents) AS BIGINT) AS total_cents,
             CAST(count(*) AS BIGINT) AS n_months,
             CAST(sum(qty) AS HUGEINT) AS sq,
             sum(CAST(qty AS HUGEINT) * CAST(qty AS HUGEINT)) AS sqq
      FROM pm GROUP BY pk
    ), abc AS (
      SELECT pk, total_cents, n_months, sq, sqq,
             sum(total_cents) OVER (ORDER BY total_cents DESC, pk
                                    ROWS UNBOUNDED PRECEDING) AS cum_cents,
             sum(total_cents) OVER () AS all_cents
      FROM per_part
    ), classed AS (
      SELECT CASE WHEN cum_cents * 10 <= all_cents * 8 THEN 'A'
                  WHEN cum_cents * 100 <= all_cents * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             CASE
               WHEN n_months < 2 THEN 'Z'
               ELSE CASE
                 WHEN (CAST(sqq AS DOUBLE) * n_months
                       - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                      * 4 <= CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)
                   THEN 'X'
                 WHEN (CAST(sqq AS DOUBLE) * n_months
                       - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                      <= CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)
                   THEN 'Y'
                 ELSE 'Z'
               END
             END AS xyz_class
      FROM abc
    )
    SELECT abc_class, xyz_class, CAST(count(*) AS BIGINT) AS n_parts
    FROM classed GROUP BY 1, 2
    """,
)
def part_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC×XYZ inventory classification: parts ranked by revenue share
    (A = first 80 %, B = to 95 %, C = rest) crossed with monthly-demand
    variability (X: CV ≤ 0.5, Y: CV ≤ 1, Z: else or < 2 months) — the
    2-D segmentation purchasing planners drive stocking policy from.
    CV thresholds are cross-multiplied exact comparisons
    (n·Σq² − (Σq)² vs multiples of (Σq)² — no float CV); the ABC
    running share comes from ranked_cumsum_two_pass (round-9
    migration: the part-level aggregate scales with SF, so a global
    cumulative window would sort it in one task) and the grand total
    from a 1-row broadcast aggregate."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    li = _t(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        F.col("l_partkey").alias("pk"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("month_id"),
    ).agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
        F.sum(F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("cents"),
    )
    per_part = pm.groupBy("pk").agg(
        F.sum("cents").cast("long").alias("total_cents"),
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.sum(F.col("qty").cast("decimal(38,0)")).alias("sq"),
        F.sum(
            F.col("qty").cast("decimal(19,0)") * F.col("qty").cast("decimal(19,0)")
        ).alias("sqq"),
    # The two-level lineitem rollup feeds four consumers (grand total,
    # bucket min/max, bucket stats, the ranked join); AQE's exchange
    # reuse collapses the duplicates (a lazy localCheckpoint was
    # measured at only 2.2 -> 2.0 s at sf0.1 — the (part, month)
    # rollup itself is the ~1 s floor, not recomputation).
    )
    tot = per_part.agg(
        F.sum("total_cents").cast("long").alias("all_cents")
    )
    abc = ranked_cumsum_two_pass(
        per_part, "total_cents", "pk",
        out_rank="__rk_unused", out_cum="cum_cents",
    ).drop("__rk_unused").crossJoin(F.broadcast(tot))
    var_num = (
        F.col("sqq").cast("double") * F.col("n_months")
        - F.col("sq").cast("double") * F.col("sq").cast("double")
    )
    sq2 = F.col("sq").cast("double") * F.col("sq").cast("double")
    classed = abc.select(
        F.when(F.col("cum_cents") * 10 <= F.col("all_cents") * 8, "A")
        .when(F.col("cum_cents") * 100 <= F.col("all_cents") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        F.when(F.col("n_months") < 2, "Z")
        .when(var_num * 4 <= sq2, "X")
        .when(var_num <= sq2, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    return classed.groupBy("abc_class", "xyz_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )


@register(
    "graph_degree_powerlaw_fit",
    oracle="""
    WITH e AS (
      SELECT pa AS a, pb AS b FROM (
        SELECT x.l_partkey AS pa, y.l_partkey AS pb,
               count(*) AS support
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) x
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2
      ) WHERE support >= 2
    ), deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT a AS v FROM e UNION ALL SELECT b FROM e
      ) GROUP BY v
    ), dist AS (
      SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes FROM deg
      GROUP BY degree
    ), pts AS (
      SELECT CAST(floor(ln(CAST(degree AS DOUBLE)) * 1.0e6 + 0.5) AS BIGINT)
               AS x,
             CAST(floor(ln(CAST(n_nodes AS DOUBLE)) * 1.0e6 + 0.5) AS BIGINT)
               AS y
      FROM dist
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             sum(CAST(x AS HUGEINT)*CAST(x AS HUGEINT)) AS sxx,
             sum(CAST(x AS HUGEINT)*CAST(y AS HUGEINT)) AS sxy
      FROM pts
    )
    SELECT n AS n_degree_levels,
           floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                 / NULLIF(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE), 0.0)
                 * 1.0e6 + 0.5) / 1.0e6 AS loglog_slope
    FROM s
    """,
)
def graph_degree_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution power-law exponent estimate: OLS slope of
    ln(count) on ln(degree) over the degree histogram of the
    co-purchase graph (a scale-free network shows slope ≈ −(α−1);
    near-flat means no hub structure). The histogram is ≤ max-degree
    rows; log points quantize to exact micro-ints before the moment
    sums (the zipf-slope idiom on the graph domain)."""
    e = _copurchase_edges_r9(spark, sf_dir)
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    dist = deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    pts = dist.select(
        F.floor(F.log(F.col("degree").cast("double")) * 1.0e6 + 0.5)
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("n_nodes").cast("double")) * 1.0e6 + 0.5)
        .cast("long")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(
            F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
        ).alias("sxx"),
        F.sum(
            F.col("x").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)")
        ).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    return s.select(
        F.col("n").alias("n_degree_levels"),
        (
            F.floor(
                (nd * sxy - sx * sy)
                / F.nullif(nd * sxx - sx * sx, F.lit(0.0))
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("loglog_slope"),
    )


def _copurchase_edges_r9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared support>=2 co-purchase edge list (same construction
    as staged_r8's wave M; duplicated here so the parked modules stay
    import-independent after activation ordering)."""
    # Round-14: shared collect_set pair-generation derivation (one
    # exchange + in-array pair explode, no distinct+self-join) —
    # operators/graphs.py::copurchase_pair_support.
    from cioos_siooc_data_transform_spark.operators.graphs import (
        copurchase_pair_support,
    )

    li = _t(spark, sf_dir, "lineitem")
    return (
        copurchase_pair_support(li.select("l_orderkey", "l_partkey"))
        .filter(F.col("support") >= 2)
        .select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    )


@register(
    "events_weekday_hour_twoway_anova",
    oracle="""
    WITH q AS (
      SELECT dayofweek(ts) AS dow,
             (epoch_us(ts) % 86400000000) // 3600000000 AS hr,
             CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) AS v
      FROM events
    ), cells AS (
      SELECT dow, hr, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS HUGEINT) AS s,
             sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS ss
      FROM q GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(s) AS HUGEINT) AS s,
             CAST(sum(ss) AS HUGEINT) AS ss
      FROM cells
    ), sstot AS (
      SELECT n, CAST(ss AS DOUBLE)/1.0e12
               - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/1.0e12/n AS ss_total,
             CAST(s AS DOUBLE)/1.0e6/n AS grand_mean
      FROM tot
    ), dow_ss AS (
      SELECT sum(CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE)/1.0e12/nd) AS ss_a
      FROM (SELECT dow, CAST(sum(n) AS BIGINT) AS nd,
                   CAST(sum(s) AS HUGEINT) AS sd
            FROM cells GROUP BY dow)
    ), hr_ss AS (
      SELECT sum(CAST(sh AS DOUBLE)*CAST(sh AS DOUBLE)/1.0e12/nh) AS ss_b
      FROM (SELECT hr, CAST(sum(n) AS BIGINT) AS nh,
                   CAST(sum(s) AS HUGEINT) AS sh
            FROM cells GROUP BY hr)
    ), cell_ss AS (
      SELECT sum(CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/1.0e12/n) AS ss_cells
      FROM cells
    )
    SELECT t.n AS n_events,
           floor((d.ss_a - CAST(t.s AS DOUBLE)*CAST(t.s AS DOUBLE)
                           /1.0e12/t.n) / st.ss_total * 1.0e6 + 0.5) / 1.0e6
             AS eta2_weekday,
           floor((h.ss_b - CAST(t.s AS DOUBLE)*CAST(t.s AS DOUBLE)
                           /1.0e12/t.n) / st.ss_total * 1.0e6 + 0.5) / 1.0e6
             AS eta2_hour,
           floor((c.ss_cells - d.ss_a - h.ss_b
                  + CAST(t.s AS DOUBLE)*CAST(t.s AS DOUBLE)/1.0e12/t.n)
                 / st.ss_total * 1.0e6 + 0.5) / 1.0e6 AS eta2_interaction
    FROM tot t
    CROSS JOIN sstot st CROSS JOIN dow_ss d CROSS JOIN hr_ss h
    CROSS JOIN cell_ss c
    """,
)
def events_weekday_hour_twoway_anova(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-way variance decomposition of event value over weekday ×
    hour: η² for each main effect and the interaction (unbalanced-cell
    form: SS_A = Σ S_a²/n_a − S²/N etc.) — "is the pattern a
    day-of-week thing, a time-of-day thing, or genuinely both". All
    sums exact integer micro/pico units; the 7×24 cell table is tiny
    and every SS term is one scalar combine."""
    e = _t(spark, sf_dir, "events")
    q = e.select(
        F.dayofweek("ts").alias("dow"),
        ((F.unix_micros("ts") % F.lit(86400000000)) / F.lit(3600000000))
        .cast("long")
        .alias("hr"),
        F.floor(F.col("value") * 1.0e6 + 0.5).cast("long").alias("v"),
    )
    cells = q.groupBy("dow", "hr").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.col("v").cast("decimal(19,0)") * F.col("v").cast("decimal(19,0)")
        ).alias("ss"),
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s").alias("s"),
        F.sum("ss").alias("ss"),
    )
    def level_ss(key, out):
        lvl = cells.groupBy(key).agg(
            F.sum("n").cast("long").alias("nl"), F.sum("s").alias("sl")
        )
        return lvl.agg(
            F.sum(
                F.col("sl").cast("double")
                * F.col("sl").cast("double")
                / 1.0e12
                / F.col("nl")
            ).alias(out)
        )
    dow_ss = level_ss("dow", "ss_a")
    hr_ss = level_ss("hr", "ss_b")
    cell_ss = cells.agg(
        F.sum(
            F.col("s").cast("double") * F.col("s").cast("double") / 1.0e12 / F.col("n")
        ).alias("ss_cells")
    )
    j = (
        tot.crossJoin(F.broadcast(dow_ss))
        .crossJoin(F.broadcast(hr_ss))
        .crossJoin(F.broadcast(cell_ss))
    )
    corr = F.col("s").cast("double") * F.col("s").cast("double") / 1.0e12 / F.col("n")
    ss_total = F.col("ss").cast("double") / 1.0e12 - corr
    return j.select(
        F.col("n").alias("n_events"),
        (F.floor((F.col("ss_a") - corr) / ss_total * 1.0e6 + 0.5) / 1.0e6).alias(
            "eta2_weekday"
        ),
        (F.floor((F.col("ss_b") - corr) / ss_total * 1.0e6 + 0.5) / 1.0e6).alias(
            "eta2_hour"
        ),
        (
            F.floor(
                (F.col("ss_cells") - F.col("ss_a") - F.col("ss_b") + corr)
                / ss_total
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("eta2_interaction"),
    )


# ---------------------------------------------------------------------------
# Wave I — pipeline plumbing/monitoring round-out: chunk manifests,
# out-of-orderness, embedding drift, growth accounting, dedup impact.
# ---------------------------------------------------------------------------
@register(
    "multimodal_chunk_manifest",
    oracle="""
    WITH chunks AS (
      SELECT doc_id, strlen(text) AS n_bytes, g.chunk_idx
      FROM documents,
      UNNEST(generate_series(0,
             CAST(ceil(strlen(text) / 1024.0) AS BIGINT) - 1))
        AS g(chunk_idx)
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_idx * 1024 AS BIGINT) AS byte_offset,
           CAST(least(1024, n_bytes - chunk_idx * 1024) AS BIGINT)
             AS chunk_bytes,
           md5(substr(text, CAST(chunk_idx * 1024 + 1 AS BIGINT), 1024))
             AS chunk_md5
    FROM chunks c JOIN documents d USING (doc_id)
    """,
)
def multimodal_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upload/transfer manifest for opaque payloads: fixed 1 KiB
    chunking with per-chunk offset, length, and md5 — the multipart
    layout a blob store or content-addressable cache keys on. The
    chunk explode is an executor-side integer sequence (ceil(bytes/1K)
    rows per doc, no Python); payload here is the text column standing
    in for the binary column, the same plumbing as the multimodal
    family."""
    d = _t(spark, sf_dir, "documents")
    n_chunks = F.ceil(F.octet_length("text") / 1024.0).cast("long")
    chunks = d.select(
        "doc_id",
        "text",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.explode(
            F.sequence(F.lit(0).cast("long"), n_chunks - 1)
        ).alias("chunk_idx"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx") * 1024).cast("long").alias("byte_offset"),
        F.least(
            F.lit(1024).cast("long"),
            F.col("n_bytes") - F.col("chunk_idx") * 1024,
        )
        .cast("long")
        .alias("chunk_bytes"),
        F.md5(
            F.substring(
                F.col("text"), (F.col("chunk_idx") * 1024 + 1).cast("int"), 1024
            )
        ).alias("chunk_md5"),
    )


@register(
    "events_out_of_order_profile",
    oracle="""
    WITH arr AS (
      SELECT event_type,
             epoch_us(ts) AS t_us,
             max(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS high_water
      FROM events
    ), late AS (
      SELECT event_type,
             CASE WHEN high_water IS NULL OR t_us >= high_water THEN 0
                  ELSE (high_water - t_us) END AS lateness_us
      FROM arr
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN lateness_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_out_of_order,
           CAST(max(lateness_us) AS BIGINT) AS max_lateness_us,
           CAST(sum(CASE WHEN lateness_us > 3600000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_beyond_1h_watermark
    FROM late GROUP BY event_type
    """,
)
def events_out_of_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile per type, treating event_id as arrival
    order: lateness = high-watermark (running max event time over
    earlier arrivals) minus event time — the distribution that picks a
    streaming watermark delay. Reports the count a 1-hour watermark
    would DROP (the allowed-lateness tuning number). One arrival-order
    window per type; exact integer µs."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t_us = F.unix_micros("ts")
    hw = F.max(t_us).over(w)
    late = e.select(
        "event_type",
        F.when(hw.isNull() | (t_us >= hw), F.lit(0).cast("long"))
        .otherwise(hw - t_us)
        .alias("lateness_us"),
    )
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("lateness_us") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_out_of_order"),
        F.max("lateness_us").cast("long").alias("max_lateness_us"),
        F.sum(F.when(F.col("lateness_us") > 3600000000, 1).otherwise(0))
        .cast("long")
        .alias("n_beyond_1h_watermark"),
    )


@register(
    "embedding_label_centroid_drift",
    oracle="""
    WITH halves AS (
      SELECT label, vec_id % 2 AS half, i - 1 AS dim,
             CAST(floor(xi * 1.0e9 + 0.5) AS BIGINT) AS q
      FROM (
        SELECT label, vec_id,
               unnest(CAST(embedding AS DOUBLE[])) AS xi,
               generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS i
        FROM embeddings
      )
    ), cent AS (
      SELECT label, half, dim,
             CAST(sum(q) AS DOUBLE) / 1.0e9 / count(*) AS c
      FROM halves GROUP BY 1, 2, 3
    ), paired AS (
      SELECT a.label, a.dim, a.c AS c0, b.c AS c1
      FROM cent a JOIN cent b
        ON a.label = b.label AND a.dim = b.dim
           AND a.half = 0 AND b.half = 1
    ), sums AS (
      SELECT label,
             sum(c0*c1) AS dot, sum(c0*c0) AS n0, sum(c1*c1) AS n1
      FROM paired GROUP BY label
    )
    SELECT label,
           floor(dot / sqrt(n0*n1) * 1.0e6 + 0.5) / 1.0e6
             AS centroid_cosine,
           floor(sqrt(n0) * 1.0e6 + 0.5) / 1.0e6 AS norm_half0,
           floor(sqrt(n1) * 1.0e6 + 0.5) / 1.0e6 AS norm_half1
    FROM sums
    """,
)
def embedding_label_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per-label centroid of the even-id half
    vs the odd-id half, compared by cosine — the snapshot-over-snapshot
    stability check an embedding pipeline alerts on (cosine ≪ 1 means
    the class moved). Components quantize to nano-ints before the
    per-(label, half, dim) means; 64-dim centroid rows are tiny.
    PARITY NOTE: the per-dim means are bit-identical (exact integer
    sum / count); the final 64-term dot/norm sums run in plain double,
    whose worst-case reassociation drift (~64 ulp ≈ 1e-14 on O(1)
    values) sits eight decades below the 1e-6 output floor — the
    documented exception to the quantize-before-sum rule for
    FIXED-SIZE tiny reductions."""
    emb = _t(spark, sf_dir, "embeddings")
    halves = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")),
    ).select(
        "label",
        "half",
        F.col("pos").alias("dim"),
        F.floor(F.col("col") * 1.0e9 + 0.5).cast("long").alias("q"),
    )
    cent = halves.groupBy("label", "half", "dim").agg(
        (F.sum("q").cast("double") / 1.0e9 / F.count(F.lit(1))).alias("c")
    )
    a = cent.filter(F.col("half") == 0).select(
        "label", "dim", F.col("c").alias("c0")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", "dim", F.col("c").alias("c1")
    )
    sums = (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.sum(F.col("c0") * F.col("c1")).alias("dot"),
            F.sum(F.col("c0") * F.col("c0")).alias("n0"),
            F.sum(F.col("c1") * F.col("c1")).alias("n1"),
        )
    )
    return sums.select(
        "label",
        (
            F.floor(
                F.col("dot") / F.sqrt(F.col("n0") * F.col("n1")) * 1.0e6 + 0.5
            )
            / 1.0e6
        ).alias("centroid_cosine"),
        (F.floor(F.sqrt(F.col("n0")) * 1.0e6 + 0.5) / 1.0e6).alias(
            "norm_half0"
        ),
        (F.floor(F.sqrt(F.col("n1")) * 1.0e6 + 0.5) / 1.0e6).alias(
            "norm_half1"
        ),
    )


@register(
    "user_growth_accounting",
    oracle="""
    WITH um AS (
      SELECT DISTINCT user_id,
             CAST(year(ts) * 12 + month(ts) AS BIGINT) AS month_id
      FROM events
    ), firsts AS (
      SELECT user_id, min(month_id) AS first_month FROM um GROUP BY 1
    ), flags AS (
      SELECT um.month_id, um.user_id,
             um.month_id = f.first_month AS is_new,
             lag(um.month_id) OVER (PARTITION BY um.user_id
                                    ORDER BY um.month_id) AS prev_active
      FROM um JOIN firsts f USING (user_id)
    )
    SELECT month_id,
           CAST(count(*) AS BIGINT) AS active_users,
           CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
             AS new_users,
           CAST(sum(CASE WHEN NOT is_new AND prev_active = month_id - 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS retained_users,
           CAST(sum(CASE WHEN NOT is_new AND prev_active < month_id - 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS resurrected_users
    FROM flags GROUP BY month_id
    """,
)
def user_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly growth accounting: every active user is exactly one of
    new (first month), retained (active previous month), or
    resurrected (gap before return) — the decomposition growth teams
    reconcile MAU against. One distinct month-activity relation, one
    per-user lag window; churn is the complement (last month's actives
    minus retained)."""
    e = _t(spark, sf_dir, "events")
    um = e.select(
        "user_id",
        (F.year("ts") * 12 + F.month("ts")).cast("long").alias("month_id"),
    ).distinct()
    firsts = um.groupBy("user_id").agg(F.min("month_id").alias("first_month"))
    w = Window.partitionBy("user_id").orderBy("month_id")
    flags = um.join(firsts, "user_id").select(
        "month_id",
        (F.col("month_id") == F.col("first_month")).alias("is_new"),
        F.lag("month_id").over(w).alias("prev_active"),
    )
    return flags.groupBy("month_id").agg(
        F.count(F.lit(1)).cast("long").alias("active_users"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0))
        .cast("long")
        .alias("new_users"),
        F.sum(
            F.when(
                (~F.col("is_new"))
                & (F.col("prev_active") == F.col("month_id") - 1),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("retained_users"),
        F.sum(
            F.when(
                (~F.col("is_new"))
                & (F.col("prev_active") < F.col("month_id") - 1),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("resurrected_users"),
    )


@register(
    "dedup_vocab_impact",
    oracle="""
    WITH keep AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ), before_v AS (
      SELECT CAST(count(DISTINCT w) AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> ''
    ), after_v AS (
      SELECT CAST(count(DISTINCT w) AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS n
      FROM (
        SELECT unnest(string_split(d.text, ' ')) AS w
        FROM documents d JOIN keep k ON d.doc_id = k.doc_id
      )
      WHERE w <> ''
    )
    SELECT b.v AS vocab_before, a.v AS vocab_after,
           b.n AS tokens_before, a.n AS tokens_after,
           CAST(b.v - a.v AS BIGINT) AS vocab_lost,
           floor(a.n * 1.0e6 / b.n + 0.5) / 1.0e6 AS token_survival
    FROM before_v b CROSS JOIN after_v a
    """,
)
def dedup_vocab_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What exact dedup costs the vocabulary: distinct-type and token
    counts before vs after md5 keeper-dedup — duplicates carry no new
    types in a clean corpus (vocab_lost = 0 is the healthy reading;
    losses mean near-identical docs held unique rare tokens). Two
    explode+distinct aggs and the md5 keeper relation."""
    d = _t(spark, sf_dir, "documents")
    keep = d.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    def vocab(df):
        tok = df.select(
            F.explode(F.split(F.col("text"), " ")).alias("w")
        ).filter(F.col("w") != "")
        return tok.agg(
            F.countDistinct("w").cast("long").alias("v"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    before = vocab(d).select(
        F.col("v").alias("vocab_before"), F.col("n").alias("tokens_before")
    )
    after = vocab(
        d.join(keep.select("doc_id"), "doc_id")
    ).select(F.col("v").alias("vocab_after"), F.col("n").alias("tokens_after"))
    return before.crossJoin(F.broadcast(after)).select(
        "vocab_before",
        "vocab_after",
        "tokens_before",
        "tokens_after",
        (F.col("vocab_before") - F.col("vocab_after"))
        .cast("long")
        .alias("vocab_lost"),
        (
            F.floor(
                F.col("tokens_after") * 1.0e6 / F.col("tokens_before") + 0.5
            )
            / 1.0e6
        ).alias("token_survival"),
    )


@register(
    "part_name_token_topk",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(p_name, ' ')) AS w FROM part
    )
    SELECT w AS token, CAST(count(*) AS BIGINT) AS n_parts
    FROM tok WHERE w <> ''
    GROUP BY w
    ORDER BY n_parts DESC, token LIMIT 20
    """,
)
def part_name_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens in part names — the dimension-table text surface
    (catalog normalization / attribute extraction starts from exactly
    this profile). Explode + map-side-combinable count + TakeOrdered."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split(F.col("p_name"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
        .orderBy(F.col("n_parts").desc(), "token")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Wave J — mixed-layer pressure, density derivatives, Hill tail index,
# circular hour-of-day statistics.
# ---------------------------------------------------------------------------
@register(
    "gsw_mixed_layer_pressure",
    oracle='\n    WITH prof AS (\n      SELECT l_orderkey, l_linenumber, p,\n             (1.0e0/(0.0010769995862e0 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(-0.00031038981976e0 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(0.00066928067038e0 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(-0.00085047933937e0 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(0.00058086069943e0 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(-0.00021092370507e0 + 3.1932457305e-05*sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)))))) + ((ct)*0.025e0)*(-1.5649734675e-05 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(3.5009599764e-05 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(-4.3592678561e-05 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(3.4532461828e-05 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(-1.1959409788e-05 + 1.3864594581e-06*sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0))))) + ((ct)*0.025e0)*(2.7762106484e-05 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(-3.7435842344e-05 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(3.590782276e-05 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(-1.8698584187e-05 + 3.8595339244e-06*sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)))) + ((ct)*0.025e0)*(-1.6521159259e-05 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(2.4141479483e-05 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(-1.4353633048e-05 + 2.2863324556e-06*sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0))) + ((ct)*0.025e0)*(6.9111322702e-06 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(-8.7595873154e-06 + 4.3703680598e-06*sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)) + ((ct)*0.025e0)*(-8.053961554e-07 + -3.30527589e-07*sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0) + 2.0543094268e-07*((ct)*0.025e0)))))) + ((0.0e0)*1.0e-4)*(-6.0799143809e-05 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(2.4262468747e-05 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(-3.4792460974e-05 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(3.7470777305e-05 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(-1.7322218612e-05 + 3.0927427253e-06*sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0))))) + ((ct)*0.025e0)*(1.8505765429e-05 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(-9.5677088156e-06 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(1.1100834765e-05 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(-9.8447117844e-06 + 2.590922526e-06*sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)))) + ((ct)*0.025e0)*(-1.1716606853e-05 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(-2.3678308361e-07 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(2.9283346295e-06 + -4.88261392e-07*sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0))) + ((ct)*0.025e0)*(7.9279656173e-06 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(-3.4558773655e-06 + 3.1655306078e-07*sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)) + ((ct)*0.025e0)*(-3.4102187482e-06 + 1.2956717783e-06*sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0) + 5.0736766814e-07*((ct)*0.025e0))))) + ((0.0e0)*1.0e-4)*(9.9856169219e-06 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(-5.8484432984e-07 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(-4.8122251597e-06 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(4.9263106998e-06 + -1.7811974727e-06*sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)))) + ((ct)*0.025e0)*(-1.1736386731e-06 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(-5.5699154557e-06 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(5.4620748834e-06 + -1.3544185627e-06*sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0))) + ((ct)*0.025e0)*(2.130502874e-06 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(3.913738708e-07 + -6.5731104067e-07*sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)) + ((ct)*0.025e0)*(-4.6132540037e-07 + 7.7618888092e-09*sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0) + -6.3352916514e-08*((ct)*0.025e0)))) + ((0.0e0)*1.0e-4)*(-1.1309361437e-06 + sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)*(3.6310188515e-07 + 1.674630378e-08*sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0)) + ((ct)*0.025e0)*(-3.6527006553e-07 + -2.7295696237e-07*sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0) + 2.8695905159e-07*((ct)*0.025e0)) + ((0.0e0)*1.0e-4)*(1.053115308e-07 + -1.1147125423e-07*sqrt(0.0248826675584615e0*(sa) + 0.5971840214030754e0) + 3.1454099902e-07*((ct)*0.025e0) + ((0.0e0)*1.0e-4)*(-1.2647261286e-08 + 1.961350393e-09*((0.0e0)*1.0e-4)))))))) - 1000.0e0 AS sigma0\n      FROM (\n        SELECT l_orderkey, l_linenumber, p, (s*(35.16504e0/35.0e0)) AS sa,\n               ((61.01362420681071e0 + ((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0)*(168776.46138048015e0 + ((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0)*(-2735.2785605119625e0 + ((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0)*(2574.2164453821433e0 + ((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0)*(-1536.6644434977543e0 + ((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0)*(545.7340497931629e0 + (-50.91091728474331e0 - 18.30489878927802e0*((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0))*((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0)))))) + (0.0248826675584615e0*(((s)*(35.16504e0/35.0e0))))*(268.5520265845071e0 + ((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0)*(-12019.028203559312e0 + ((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0)*(3734.858026725145e0 + ((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0)*(-2046.7671145057618e0 + ((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0)*(465.28655623826234e0 + (-0.6370820302376359e0 - 10.650848542359153e0*((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0))*((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0))))) + sqrt((0.0248826675584615e0*(((s)*(35.16504e0/35.0e0)))))*(937.2099110620707e0 + ((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0)*(588.1802812170108e0 + ((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0)*(248.39476522971285e0 + (-3.871557904936333e0 - 2.6268019854268356e0*((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0))*((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0))) + sqrt((0.0248826675584615e0*(((s)*(35.16504e0/35.0e0)))))*(-1687.914374187449e0 + sqrt((0.0248826675584615e0*(((s)*(35.16504e0/35.0e0)))))*(246.9598888781377e0 + sqrt((0.0248826675584615e0*(((s)*(35.16504e0/35.0e0)))))*(123.59576582457964e0 - 48.5891069025409e0*sqrt((0.0248826675584615e0*(((s)*(35.16504e0/35.0e0))))))) + ((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0)*(936.3206544460336e0 + ((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0)*(-942.7827304544439e0 + ((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0)*(369.4389437509002e0 + (-33.83664947895248e0 - 9.987880382780322e0*((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0))*((((t) - ((p)*0.1e0)*(3.6504e-4 + 8.3198e-5*(t) - 5.4065e-7*(t)*(t) + 4.0274e-9*(t)*(t)*(t)) - ((p)*0.1e0)*((s) - 35.0e0)*(1.7439e-5 - 2.9778e-7*(t)) - ((p)*0.1e0)*((p)*0.1e0)*(8.9309e-7 - 3.1628e-8*(t) + 2.1987e-10*(t)*(t)) + 4.1057e-9*((s) - 35.0e0)*((p)*0.1e0)*((p)*0.1e0) - ((p)*0.1e0)*((p)*0.1e0)*((p)*0.1e0)*(-1.6056e-10 + 5.0484e-12*(t))))*0.025e0))))))))/3991.86795711963e0) AS ct\n        FROM (\n    SELECT l_orderkey, l_linenumber,\n           CAST(l_quantity % 30 AS DOUBLE) AS t,\n           CAST(30.0 + l_discount * 50 AS DOUBLE) AS s,\n           CAST(l_linenumber * 100.0 AS DOUBLE) AS p\n    FROM lineitem\n)\n      )\n    ), surf AS (\n      SELECT p.l_orderkey, min(p.sigma0) AS sigma0_surf\n      FROM prof p\n      JOIN (SELECT l_orderkey, min(p) AS min_p FROM prof GROUP BY 1) m\n        ON p.l_orderkey = m.l_orderkey AND p.p = m.min_p\n      GROUP BY p.l_orderkey\n    )\n    SELECT p.l_orderkey, min(p.p) AS mlp_dbar,\n           CAST(count(*) AS BIGINT) AS n_below\n    FROM prof p JOIN surf s USING (l_orderkey)\n    WHERE p.sigma0 > s.sigma0_surf + 0.03e0\n    GROUP BY p.l_orderkey\n',
)
def gsw_mixed_layer_pressure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-layer pressure per synthetic profile (l_orderkey): the
    shallowest pressure where sigma0 exceeds the profile's surface
    reference by 0.03 kg/m³ — the de Boyer Montégut et al. (2004)
    density-threshold criterion (GSW twin: gsw_mlp). The surface
    reference is the MIN sigma0 among the shallowest-pressure rows
    (an aggregate, total under the corpus's duplicate line numbers);
    profiles that never stratify past the threshold drop out."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        rho_sql,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "p",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    df = df.withColumn(
        "sigma0", F.expr(rho_sql("sa", "ct", "0.0e0")) - 1000.0
    )
    # Surface reference as an AGGREGATE (min sigma0 among the
    # shallowest-pressure rows): l_linenumber is NOT unique within an
    # order in this corpus, so a row_number tiebreak on
    # (p, l_linenumber) is engine-arbitrary — the aggregate is total.
    minp = df.groupBy("l_orderkey").agg(F.min("p").alias("min_p"))
    surf = (
        df.join(minp, "l_orderkey")
        .filter(F.col("p") == F.col("min_p"))
        .groupBy("l_orderkey")
        .agg(F.min("sigma0").alias("sigma0_surf"))
    )
    deep = df.join(surf, "l_orderkey").filter(
        F.col("sigma0") > F.col("sigma0_surf") + 0.03
    )
    return deep.groupBy("l_orderkey").agg(
        F.min("p").alias("mlp_dbar"),
        F.count(F.lit(1)).cast("long").alias("n_below"),
    )


def _rho_derivs_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        cabbeling_thermobaric_stages,
        ct_from_t_sql,
    )

    inner = f"""
    SELECT l_orderkey, l_linenumber, {_SA_SQL} AS sa,
           {ct_from_t_sql("s", "t", "p")} AS ct, p
    FROM ({_IN_SQL})
    """
    keep = {
        "__cbtb_xs", "__cbtb_ys", "__cbtb_z", "__cbtb_v", "__cbtb_vx",
        "__cbtb_vy", "__cbtb_vz", "__cbtb_dxdsa", "__cbtb_v_ct",
        "__cbtb_v_sa", "__cbtb_v_p",
    }
    stages = [
        s for s in cabbeling_thermobaric_stages("sa", "ct", "p") if s[0] in keep
    ]
    staged = _stage_sql(inner, stages)
    # rho_x = -v_x / v^2
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(-__cbtb_v_sa/(__cbtb_v*__cbtb_v) * 1.0e9 + 0.5) / 1.0e9
             AS rho_sa,
           floor(-__cbtb_v_ct/(__cbtb_v*__cbtb_v) * 1.0e9 + 0.5) / 1.0e9
             AS rho_ct,
           floor(-__cbtb_v_p/(__cbtb_v*__cbtb_v) * 1.0e12 + 0.5) / 1.0e12
             AS rho_p_dbar
    FROM {staged}
    """


@register("gsw_rho_first_derivatives", oracle=_rho_derivs_oracle())
def gsw_rho_first_derivatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """∂ρ/∂SA, ∂ρ/∂CT, ∂ρ/∂p from the analytic 75-term derivative
    polynomials via ρ_x = −v_x/v² (GSW twin:
    gsw_rho_first_derivatives) — the linearization every buoyancy-
    budget and assimilation scheme consumes. Same stage family as
    cabbeling (FD-pinned); divisions only, exact parity."""
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
    keep = {
        "__cbtb_xs", "__cbtb_ys", "__cbtb_z", "__cbtb_v", "__cbtb_vx",
        "__cbtb_vy", "__cbtb_vz", "__cbtb_dxdsa", "__cbtb_v_ct",
        "__cbtb_v_sa", "__cbtb_v_p",
    }
    for name, expr in cabbeling_thermobaric_stages("sa", "ct", "p"):
        if name in keep:
            df = df.withColumn(name, F.expr(expr))
    v2 = F.col("__cbtb_v") * F.col("__cbtb_v")
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(-F.col("__cbtb_v_sa") / v2 * 1.0e9 + 0.5) / 1.0e9).alias(
            "rho_sa"
        ),
        (F.floor(-F.col("__cbtb_v_ct") / v2 * 1.0e9 + 0.5) / 1.0e9).alias(
            "rho_ct"
        ),
        (F.floor(-F.col("__cbtb_v_p") / v2 * 1.0e12 + 0.5) / 1.0e12).alias(
            "rho_p_dbar"
        ),
    )


@register(
    "events_pareto_tail_index",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rn
      FROM events WHERE value > 0
    ), topk AS (
      SELECT r.event_type,
             CAST(floor(ln(r.value / k.v_k) * 1.0e9 + 0.5) AS BIGINT) AS lr
      FROM ranked r
      JOIN (SELECT event_type, value AS v_k FROM ranked WHERE rn = 51) k
        USING (event_type)
      WHERE r.rn <= 50
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS k_used,
           floor(CAST(sum(lr) AS DOUBLE) / 1.0e9 / count(*) * 1.0e6 + 0.5)
             / 1.0e6 AS hill_mean_logratio,
           floor(count(*) * 1.0e9 / CAST(sum(lr) AS DOUBLE) * 1.0e6 + 0.5)
             / 1.0e6 AS hill_alpha
    FROM topk GROUP BY event_type
    """,
)
def events_pareto_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the value tail index per type (k = 50 upper
    order statistics): α̂ = k / Σ ln(x_(i)/x_(k+1)) — small α means a
    genuinely heavy tail (capacity planning cares). Order statistics
    from one ranked window; log ratios quantize to 1e-9 before the
    exact sum. Complements the Gumbel block-maxima fit (domain of
    attraction diagnosis from two angles)."""
    e = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    ranked = e.select(
        "event_type", "value", F.row_number().over(w).alias("rn")
    )
    vk = ranked.filter(F.col("rn") == 51).select(
        "event_type", F.col("value").alias("v_k")
    )
    topk = (
        ranked.filter(F.col("rn") <= 50)
        .join(F.broadcast(vk), "event_type")
        .select(
            "event_type",
            F.floor(F.log(F.col("value") / F.col("v_k")) * 1.0e9 + 0.5)
            .cast("long")
            .alias("lr"),
        )
    )
    return topk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        (
            F.floor(
                F.sum("lr").cast("double") / 1.0e9 / F.count(F.lit(1)) * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("hill_mean_logratio"),
        (
            F.floor(
                F.count(F.lit(1)) * 1.0e9 / F.sum("lr").cast("double") * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("hill_alpha"),
    )


@register(
    "events_circular_mean_hour",
    oracle="""
    WITH terms AS (
      SELECT event_type,
             CAST(floor(cos(2.0e0*pi()*((epoch_us(ts) % 86400000000)
                        / 86400000000.0e0)) * 1.0e9 + 0.5) AS BIGINT) AS c,
             CAST(floor(sin(2.0e0*pi()*((epoch_us(ts) % 86400000000)
                        / 86400000000.0e0)) * 1.0e9 + 0.5) AS BIGINT) AS s
      FROM events
    ), sums AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS HUGEINT) AS sc, CAST(sum(s) AS HUGEINT) AS ss
      FROM terms GROUP BY event_type
    )
    SELECT event_type, n,
           floor(((atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE))
                   + 2.0e0*pi()) % (2.0e0*pi())) / (2.0e0*pi()) * 24.0e0
                 * 1.0e6 + 0.5) / 1.0e6 AS mean_hour,
           floor(sqrt(CAST(sc AS DOUBLE)*CAST(sc AS DOUBLE)
                      + CAST(ss AS DOUBLE)*CAST(ss AS DOUBLE)) / 1.0e9 / n
                 * 1.0e6 + 0.5) / 1.0e6 AS resultant_length
    FROM sums
    """,
)
def events_circular_mean_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular statistics of event time-of-day: the mean direction
    (converted back to hours) and resultant length R ∈ [0, 1]
    (1 = perfectly clocked, 0 = uniform over the day) — the correct
    average for angles, where arithmetic means fail (23:00 and 01:00
    average to midnight, not noon). Unit-circle components quantize to
    nano-ints before the exact sums; atan2/modulo finish on identical
    doubles."""
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    two_pi = 2.0 * 3.141592653589793
    phase = two_pi * ((us % F.lit(86400000000)) / 86400000000.0)
    terms = e.select(
        "event_type",
        F.floor(F.cos(phase) * 1.0e9 + 0.5).cast("long").alias("c"),
        F.floor(F.sin(phase) * 1.0e9 + 0.5).cast("long").alias("s"),
    )
    sums = terms.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("sc"),
        F.sum(F.col("s").cast("decimal(38,0)")).alias("ss"),
    )
    ang = F.atan2(F.col("ss").cast("double"), F.col("sc").cast("double"))
    mean_hour = ((ang + two_pi) % two_pi) / two_pi * 24.0
    r_len = (
        F.sqrt(
            F.col("sc").cast("double") * F.col("sc").cast("double")
            + F.col("ss").cast("double") * F.col("ss").cast("double")
        )
        / 1.0e9
        / F.col("n")
    )
    return sums.select(
        "event_type",
        "n",
        (F.floor(mean_hour * 1.0e6 + 0.5) / 1.0e6).alias("mean_hour"),
        (F.floor(r_len * 1.0e6 + 0.5) / 1.0e6).alias("resultant_length"),
    )


# ---------------------------------------------------------------------------
# Wave K — inequality decomposition, seasonal-trend split, 2-hop reach.
# ---------------------------------------------------------------------------
@register(
    "part_brand_price_theil_index",
    oracle="""
    WITH x AS (
      SELECT p_brand,
             CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM part
    ), grp AS (
      SELECT p_brand, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(cents) AS HUGEINT) AS s_g
      FROM x GROUP BY p_brand
    ), tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(s_g) AS HUGEINT) AS s
      FROM grp
    ), within_terms AS (
      SELECT x.p_brand,
             CAST(floor((CAST(x.cents AS DOUBLE) / CAST(g.s_g AS DOUBLE))
                        * ln((CAST(x.cents AS DOUBLE) * g.n_g)
                             / CAST(g.s_g AS DOUBLE)) * 1.0e12 + 0.5)
                  AS BIGINT) AS tq
      FROM x JOIN grp g USING (p_brand)
    ), t_within_g AS (
      SELECT p_brand, CAST(sum(tq) AS HUGEINT) AS tsum
      FROM within_terms GROUP BY p_brand
    ), composed AS (
      SELECT g.p_brand, g.n_g,
             CAST(g.s_g AS DOUBLE) / CAST(t.s AS DOUBLE) AS w_g,
             CAST(tw.tsum AS DOUBLE) / 1.0e12 AS t_g,
             ln((CAST(g.s_g AS DOUBLE) * t.n)
                / (CAST(t.s AS DOUBLE) * g.n_g)) AS between_term
      FROM grp g JOIN t_within_g tw USING (p_brand) CROSS JOIN tot t
    )
    SELECT p_brand, n_g,
           floor(t_g * 1.0e6 + 0.5) / 1.0e6 AS theil_within_group,
           floor(w_g * between_term * 1.0e6 + 0.5) / 1.0e6
             AS between_contribution
    FROM composed
    """,
)
def part_brand_price_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality decomposition of part prices by brand: each
    brand's WITHIN-group Theil index and its contribution to the
    BETWEEN-group term (T = Σ w_g·T_g + Σ w_g·ln(w_g/pop_share) — the
    entropy-based inequality measure that, unlike Gini, decomposes
    additively). Per-item terms quantize to pico-units before exact
    sums; shares and logs finish on exact integer ratios."""
    p = _t(spark, sf_dir, "part")
    x = p.select(
        "p_brand",
        F.floor(F.col("p_retailprice") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    grp = x.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s_g"),
    )
    tot = grp.agg(
        F.sum("n_g").cast("long").alias("n"), F.sum("s_g").alias("s")
    )
    within_terms = x.join(F.broadcast(grp), "p_brand").select(
        "p_brand",
        F.floor(
            (F.col("cents").cast("double") / F.col("s_g").cast("double"))
            * F.log(
                F.col("cents").cast("double")
                * F.col("n_g")
                / F.col("s_g").cast("double")
            )
            * 1.0e12
            + 0.5
        )
        .cast("long")
        .alias("tq"),
    )
    t_within = within_terms.groupBy("p_brand").agg(
        F.sum(F.col("tq").cast("decimal(38,0)")).alias("tsum")
    )
    composed = (
        grp.join(t_within, "p_brand")
        .crossJoin(F.broadcast(tot))
        .select(
            "p_brand",
            "n_g",
            (F.col("s_g").cast("double") / F.col("s").cast("double")).alias(
                "w_g"
            ),
            (F.col("tsum").cast("double") / 1.0e12).alias("t_g"),
            F.log(
                F.col("s_g").cast("double")
                * F.col("n")
                / (F.col("s").cast("double") * F.col("n_g"))
            ).alias("between_term"),
        )
    )
    return composed.select(
        "p_brand",
        "n_g",
        (F.floor(F.col("t_g") * 1.0e6 + 0.5) / 1.0e6).alias(
            "theil_within_group"
        ),
        (
            F.floor(F.col("w_g") * F.col("between_term") * 1.0e6 + 0.5) / 1.0e6
        ).alias("between_contribution"),
    )


@register(
    "orders_seasonal_trend_decomposition",
    oracle="""
    WITH m AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) AS month_id,
             month(o_orderdate) AS moy,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ), trend AS (
      SELECT month_id, moy, cents,
             CAST(avg(cents) OVER (ORDER BY month_id
                                   ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
                  AS DOUBLE) AS ma13,
             CAST(count(*) OVER (ORDER BY month_id
                                 ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
                  AS BIGINT) AS win_n
      FROM m
    ), detr AS (
      SELECT month_id, moy, cents, ma13,
             CAST(floor((cents - ma13) * 1.0e2 + 0.5) AS BIGINT) AS resid_q
      FROM trend WHERE win_n = 13
    ), seasonal AS (
      SELECT moy,
             CAST(sum(resid_q) AS HUGEINT) AS sr,
             CAST(count(*) AS BIGINT) AS nr
      FROM detr GROUP BY moy
    )
    SELECT d.month_id, d.cents AS revenue_cents,
           floor(d.ma13 / 100.0 * 1.0e2 + 0.5) / 1.0e2 AS trend_revenue,
           floor(CAST(s.sr AS DOUBLE) / 1.0e2 / s.nr / 100.0 * 1.0e2 + 0.5)
             / 1.0e2 AS seasonal_component,
           floor((d.cents / 100.0 - d.ma13 / 100.0
                  - CAST(s.sr AS DOUBLE) / 1.0e2 / s.nr / 100.0)
                 * 1.0e2 + 0.5) / 1.0e2 AS irregular_component
    FROM detr d JOIN seasonal s USING (moy)
    """,
)
def orders_seasonal_trend_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical additive decomposition of monthly revenue: a centered
    13-month moving-average trend, month-of-year seasonal means of the
    detrended series, and the irregular remainder — the STL-lite every
    finance dashboard starts from. The window runs over the MONTH
    table (≤ months-of-history rows, single bounded partition by
    construction); edge months without a full 13-month window drop
    (win_n = 13), the textbook treatment. Detrended residuals quantize
    to exact centi-cents before the seasonal means."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("month_id"),
        F.month("o_orderdate").alias("moy"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("month_id").rowsBetween(-6, 6)
    trend = m.select(
        "month_id",
        "moy",
        "cents",
        F.avg("cents").over(w).alias("ma13"),
        F.count(F.lit(1)).over(w).cast("long").alias("win_n"),
    )
    detr = trend.filter(F.col("win_n") == 13).withColumn(
        "resid_q",
        F.floor((F.col("cents") - F.col("ma13")) * 1.0e2 + 0.5).cast("long"),
    )
    seasonal = detr.groupBy("moy").agg(
        F.sum(F.col("resid_q").cast("decimal(38,0)")).alias("sr"),
        F.count(F.lit(1)).cast("long").alias("nr"),
    )
    seas = F.col("sr").cast("double") / 1.0e2 / F.col("nr") / 100.0
    return detr.join(F.broadcast(seasonal), "moy").select(
        "month_id",
        F.col("cents").alias("revenue_cents"),
        (F.floor(F.col("ma13") / 100.0 * 1.0e2 + 0.5) / 1.0e2).alias(
            "trend_revenue"
        ),
        (F.floor(seas * 1.0e2 + 0.5) / 1.0e2).alias("seasonal_component"),
        (
            F.floor(
                (F.col("cents") / 100.0 - F.col("ma13") / 100.0 - seas) * 1.0e2
                + 0.5
            )
            / 1.0e2
        ).alias("irregular_component"),
    )


@register(
    "graph_two_hop_reach_profile",
    oracle="""
    WITH e AS (
      SELECT pa AS a, pb AS b FROM (
        SELECT x.l_partkey AS pa, y.l_partkey AS pb,
               count(*) AS support
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) x
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2
      ) WHERE support >= 2
    ), adj AS (
      SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
    ), reach2 AS (
      SELECT x.u,
             CAST(count(DISTINCT y.v) AS BIGINT) AS n_two_hop
      FROM adj x JOIN adj y ON x.v = y.u AND y.v != x.u
      GROUP BY x.u
    ), deg AS (
      SELECT u, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY u
    ), per_node AS (
      SELECT d.u, d.degree, coalesce(r.n_two_hop, 0) AS n_two_hop
      FROM deg d LEFT JOIN reach2 r ON d.u = r.u
    )
    SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes,
           floor(sum(n_two_hop) * 1.0e6 / count(*) + 0.5) / 1.0e6
             AS avg_two_hop_reach,
           CAST(max(n_two_hop) AS BIGINT) AS max_two_hop_reach
    FROM per_node GROUP BY degree
    """,
)
def graph_two_hop_reach_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop reachability profile by degree band: how many DISTINCT
    nodes a vertex reaches in exactly ≤ 2 hops (excluding itself) —
    the neighborhood-growth curve that separates expander-like regions
    from clustered ones. The wedge join is equi-keyed on the middle
    vertex; the distinct count collapses multi-path reach; bounded
    output (one row per degree)."""
    e = _copurchase_edges_r9(spark, sf_dir)
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    x = adj.select(F.col("u").alias("src"), F.col("v").alias("mid"))
    y = adj.select(F.col("u").alias("mid2"), F.col("v").alias("dst"))
    reach2 = (
        x.join(y, x.mid == y.mid2)
        .filter(F.col("dst") != F.col("src"))
        .groupBy("src")
        .agg(F.countDistinct("dst").cast("long").alias("n_two_hop"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    per_node = deg.join(
        reach2.select(F.col("src").alias("u"), "n_two_hop"), "u", "left"
    ).select(
        "degree", F.coalesce(F.col("n_two_hop"), F.lit(0)).alias("n_two_hop")
    )
    return per_node.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (
            F.floor(F.sum("n_two_hop") * 1.0e6 / F.count(F.lit(1)) + 0.5)
            / 1.0e6
        ).alias("avg_two_hop_reach"),
        F.max("n_two_hop").cast("long").alias("max_two_hop_reach"),
    )


# ---------------------------------------------------------------------------
# Wave L — GSW derivative/inversion surfaces + a rank-based test.
# ---------------------------------------------------------------------------
@register(
    "gsw_t_freezing_derivatives",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           floor((-0.0575e0 + 1.5e0*1.710523e-3*sqrt(s)
                  - 2.0e0*2.154996e-4*s) * 1.0e9 + 0.5) / 1.0e9
             AS dtf_dsp,
           -7.53e-4 AS dtf_dp
    FROM ({{in_sql}})
    """.replace("{in_sql}", "__IN__").replace("__IN__", _IN_SQL),
)
def gsw_t_freezing_derivatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic derivatives of the Millero freezing-point polynomial:
    ∂t_f/∂SP = −0.0575 + 1.5·1.710523e-3·√S − 2·2.154996e-4·S and the
    constant pressure slope −7.53e-4 °C/dbar (GSW twin:
    gsw_t_freezing_first_derivatives) — the linearization ice-formation
    models couple through. Closed-form, zero shuffle."""
    df = _inputs(spark, sf_dir)
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor(
                (
                    -0.0575
                    + 1.5 * 1.710523e-3 * F.sqrt(F.col("s"))
                    - 2.0 * 2.154996e-4 * F.col("s")
                )
                * 1.0e9
                + 0.5
            )
            / 1.0e9
        ).alias("dtf_dsp"),
        F.lit(-7.53e-4).alias("dtf_dp"),
    )


def _h1d_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        enthalpy_first_derivatives_stages,
    )

    inner = f"""
    SELECT l_orderkey, l_linenumber, {_SA_SQL} AS sa,
           {ct_from_t_sql("s", "t", "p")} AS ct, p
    FROM ({_IN_SQL})
    """
    staged = _stage_sql(inner, enthalpy_first_derivatives_stages("sa", "ct", "p"))
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(h_sa * 1.0e6 + 0.5) / 1.0e6 AS h_sa,
           floor(h_ct * 1.0e6 + 0.5) / 1.0e6 AS h_ct
    FROM {staged}
    """


@register("gsw_enthalpy_first_derivatives", oracle=_h1d_oracle())
def gsw_enthalpy_first_derivatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """∂h/∂SA and ∂h/∂CT at constant (CT, p)/(SA, p) from ANALYTIC
    derivative coefficient polynomials of the 75-term dynamic enthalpy
    (GSW twin: gsw_enthalpy_first_derivatives; FD agreement pinned in
    tests) — h_SA is the partial-enthalpy term the melting/latent-heat
    family consumes; h_CT its heat-capacity companion (cp0 + pressure
    correction). Zero shuffle, exact parity."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        enthalpy_first_derivatives_stages,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "p",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    for name, expr in enthalpy_first_derivatives_stages("sa", "ct", "p"):
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("h_sa") * 1.0e6 + 0.5) / 1.0e6).alias("h_sa"),
        (F.floor(F.col("h_ct") * 1.0e6 + 0.5) / 1.0e6).alias("h_ct"),
    )


def _ctmd_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_maxdensity_stages,
    )

    inner = f"""
    SELECT l_orderkey, l_linenumber, {_SA_SQL} AS sa, p
    FROM ({_IN_SQL})
    """
    staged = _stage_sql(inner, ct_maxdensity_stages("sa", "p"))
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(ct_maxdensity * 1.0e6 + 0.5) / 1.0e6 AS ct_md
    FROM {staged}
    """


@register("gsw_ct_maxdensity", oracle=_ctmd_oracle())
def gsw_ct_maxdensity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conservative Temperature of maximum density (GSW twin:
    gsw_CT_maxdensity): four Newton steps on the analytic v_ys root —
    the fresh-water 4 °C anomaly and its disappearance with salinity
    (anchors pinned in tests). Zero shuffle, exact parity."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_maxdensity_stages,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey", "l_linenumber", "p", F.expr(_SA_SQL).alias("sa")
    )
    for name, expr in ct_maxdensity_stages("sa", "p"):
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("ct_maxdensity") * 1.0e6 + 0.5) / 1.0e6).alias("ct_md"),
    )


def _poth_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_CP0,
        _lit,
        ct_from_pt_sql,
        pt0_from_t_sql,
    )

    return f"""
    SELECT l_orderkey, l_linenumber,
           floor({_lit(GSW_CP0)}
                 * {ct_from_pt_sql("sa", "pt")} * 1.0e4 + 0.5) / 1.0e4
             AS pot_enthalpy
    FROM (
      SELECT l_orderkey, l_linenumber, {_SA_SQL} AS sa,
             {pt0_from_t_sql("s", "t", "p")} AS pt
      FROM ({_IN_SQL})
    )
    """


@register("gsw_pot_enthalpy_from_pt", oracle=_poth_oracle())
def gsw_pot_enthalpy_from_pt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential enthalpy h⁰ = cp0·CT(SA, pt) (GSW twin:
    gsw_pot_enthalpy_from_pt) — the conserved heat-content variable
    itself in J/kg (McDougall 2003 framework; what air–sea flux
    budgets conserve), from the Bryden pt composition."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_CP0,
        _lit,
        ct_from_pt_sql,
        pt0_from_t_sql,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(pt0_from_t_sql("s", "t", "p")).alias("pt"),
    )
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor(
                F.lit(GSW_CP0) * F.expr(ct_from_pt_sql("sa", "pt")) * 1.0e4
                + 0.5
            )
            / 1.0e4
        ).alias("pot_enthalpy"),
    )


@register(
    "lineitem_mannwhitney_returnflag",
    oracle="""
    WITH x AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS in_a
      FROM lineitem WHERE l_returnflag IN ('R', 'N')
    ), per_v AS (
      SELECT v, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(in_a) AS BIGINT) AS n_a_v
      FROM x GROUP BY v
    ), ranked AS (
      SELECT v, cnt, n_a_v,
             coalesce(sum(cnt) OVER (ORDER BY v
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS prior
      FROM per_v
    ), sums AS (
      SELECT CAST(sum(n_a_v) AS BIGINT) AS n_a,
             CAST(sum(cnt - n_a_v) AS BIGINT) AS n_b,
             -- 2x average rank per value = 2*prior + cnt + 1 (exact)
             CAST(sum(n_a_v * (2*prior + cnt + 1)) AS HUGEINT) AS r_a_x2,
             CAST(sum(CAST(cnt AS HUGEINT)*cnt*cnt - cnt) AS HUGEINT)
               AS tie_term
      FROM ranked
    )
    SELECT n_a, n_b,
           CAST(r_a_x2 - n_a*(n_a + 1) AS DOUBLE) / 2.0e0 AS u_a,
           floor((CAST((r_a_x2 - n_a*(n_a + 1)) AS DOUBLE)/2.0e0
                  - CAST(n_a AS DOUBLE)*n_b/2.0e0)
                 / sqrt(CAST(n_a AS DOUBLE)*n_b/12.0e0
                        * ((n_a + n_b + 1.0e0)
                           - CAST(tie_term AS DOUBLE)
                             / ((n_a + n_b)*(n_a + n_b - 1.0e0))))
                 * 1.0e6 + 0.5) / 1.0e6 AS z_score
    FROM sums
    """,
)
def lineitem_mannwhitney_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U test (rank-sum) for quantity between returned
    ('R') and not-returned ('N') line items, with the exact
    tie-corrected normal approximation — the distribution-free
    two-sample test for heavily tied integer data where a t-test's
    normality assumption fails. Average ranks are exact rationals
    (2·rank = 2·prior + cnt + 1 over the value histogram); the prior
    cumulative counts come from ranked_cumsum_two_pass (round-9
    migration: the distinct-value set is 50 for quantity but unbounded
    for an arbitrary numeric column — no single-partition window); the
    tie term Σ(t³−t) and all rank sums are exact integers."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "N")
    )
    x = li.select(
        F.col("l_quantity").cast("long").alias("v"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("in_a"),
    )
    per_v = x.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("in_a").cast("long").alias("n_a_v"),
    )
    ranked = ranked_cumsum_two_pass(
        per_v, "v", "v", weight_col="cnt",
        out_rank="__rk_unused", out_cum="__cum_cnt", ascending=True,
    ).select(
        "v",
        "cnt",
        "n_a_v",
        (F.col("__cum_cnt") - F.col("cnt")).alias("prior"),
    )
    sums = ranked.agg(
        F.sum("n_a_v").cast("long").alias("n_a"),
        F.sum(F.col("cnt") - F.col("n_a_v")).cast("long").alias("n_b"),
        F.sum(
            F.col("n_a_v").cast("decimal(19,0)")
            * (2 * F.col("prior") + F.col("cnt") + 1).cast("decimal(19,0)")
        ).alias("r_a_x2"),
        F.sum(
            F.col("cnt").cast("decimal(19,0)")
            * F.col("cnt").cast("decimal(19,0)")
            * F.col("cnt").cast("decimal(19,0)")
            - F.col("cnt").cast("decimal(38,0)")
        ).alias("tie_term"),
    )
    n_a, n_b = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    u_a_x2 = F.col("r_a_x2").cast("double") - F.col("n_a") * (F.col("n_a") + 1)
    n = F.col("n_a") + F.col("n_b")
    var = (
        n_a
        * n_b
        / 12.0
        * (
            (n + 1.0).cast("double")
            - F.col("tie_term").cast("double")
            / (n.cast("double") * (n - 1).cast("double"))
        )
    )
    return sums.select(
        "n_a",
        "n_b",
        (
            (F.col("r_a_x2") - F.col("n_a") * (F.col("n_a") + 1)).cast("double")
            / 2.0
        ).alias("u_a"),
        (
            F.floor(
                (u_a_x2 / 2.0 - n_a * n_b / 2.0) / F.sqrt(var) * 1.0e6 + 0.5
            )
            / 1.0e6
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Wave M — changepoint location, Kendall tau-b, selection-bias audit,
# quantile normalization.
# ---------------------------------------------------------------------------
@register(
    "events_changepoint_location",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             row_number() OVER w AS k,
             CAST(sum(CAST(floor(value * 1.0e6 + 0.5) AS BIGINT)) OVER w
                  AS BIGINT) AS s_k,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 1.0e6 + 0.5) AS BIGINT))
                  OVER (PARTITION BY event_type) AS BIGINT) AS s_n
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ), scored AS (
      SELECT event_type, k, n, s_k, s_n,
             abs(CAST(s_k AS DOUBLE) - CAST(k AS DOUBLE)/n*s_n) AS g
      FROM seq WHERE k < n
    ), best AS (
      SELECT event_type, k, n, s_k, s_n FROM (
        SELECT event_type, k, n, s_k, s_n,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY g DESC, k) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT event_type, n AS n_events, CAST(k AS BIGINT) AS changepoint_idx,
           floor(CAST(s_k AS DOUBLE) / 1.0e6 / k * 1.0e6 + 0.5) / 1.0e6
             AS mean_before,
           floor((CAST(s_n AS DOUBLE) - s_k) / 1.0e6 / (n - k) * 1.0e6 + 0.5)
             / 1.0e6 AS mean_after
    FROM best
    """,
)
def events_changepoint_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single most-likely mean changepoint per type (binary-segmentation
    first split): argmax_k |S_k − (k/n)·S_n| over the time-ordered
    cumulative sums — WHERE the level shifted, with the means either
    side. Prefix sums are exact micro-ints; the argmax is a deterministic
    (g DESC, k) window. One ordered pass per type + the tiny argmax."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    v = F.floor(F.col("value") * 1.0e6 + 0.5).cast("long")
    seq = e.select(
        "event_type",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("ts", "event_id"))
        .alias("k"),
        F.sum(v).over(w).cast("long").alias("s_k"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
        F.sum(v).over(wall).cast("long").alias("s_n"),
    )
    scored = seq.filter(F.col("k") < F.col("n")).withColumn(
        "g",
        F.abs(
            F.col("s_k").cast("double")
            - F.col("k").cast("double") / F.col("n") * F.col("s_n")
        ),
    )
    w_best = Window.partitionBy("event_type").orderBy(
        F.col("g").desc(), F.col("k")
    )
    best = scored.withColumn("rn", F.row_number().over(w_best)).filter(
        F.col("rn") == 1
    )
    return best.select(
        "event_type",
        F.col("n").alias("n_events"),
        F.col("k").cast("long").alias("changepoint_idx"),
        (
            F.floor(
                F.col("s_k").cast("double") / 1.0e6 / F.col("k") * 1.0e6 + 0.5
            )
            / 1.0e6
        ).alias("mean_before"),
        (
            F.floor(
                (F.col("s_n").cast("double") - F.col("s_k"))
                / 1.0e6
                / (F.col("n") - F.col("k"))
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("mean_after"),
    )


@register(
    "lineitem_kendall_tau_contingency",
    oracle="""
    WITH cells AS (
      SELECT CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS x,
             CAST(l_quantity AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS f
      FROM lineitem GROUP BY 1, 2
    ), cd AS (
      SELECT CAST(sum(CASE WHEN b.x > a.x AND b.y > a.y
                           THEN CAST(a.f AS HUGEINT)*b.f ELSE 0 END)
                  AS HUGEINT) AS conc,
             CAST(sum(CASE WHEN b.x > a.x AND b.y < a.y
                           THEN CAST(a.f AS HUGEINT)*b.f ELSE 0 END)
                  AS HUGEINT) AS disc
      FROM cells a CROSS JOIN cells b
    ), xm AS (
      SELECT CAST(sum(CAST(fx AS HUGEINT)*(fx - 1)) AS HUGEINT) AS t1
      FROM (SELECT CAST(sum(f) AS BIGINT) AS fx FROM cells GROUP BY x)
    ), ym AS (
      SELECT CAST(sum(CAST(fy AS HUGEINT)*(fy - 1)) AS HUGEINT) AS t2
      FROM (SELECT CAST(sum(f) AS BIGINT) AS fy FROM cells GROUP BY y)
    ), tot AS (SELECT CAST(sum(f) AS BIGINT) AS n FROM cells)
    SELECT t.n,
           CAST(c.conc AS BIGINT) AS concordant,
           CAST(c.disc AS BIGINT) AS discordant,
           floor((CAST(c.conc AS DOUBLE) - CAST(c.disc AS DOUBLE))
                 / sqrt((CAST(t.n AS DOUBLE)*(t.n - 1)/2.0e0
                         - CAST(x.t1 AS DOUBLE)/2.0e0)
                        * (CAST(t.n AS DOUBLE)*(t.n - 1)/2.0e0
                           - CAST(y.t2 AS DOUBLE)/2.0e0))
                 * 1.0e6 + 0.5) / 1.0e6 AS kendall_tau_b
    FROM cd c CROSS JOIN xm x CROSS JOIN ym y CROSS JOIN tot t
    """,
)
def lineitem_kendall_tau_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b between discount and quantity from the contingency
    table: concordant/discordant pair counts are exact products of cell
    frequencies over the ~(11 discount levels × 50 quantities) grid —
    O(cells²) instead of O(n²), the correct way to run a rank
    correlation on heavily tied data at any corpus size. The cell-pair
    enumeration is a bounded broadcast (≤ ~550-row dimension against
    itself, a BroadcastNestedLoopJoin — linear in cells², never in
    rows²); tie terms from the margins; one exact-integer finish."""
    li = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    ).agg(F.count(F.lit(1)).cast("long").alias("f"))
    a = cells.select(
        F.col("x").alias("ax"), F.col("y").alias("ay"), F.col("f").alias("af")
    )
    b = cells.select(
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("f").alias("bf")
    )
    prod = F.col("af").cast("decimal(19,0)") * F.col("bf").cast("decimal(19,0)")
    cd = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when(
                (F.col("bx") > F.col("ax")) & (F.col("by") > F.col("ay")), prod
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("conc"),
        F.sum(
            F.when(
                (F.col("bx") > F.col("ax")) & (F.col("by") < F.col("ay")), prod
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("disc"),
    )
    xm = (
        cells.groupBy("x")
        .agg(F.sum("f").cast("long").alias("fx"))
        .agg(
            F.sum(
                F.col("fx").cast("decimal(19,0)")
                * (F.col("fx") - 1).cast("decimal(19,0)")
            ).alias("t1")
        )
    )
    ym = (
        cells.groupBy("y")
        .agg(F.sum("f").cast("long").alias("fy"))
        .agg(
            F.sum(
                F.col("fy").cast("decimal(19,0)")
                * (F.col("fy") - 1).cast("decimal(19,0)")
            ).alias("t2")
        )
    )
    tot = cells.agg(F.sum("f").cast("long").alias("n"))
    j = (
        cd.crossJoin(F.broadcast(xm))
        .crossJoin(F.broadcast(ym))
        .crossJoin(F.broadcast(tot))
    )
    n0 = F.col("n").cast("double") * (F.col("n") - 1) / 2.0
    return j.select(
        "n",
        F.col("conc").cast("long").alias("concordant"),
        F.col("disc").cast("long").alias("discordant"),
        (
            F.floor(
                (F.col("conc").cast("double") - F.col("disc").cast("double"))
                / F.sqrt(
                    (n0 - F.col("t1").cast("double") / 2.0)
                    * (n0 - F.col("t2").cast("double") / 2.0)
                )
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("kendall_tau_b"),
    )


@register(
    "orders_first_vs_repeat_value",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ), marked AS (
      SELECT CASE WHEN rn = 1 THEN 'first' ELSE 'repeat' END AS order_kind,
             cents
      FROM o
    )
    SELECT order_kind, CAST(count(*) AS BIGINT) AS n_orders,
           floor(CAST(sum(cents) AS DOUBLE) / 100.0 / count(*) * 1.0e2 + 0.5)
             / 1.0e2 AS avg_value,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM marked GROUP BY order_kind
    """,
)
def orders_first_vs_repeat_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection-bias audit: average order value of each customer's
    FIRST order vs all repeat orders — the acquisition-vs-retention
    value gap every LTV model must not conflate (a first-order discount
    shows up here before it shows up anywhere else). One per-customer
    ordered window, exact cents."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    marked = o.select(
        F.when(F.row_number().over(w) == 1, "first")
        .otherwise("repeat")
        .alias("order_kind"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    return marked.groupBy("order_kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        (
            F.floor(
                F.sum("cents").cast("double")
                / 100.0
                / F.count(F.lit(1))
                * 1.0e2
                + 0.5
            )
            / 1.0e2
        ).alias("avg_value"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


@register(
    "supplier_balance_quantile_normalize",
    oracle="""
    WITH s AS (
      SELECT s_suppkey,
             CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT) AS cents,
             row_number() OVER (ORDER BY s_acctbal, s_suppkey) AS r,
             CAST(count(*) OVER () AS BIGINT) AS n_s
      FROM supplier
    ), c AS (
      SELECT CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents,
             row_number() OVER (ORDER BY c_acctbal, c_custkey) AS r,
             CAST(count(*) OVER () AS BIGINT) AS n_c
      FROM customer
    ), mapped AS (
      SELECT s.s_suppkey, s.cents AS supplier_cents,
             -- target index: round((r-0.5)/n_s * n_c + 0.5), clamped
             least(greatest(CAST(floor((s.r - 0.5e0) / s.n_s * n_c.n_c
                                       + 1.0e0) AS BIGINT), 1),
                   n_c.n_c) AS tgt
      FROM s CROSS JOIN (SELECT max(n_c) AS n_c FROM c) n_c
    )
    SELECT m.s_suppkey, m.supplier_cents,
           c.cents AS normalized_cents
    FROM mapped m JOIN c ON c.r = m.tgt
    """,
)
def supplier_balance_quantile_normalize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile normalization of supplier balances onto the customer
    balance distribution: supplier at empirical quantile q maps to the
    customer value at the same q — the distribution-matching transform
    feature pipelines use to make two sources comparable. Both sides
    rank once via ranked_cumsum_two_pass (round-9 migration — both
    sides scale with SF, so global-order windows would sort each in
    one task; balances are exact 2-dp decimals, so ordering by integer
    cents is order-identical to ordering by the raw balance); the index
    mapping is exact integer arithmetic with edge clamping; the lookup
    is an equi-join on the target rank."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    ns = s.agg(F.count(F.lit(1)).cast("long").alias("n_s"))
    nc = c.agg(F.count(F.lit(1)).cast("long").alias("n_c"))
    sr = ranked_cumsum_two_pass(
        s.select(
            "s_suppkey",
            F.floor(F.col("s_acctbal") * 100.0 + 0.5)
            .cast("long")
            .alias("supplier_cents"),
        ),
        "supplier_cents", "s_suppkey",
        out_rank="r", out_cum="__cum_unused", ascending=True,
    ).drop("__cum_unused").crossJoin(F.broadcast(ns))
    cr = ranked_cumsum_two_pass(
        c.select(
            "c_custkey",
            F.floor(F.col("c_acctbal") * 100.0 + 0.5).cast("long").alias("cents"),
        ),
        "cents", "c_custkey",
        out_rank="r", out_cum="__cum_unused", ascending=True,
    ).select("cents", "r")
    mapped = sr.crossJoin(F.broadcast(nc)).select(
        "s_suppkey",
        "supplier_cents",
        F.least(
            F.greatest(
                F.floor(
                    (F.col("r") - 0.5) / F.col("n_s") * F.col("n_c") + 1.0
                ).cast("long"),
                F.lit(1).cast("long"),
            ),
            F.col("n_c"),
        ).alias("tgt"),
    )
    # Plain equi-join on the target rank (no broadcast hint: the
    # customer rank table scales with SF — AQE picks broadcast when it
    # actually fits).
    return mapped.join(
        cr.select(F.col("r").alias("tgt"), "cents"), "tgt"
    ).select(
        "s_suppkey",
        "supplier_cents",
        F.col("cents").alias("normalized_cents"),
    )


# ===========================================================================
# Wave N — the chemical potential of water in ice (the one IAPWS-06
# Gibbs surface with no query yet — GSW twin: gsw_chem_potential_water_ice in
# GSW/_wrapped_ufuncs.py, re-exported via GSW/ice.py, which returns
# the Gibbs energy g(t, p) itself), and a Cohen's-kappa inter-labeler
# agreement audit over the documents table (the annotator-agreement
# check a labeling pipeline runs before trusting a heuristic filter).
# ===========================================================================
def _chem_pot_ice_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.ice import gibbs_ice_stages
    from cioos_siooc_data_transform_spark.plans.staged_r8 import _ICE_IN_SQL

    staged = _stage_sql(_ICE_IN_SQL, gibbs_ice_stages("t", "p"))
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(gibbs_ice * 1.0e4 + 0.5) / 1.0e4 AS chem_pot_water_ice
    FROM {staged}
    """


@register("gsw_chem_potential_water_ice", oracle=_chem_pot_ice_oracle())
def gsw_chem_potential_water_ice(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chemical potential of water in ice Ih = the IAPWS-06 Gibbs
    energy g(t, p) itself [J/kg] (GSW twin:
    gsw_chem_potential_water_ice — GSW/ice.py returns gibbs_ice(0,0)
    verbatim). Table-6 pinned via the shared gibbs_ice stage chain in
    tests/test_oceanography_checkvalues.py; |g| <= ~4e4 J/kg over the
    wave-H input envelope, so the 1e-4 floor sits ~1e-8 relative —
    five decades above the cross-engine transcendental noise. Zero
    shuffle, pure whole-stage codegen."""
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r8 import _ice_inputs

    df = _ice_inputs(spark, sf_dir)
    for name, expr in gibbs_ice_stages("t", "p"):
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("gibbs_ice") * 1.0e4 + 0.5) / 1.0e4).alias(
            "chem_pot_water_ice"
        ),
    )


def _kappa_sw_list() -> str:
    from cioos_siooc_data_transform_spark.operators.text import LANG_STOPWORDS

    return "[" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"]) + "]"


def _cohen_kappa_oracle() -> str:
    sw = _kappa_sw_list()
    return f"""
    WITH w AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(list_filter(string_split(text, ' '),
                      x -> list_contains({sw}, x))) AS BIGINT) AS stop_hits
      FROM documents
    ), m AS (
      SELECT stop_hits * 1000 // n_tokens AS swm,
             (n_chars - n_tokens + 1) * 1000 // n_tokens AS mwl
      FROM w WHERE n_tokens > 0
    ), lab AS (
      SELECT CASE WHEN swm < 46 THEN 0 WHEN swm < 71 THEN 1 ELSE 2 END
               AS label_a,
             CASE WHEN mwl < 4433 THEN 0 WHEN mwl < 4585 THEN 1 ELSE 2 END
               AS label_b
      FROM m
    ), cont AS (
      SELECT label_a, label_b, CAST(count(*) AS BIGINT) AS n
      FROM lab GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(sum(n) AS HUGEINT) AS n_total,
             CAST(sum(CASE WHEN label_a = label_b THEN n ELSE 0 END)
                  AS HUGEINT) AS agree_n
      FROM cont
    ), pe AS (
      SELECT sum(CAST(r.row_n AS HUGEINT) * CAST(c.col_n AS HUGEINT))
               AS pe_num
      FROM (SELECT label_a, sum(n) AS row_n FROM cont GROUP BY 1) r
      JOIN (SELECT label_b, sum(n) AS col_n FROM cont GROUP BY 1) c
        ON c.label_b = r.label_a
    )
    SELECT cont.label_a, cont.label_b, cont.n,
           floor(CAST(tot.n_total * tot.agree_n - pe.pe_num AS DOUBLE)
                 / CAST(tot.n_total * tot.n_total - pe.pe_num AS DOUBLE)
                 * 1.0e9 + 0.5) / 1.0e9 AS kappa
    FROM cont CROSS JOIN tot CROSS JOIN pe
    """


@register("doc_quality_cohen_kappa", oracle=_cohen_kappa_oracle())
def doc_quality_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent heuristic quality labelers
    over documents — labeler A buckets by stopword density (per-mille
    terciles 46/71), labeler B by mean word length (milli-char terciles
    4433/4585). The agreement audit a data pipeline runs before
    trusting one heuristic as ground truth for another. Output: the
    full 3x3 contingency (label_a, label_b, n) with kappa attached.

    Exactness: labels are pure integer arithmetic (floor of int*1000 /
    int — bit-identical to DuckDB's `//` for non-negative operands);
    kappa = (N*agree - sum r_i*c_i) / (N^2 - sum r_i*c_i) is computed
    from exact decimal(38,0) sums and divided once in double, so the
    1e-9 floor is deterministic. Scale shape: one map-side-combinable
    3x3 groupBy over the corpus; everything downstream operates on <=9
    rows (broadcast); no skew exposure."""
    from cioos_siooc_data_transform_spark.operators.text import (
        LANG_STOPWORDS,
        stopword_occurrences,
        words_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    words = words_expr(F.col("text"))
    w = docs.select(
        F.size(words).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        stopword_occurrences(words, LANG_STOPWORDS["en"])
        .cast("long")
        .alias("stop_hits"),
    ).filter(F.col("n_tokens") > 0)
    m = w.select(
        F.floor(F.col("stop_hits") * 1000 / F.col("n_tokens"))
        .cast("long")
        .alias("swm"),
        F.floor(
            (F.col("n_chars") - F.col("n_tokens") + 1)
            * 1000
            / F.col("n_tokens")
        )
        .cast("long")
        .alias("mwl"),
    )
    lab = m.select(
        F.when(F.col("swm") < 46, 0)
        .when(F.col("swm") < 71, 1)
        .otherwise(2)
        .cast("int")
        .alias("label_a"),
        F.when(F.col("mwl") < 4433, 0)
        .when(F.col("mwl") < 4585, 1)
        .otherwise(2)
        .cast("int")
        .alias("label_b"),
    )
    cont = lab.groupBy("label_a", "label_b").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    tot = cont.agg(
        F.sum("n").cast("decimal(19,0)").alias("n_total"),
        F.sum(
            F.when(F.col("label_a") == F.col("label_b"), F.col("n")).otherwise(
                F.lit(0)
            )
        )
        .cast("decimal(19,0)")
        .alias("agree_n"),
    )
    row = cont.groupBy("label_a").agg(
        F.sum("n").cast("decimal(19,0)").alias("row_n")
    )
    col = cont.groupBy("label_b").agg(
        F.sum("n").cast("decimal(19,0)").alias("col_n")
    )
    pe = (
        row.join(F.broadcast(col), F.col("label_a") == F.col("label_b"))
        .agg(F.sum(F.col("row_n") * F.col("col_n")).alias("pe_num"))
    )
    kappa = (
        F.floor(
            (
                (dec("n_total") * dec("agree_n") - F.col("pe_num")).cast(
                    "double"
                )
                / (dec("n_total") * dec("n_total") - F.col("pe_num")).cast(
                    "double"
                )
            )
            * 1.0e9
            + 0.5
        )
        / 1.0e9
    ).alias("kappa")
    return (
        cont.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(pe))
        .select("label_a", "label_b", "n", kappa)
    )


