"""Round-12 query slate: 50 live queries, each registered at import
with ``register``; strict-harness coverage in tests/test_staged_r12.py.

Content:
- Waves A/E — GSW via symdiff: CT first/second derivatives, pt first
  derivatives, entropy first AND second derivatives wrt (SA, CT)
  (full chain rule, Newton-FD pinned), specvol/enthalpy second
  derivatives, rho wrt enthalpy, t_from_pt0_ice, SA freezing from t,
  entropy from CT.
- Statistics: Theil-Sen, spectral flatness, spend ICC, Wilcoxon
  signed-rank (two-pass midranks), two-sample ENERGY DISTANCE (new
  multi_weighted_cumsum_two_pass operator), gap-exponentiality KS,
  stochastic dominance, ZTP fit, QTE, shift-share, Jarque-Bera-free
  diagnostics (stdres outliers), SBC demand classification, NBD/ICC
  siblings, day-k retention, discounted LTV, new-customer share.
- Pipeline knob curves: decontamination n-size, LSH bands x rows,
  bucket-cap recall, winnowing window, MinHash width (r11), CM width,
  fps budget, OOV-vs-vocab, support threshold.
- Audits: FD violations, frame-hash dedup, PPS Horvitz-Thompson,
  langid calibration, centroid-classifier confusion, IVF cell
  balance, SRP bit independence, price endings, unit-price
  dispersion, stock cover, triangle config-null, price
  assortativity, CR4, IOS channel-unit profile (second self-authored
  sample), chars-per-token (r11), STTR, block-entropy curve.

Plan audit (plan_guards.find_unpartitioned_windows at sf0.001): the
slate is DETECTOR-CLEAN — zero non-operator-internal unpartitioned
windows, so it needs no allowlist entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cioos_siooc_data_transform_spark.plans.staged_r11 import _stage_sql_cte
from cioos_siooc_data_transform_spark.plans.registry import register
from cioos_siooc_data_transform_spark.session import read_table as _t


# ===========================================================================
# Wave A — GSW CT-derivative tranche (symbolic differentiation of the
# ct_from_pt polynomial; FD-pinned in tests). Inputs are the standard
# (SA = s·SSO/35, pt = t) synthetic grid; p-derivative surfaces use the
# entropy chain at p = 0. All per-row whole-stage-codegen expressions.
# ===========================================================================
def _ctd_inner() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _IN_SQL,
        _SA_SQL,
    )

    return f"""
      SELECT l_orderkey, l_linenumber, {_SA_SQL} AS sa, t AS pt
      FROM ({_IN_SQL})
    """


def _ctd_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _inputs,
    )

    return _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_SA_SQL).alias("sa"),
        F.col("t").alias("pt"),
    )


def _ct_first_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_derivative_sql,
    )

    return f"""
    SELECT l_orderkey, l_linenumber,
           floor({ct_derivative_sql("sa", "pt", 1, 0)} * 1.0e9 + 0.5) / 1.0e9
             AS ct_sa,
           floor({ct_derivative_sql("sa", "pt", 0, 1)} * 1.0e9 + 0.5) / 1.0e9
             AS ct_pt
    FROM ({_ctd_inner()})
    """


@register("gsw_ct_first_derivatives", oracle=_ct_first_oracle())
def gsw_ct_first_derivatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """∂CT/∂SA and ∂CT/∂pt of the conservative-temperature polynomial
    (GSW twin: gsw_CT_first_derivatives) — the Jacobian every
    (SA, pt) <-> (SA, CT) coordinate change uses — as SYMBOLIC
    derivatives of the shipped ct_from_pt fit (functions/symdiff.py;
    FD-pinned in tests/test_oceanography_checkvalues.py). One shared
    literal tree per column, zero shuffle."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_derivative_sql,
    )

    df = _ctd_inputs(spark, sf_dir)
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor(F.expr(ct_derivative_sql("sa", "pt", 1, 0)) * 1.0e9 + 0.5)
            / 1.0e9
        ).alias("ct_sa"),
        (
            F.floor(F.expr(ct_derivative_sql("sa", "pt", 0, 1)) * 1.0e9 + 0.5)
            / 1.0e9
        ).alias("ct_pt"),
    )


def _ct_second_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_derivative_sql,
    )

    return f"""
    SELECT l_orderkey, l_linenumber,
           floor({ct_derivative_sql("sa", "pt", 2, 0)} * 1.0e12 + 0.5)
             / 1.0e12 AS ct_sa_sa,
           floor({ct_derivative_sql("sa", "pt", 1, 1)} * 1.0e12 + 0.5)
             / 1.0e12 AS ct_sa_pt,
           floor({ct_derivative_sql("sa", "pt", 0, 2)} * 1.0e12 + 0.5)
             / 1.0e12 AS ct_pt_pt
    FROM ({_ctd_inner()})
    """


@register("gsw_ct_second_derivatives", oracle=_ct_second_oracle())
def gsw_ct_second_derivatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second derivatives CT_SA_SA, CT_SA_pt, CT_pt_pt (GSW twin:
    gsw_CT_second_derivatives) — the curvature of the CT(SA, pt)
    surface that second-order water-mass transformations consume —
    by differentiating the symbolic first derivatives AGAIN (the
    differentiator composes). FD-pinned; per-row math only."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_derivative_sql,
    )

    df = _ctd_inputs(spark, sf_dir)
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor(F.expr(ct_derivative_sql("sa", "pt", 2, 0)) * 1.0e12 + 0.5)
            / 1.0e12
        ).alias("ct_sa_sa"),
        (
            F.floor(F.expr(ct_derivative_sql("sa", "pt", 1, 1)) * 1.0e12 + 0.5)
            / 1.0e12
        ).alias("ct_sa_pt"),
        (
            F.floor(F.expr(ct_derivative_sql("sa", "pt", 0, 2)) * 1.0e12 + 0.5)
            / 1.0e12
        ).alias("ct_pt_pt"),
    )


def _pt_first_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_derivative_sql,
    )

    ct_sa = ct_derivative_sql("sa", "pt", 1, 0)
    ct_pt = ct_derivative_sql("sa", "pt", 0, 1)
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor((-({ct_sa}) / ({ct_pt})) * 1.0e9 + 0.5) / 1.0e9 AS pt_sa,
           floor((1.0e0 / ({ct_pt})) * 1.0e9 + 0.5) / 1.0e9 AS pt_ct
    FROM ({_ctd_inner()})
    """


@register("gsw_pt_first_derivatives", oracle=_pt_first_oracle())
def gsw_pt_first_derivatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """∂pt/∂SA at constant CT and ∂pt/∂CT (GSW twin:
    gsw_pt_first_derivatives) via the implicit inverse of the CT
    surface: pt_CT = 1/CT_pt and pt_SA = −CT_SA/CT_pt, both from the
    symbolic Jacobian — no Newton iteration needed for the DERIVATIVES
    even though pt(SA, CT) itself requires one. Evaluated on the
    (SA, pt) grid, i.e. at CT = ct_from_pt(SA, pt) (the roundtrip
    contract of the inversion family)."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_derivative_sql,
    )

    df = _ctd_inputs(spark, sf_dir)
    ct_sa = F.expr(ct_derivative_sql("sa", "pt", 1, 0))
    ct_pt = F.expr(ct_derivative_sql("sa", "pt", 0, 1))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(-ct_sa / ct_pt * 1.0e9 + 0.5) / 1.0e9).alias("pt_sa"),
        (F.floor(F.lit(1.0) / ct_pt * 1.0e9 + 0.5) / 1.0e9).alias("pt_ct"),
    )


def _eta_first_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_derivative_sql,
        entropy_sa_derivative_sql,
        entropy_t_derivative_sql,
    )

    eta_t = entropy_t_derivative_sql("sa", "pt", "0.0e0")
    eta_sa = entropy_sa_derivative_sql("sa", "pt", "0.0e0")
    ct_sa = ct_derivative_sql("sa", "pt", 1, 0)
    ct_pt = ct_derivative_sql("sa", "pt", 0, 1)
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor((({eta_sa}) - ({eta_t}) * ({ct_sa}) / ({ct_pt}))
                 * 1.0e9 + 0.5) / 1.0e9 AS eta_sa_at_ct,
           floor((({eta_t}) / ({ct_pt})) * 1.0e9 + 0.5) / 1.0e9 AS eta_ct
    FROM ({_ctd_inner()})
    """


@register("gsw_entropy_first_derivatives", oracle=_eta_first_oracle())
def gsw_entropy_first_derivatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """∂η/∂SA at constant CT and ∂η/∂CT (GSW twin:
    gsw_entropy_first_derivatives) by the chain rule through the CT
    Jacobian: η_CT = η_pt/CT_pt and η_SA|CT = η_SA|pt −
    η_pt·CT_SA/CT_pt, every factor a symbolic derivative of a shipped
    polynomial (entropy at p = 0, ct_from_pt) — the composition that
    closes the (SA, CT) thermodynamic gradient surface without any
    hand-derived table. FD-pinned via its factors; zero shuffle."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_derivative_sql,
        entropy_sa_derivative_sql,
        entropy_t_derivative_sql,
    )

    df = _ctd_inputs(spark, sf_dir)
    eta_t = F.expr(entropy_t_derivative_sql("sa", "pt", "0.0e0"))
    eta_sa = F.expr(entropy_sa_derivative_sql("sa", "pt", "0.0e0"))
    ct_sa = F.expr(ct_derivative_sql("sa", "pt", 1, 0))
    ct_pt = F.expr(ct_derivative_sql("sa", "pt", 0, 1))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor((eta_sa - eta_t * ct_sa / ct_pt) * 1.0e9 + 0.5) / 1.0e9
        ).alias("eta_sa_at_ct"),
        (F.floor(eta_t / ct_pt * 1.0e9 + 0.5) / 1.0e9).alias("eta_ct"),
    )


# ===========================================================================
# Wave B — robust trend / spectrum / variance-components statistics.
# ===========================================================================
@register(
    "orders_theil_sen_trend",
    oracle="""
    WITH m AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS ym,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    p AS (
      SELECT CAST(floor(CAST(b.rev - a.rev AS DOUBLE)
                        / CAST(b.ym - a.ym AS DOUBLE) + 0.5) AS BIGINT)
               AS slope
      FROM m a JOIN m b ON a.ym < b.ym
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(quantile_cont(slope * 2, 0.5) AS BIGINT) AS med2
      FROM p
    ),
    nm AS (SELECT CAST(count(*) AS BIGINT) AS n_months FROM m)
    SELECT n_months, n_pairs,
           floor(CAST(med2 AS DOUBLE) / 2.0e0 / 100.0e0 * 1.0e2 + 0.5)
             / 1.0e2 AS theil_sen_dollars_per_month
    FROM s, nm
    """,
)
def orders_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen slope of monthly revenue: the median of all pairwise
    month-to-month slopes — the robust trend estimator with a 29.3%
    breakdown point, immune to the holiday spikes that drag OLS.
    Pairwise slopes run over the calendar-bounded month table (~3e3
    pairs per decade — quadratic in MONTHS, not rows); each slope is
    floored to integer cents/month so the doubled-integer median is
    exact on both engines."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("ym")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("rev")
    )
    a = m.select(F.col("ym").alias("ym_a"), F.col("rev").alias("rev_a"))
    b = m.select(F.col("ym").alias("ym_b"), F.col("rev").alias("rev_b"))
    p = a.join(b, F.col("ym_a") < F.col("ym_b")).select(
        F.floor(
            (F.col("rev_b") - F.col("rev_a")).cast("double")
            / (F.col("ym_b") - F.col("ym_a")).cast("double")
            + 0.5
        )
        .cast("long")
        .alias("slope")
    )
    s = p.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("CAST(percentile(slope * 2, 0.5) AS BIGINT)").alias("med2"),
    )
    nm = m.agg(F.count(F.lit(1)).cast("long").alias("n_months"))
    return nm.crossJoin(F.broadcast(s)).select(
        "n_months",
        "n_pairs",
        (
            F.floor(
                F.col("med2").cast("double") / 2.0 / 100.0 * 1.0e2 + 0.5
            )
            / 1.0e2
        ).alias("theil_sen_dollars_per_month"),
    )


@register(
    "events_spectral_flatness",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400
               - (SELECT min(CAST(floor(epoch(ts)) AS BIGINT) // 86400)
                  FROM events) AS k,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_days FROM d),
    fr AS (SELECT unnest(generate_series(1, 10)) AS f),
    terms AS (
      SELECT f,
             CAST(floor(n * cos(2.0e0 * 3.141592653589793e0 * f * k / n_days)
                        * 1.0e6 + 0.5) AS HUGEINT) AS cu,
             CAST(floor(n * sin(2.0e0 * 3.141592653589793e0 * f * k / n_days)
                        * 1.0e6 + 0.5) AS HUGEINT) AS su
      FROM d, fr, nn
    ),
    pw AS (
      SELECT f,
             (CAST(sum(cu) AS DOUBLE) / 1.0e6)
               * (CAST(sum(cu) AS DOUBLE) / 1.0e6)
             + (CAST(sum(su) AS DOUBLE) / 1.0e6)
               * (CAST(sum(su) AS DOUBLE) / 1.0e6) AS p
      FROM terms GROUP BY f
    ),
    agg AS (
      SELECT CAST(sum(CAST(floor(ln(p) * 1.0e9 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1.0e9 / count(*) AS mean_ln,
             CAST(sum(CAST(floor(p * 1.0e3 + 0.5) AS HUGEINT)) AS DOUBLE)
               / 1.0e3 / count(*) AS mean_p,
             CAST(count(*) AS BIGINT) AS n_freqs
      FROM pw
    ),
    top AS (
      SELECT f AS dominant_freq FROM pw ORDER BY p DESC, f LIMIT 1
    )
    SELECT n_freqs, CAST(dominant_freq AS BIGINT) AS dominant_freq,
           floor(exp(mean_ln) / mean_p * 1.0e6 + 0.5) / 1.0e6
             AS spectral_flatness
    FROM agg, top
    """,
)
def events_spectral_flatness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral flatness (Wiener entropy) of the daily event-count
    series over the first 10 Fourier frequencies: geometric-mean power
    over arithmetic-mean power — near 1 means white (no periodic
    structure), near 0 means the energy concentrates in one line (the
    dominant frequency, also reported). The single-bin DFT queries pin
    one frequency each; flatness summarizes the whole low band. Per-day
    trig terms quantize to 1e-6 integer units before the per-frequency
    exact sums; day table is calendar-bounded."""
    ev = _t(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("long") / 86400).cast("long")
    d0 = ev.agg(F.min(day).alias("k0"))
    d = (
        ev.crossJoin(F.broadcast(d0))
        .groupBy((day - F.col("k0")).alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    nn = d.agg(F.count(F.lit(1)).cast("double").alias("n_days"))
    fr = spark.range(1, 11).select(F.col("id").alias("f"))
    pi = 3.141592653589793
    ang = F.lit(2.0 * pi) * F.col("f") * F.col("k") / F.col("n_days")
    terms = (
        d.crossJoin(F.broadcast(fr))
        .crossJoin(F.broadcast(nn))
        .select(
            "f",
            F.floor(F.col("n") * F.cos(ang) * 1.0e6 + 0.5)
            .cast("decimal(38,0)")
            .alias("cu"),
            F.floor(F.col("n") * F.sin(ang) * 1.0e6 + 0.5)
            .cast("decimal(38,0)")
            .alias("su"),
        )
    )
    pw = terms.groupBy("f").agg(
        (
            (F.sum("cu").cast("double") / 1.0e6)
            * (F.sum("cu").cast("double") / 1.0e6)
            + (F.sum("su").cast("double") / 1.0e6)
            * (F.sum("su").cast("double") / 1.0e6)
        ).alias("p")
    )
    agg = pw.agg(
        (
            F.sum(F.floor(F.log("p") * 1.0e9 + 0.5).cast("long"))
            .cast("double")
            / 1.0e9
            / F.count(F.lit(1))
        ).alias("mean_ln"),
        (
            F.sum(F.floor(F.col("p") * 1.0e3 + 0.5).cast("decimal(38,0)"))
            .cast("double")
            / 1.0e3
            / F.count(F.lit(1))
        ).alias("mean_p"),
        F.count(F.lit(1)).cast("long").alias("n_freqs"),
    )
    top = pw.orderBy(F.col("p").desc(), "f").limit(1).select(
        F.col("f").cast("long").alias("dominant_freq")
    )
    return agg.crossJoin(F.broadcast(top)).select(
        "n_freqs",
        "dominant_freq",
        (
            F.floor(F.exp(F.col("mean_ln")) / F.col("mean_p") * 1.0e6 + 0.5)
            / 1.0e6
        ).alias("spectral_flatness"),
    )


@register(
    "customer_spend_intraclass_corr",
    oracle="""
    WITH o AS (
      SELECT o_custkey AS cust,
             CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                  AS HUGEINT) AS y
      FROM orders
    ),
    per AS (
      SELECT cust, CAST(count(*) AS HUGEINT) AS n, sum(y) AS s,
             sum(y * y) AS ss
      FROM o GROUP BY cust HAVING count(*) >= 2
    ),
    a AS (
      SELECT CAST(count(*) AS DOUBLE) AS k, CAST(sum(n) AS DOUBLE) AS nn,
             CAST(sum(s) AS DOUBLE) AS st,
             sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               AS s2n,
             CAST(sum(ss) AS DOUBLE) AS sst,
             sum(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS sn2
      FROM per
    ),
    f AS (
      SELECT k, nn,
             (s2n - st * st / nn) / (k - 1.0e0) AS msb,
             (sst - s2n) / (nn - k) AS msw,
             (nn - sn2 / nn) / (k - 1.0e0) AS n0
      FROM a
    )
    SELECT CAST(k AS BIGINT) AS n_customers, CAST(nn AS BIGINT) AS n_orders,
           floor(msw / 1.0e4 + 0.5) / 1.0e0 AS ms_within_dollars2,
           floor((msb - msw) / (msb + (n0 - 1.0e0) * msw) * 1.0e6 + 0.5)
             / 1.0e6 AS icc
    FROM f
    """,
)
def customer_spend_intraclass_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraclass correlation of order values within customers (one-way
    random-effects ANOVA, unbalanced-design n0 correction): ICC =
    (MSB − MSW)/(MSB + (n0−1)·MSW) — how much of spend variance is a
    stable customer trait vs per-order noise, the number that says
    whether customer-level spend features carry signal. Repeat
    customers only (singletons have no within variance); every sum
    exact HUGEINT/decimal, the unbalanced n0 = (N − Σn²/N)/(k−1)
    computed from the same aggregates."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("decimal(38,0)")
        .alias("y"),
    )
    per = (
        o.groupBy("cust")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("y").alias("s"),
            F.sum(F.col("y") * F.col("y")).alias("ss"),
        )
        .filter(F.col("n") >= 2)
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    a = per.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("n").cast("double").alias("nn"),
        F.sum("s").cast("double").alias("st"),
        F.sum(sd * sd / nd).alias("s2n"),
        F.sum("ss").cast("double").alias("sst"),
        F.sum(nd * nd).alias("sn2"),
    )
    k = F.col("k")
    nn = F.col("nn")
    msb = (F.col("s2n") - F.col("st") * F.col("st") / nn) / (k - F.lit(1.0))
    msw = (F.col("sst") - F.col("s2n")) / (nn - k)
    n0 = (nn - F.col("sn2") / nn) / (k - F.lit(1.0))
    return a.select(
        k.cast("long").alias("n_customers"),
        nn.cast("long").alias("n_orders"),
        (F.floor(msw / 1.0e4 + 0.5) / 1.0).alias("ms_within_dollars2"),
        (
            F.floor(
                (msb - msw) / (msb + (n0 - F.lit(1.0)) * msw) * 1.0e6 + 0.5
            )
            / 1.0e6
        ).alias("icc"),
    )


# ===========================================================================
# Wave C — sampling/index composition audits: PPS sampling with the
# Horvitz-Thompson estimator, cross-document duplicate-frame audit on
# the multimodal frame sampler, and the LSH (bands x rows) trade-off
# curve over a shared 16-function MinHash signature.
# ===========================================================================
@register(
    "sample_pps_horvitz_thompson",
    oracle="""
    WITH o AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
             CAST(((o_orderkey * 2654435761) % 4294967296) AS DOUBLE)
               / 4294967296.0e0 AS u
      FROM orders
    ),
    t AS (
      SELECT CAST(sum(cents) AS HUGEINT) AS total,
             CAST(count(*) AS BIGINT) AS n FROM o
    ),
    s AS (
      SELECT o.cents,
             least(2000.0e0 * CAST(o.cents AS DOUBLE) / CAST(total AS DOUBLE),
                   1.0e0) AS pi
      FROM o, t
      WHERE o.u < least(2000.0e0 * CAST(o.cents AS DOUBLE)
                        / CAST(total AS DOUBLE), 1.0e0)
    ),
    e AS (
      SELECT CAST(count(*) AS BIGINT) AS n_sampled,
             CAST(sum(CAST(floor(CAST(cents AS DOUBLE) / pi + 0.5)
                           AS HUGEINT)) AS DOUBLE) AS ht
      FROM s
    )
    SELECT n AS n_population, n_sampled,
           CAST(floor(CAST(total AS DOUBLE) / 100.0e0 + 0.5) AS BIGINT)
             AS true_total_dollars,
           CAST(floor(ht / 100.0e0 + 0.5) AS BIGINT)
             AS ht_estimate_dollars,
           floor((ht - CAST(total AS DOUBLE)) / CAST(total AS DOUBLE)
                 * 1.0e6 + 0.5) / 1.0e6 AS rel_error
    FROM e, t
    """,
)
def sample_pps_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size sampling with the Horvitz-
    Thompson total estimator: inclusion probability pi_i ∝ order value
    (capped at 1), membership decided by the deterministic Knuth-hash
    uniform u_i < pi_i (key-deterministic like every sampler here — no
    RNG, replays agree), estimate = Σ y_i/pi_i over the sample. PPS+HT
    is how a pipeline prices 'audit 2000 weighted rows instead of all'
    — the rel_error column IS the measured cost of that shortcut.
    Per-row HT terms floor to integer cents before the exact sum; two
    aggregate passes with a 1-row broadcast."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("cents"),
        (
            ((F.col("o_orderkey") * F.lit(2654435761)) % F.lit(4294967296))
            .cast("double")
            / F.lit(4294967296.0)
        ).alias("u"),
    )
    t = o.agg(
        F.sum("cents").cast("decimal(38,0)").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    j = o.crossJoin(F.broadcast(t))
    pi = F.least(
        F.lit(2000.0) * F.col("cents").cast("double")
        / F.col("total").cast("double"),
        F.lit(1.0),
    )
    s = j.filter(F.col("u") < pi).select(
        "cents",
        pi.alias("pi"),
        F.col("total"),
        F.col("n"),
    )
    e = s.agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum(
            F.floor(F.col("cents").cast("double") / F.col("pi") + 0.5).cast(
                "decimal(38,0)"
            )
        )
        .cast("double")
        .alias("ht"),
        F.max("total").alias("total"),
        F.max("n").alias("n"),
    )
    tot = F.col("total").cast("double")
    return e.select(
        F.col("n").alias("n_population"),
        "n_sampled",
        F.floor(tot / 100.0 + 0.5).cast("long").alias("true_total_dollars"),
        F.floor(F.col("ht") / 100.0 + 0.5)
        .cast("long")
        .alias("ht_estimate_dollars"),
        (
            F.floor((F.col("ht") - tot) / tot * 1.0e6 + 0.5) / 1.0e6
        ).alias("rel_error"),
    )


@register(
    "multimodal_frame_hash_dedup",
    oracle="""
    WITH f AS (
      SELECT doc_id, text,
             CAST((strlen(text) % 10) + 2 AS BIGINT) AS n_frames
      FROM documents
    ),
    idx AS (
      SELECT doc_id, text,
             unnest(generate_series(0, n_frames - 1, 2)) AS frame_idx
      FROM f
    ),
    sig AS (
      SELECT doc_id, md5(text || CAST(frame_idx AS VARCHAR)) AS frame_sig
      FROM idx
    ),
    per AS (
      SELECT frame_sig, CAST(count(*) AS BIGINT) AS n_frames,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM sig GROUP BY 1
    )
    SELECT CAST(sum(n_frames) AS BIGINT) AS total_frames,
           CAST(count(*) AS BIGINT) AS distinct_sigs,
           CAST(count(*) FILTER (n_docs >= 2) AS BIGINT) AS cross_doc_sigs,
           CAST(max(n_docs) AS BIGINT) AS max_docs_per_sig,
           floor(CAST(count(*) FILTER (n_docs >= 2) AS DOUBLE) / count(*)
                 * 1.0e6 + 0.5) / 1.0e6 AS cross_doc_share
    FROM per
    """,
)
def multimodal_frame_hash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-FRAME audit: run the registered frame
    sampler (sample_frames, 1→N mapInPandas with the deterministic
    stub codec), hash every sampled frame, and count signatures shared
    by >= 2 documents — the frame-level dedup signal video pipelines
    use to catch re-uploads and shared intros that doc-level hashing
    misses. Exact group-by on the 32-hex signature (the digest IS the
    bucket key — never pairwise); composition of the multimodal surface
    with the exact-dedup shape."""
    from cioos_siooc_data_transform_spark.operators.multimodal import (
        attach_binary_payload,
        sample_frames,
    )

    docs = _t(spark, sf_dir, "documents")
    media = attach_binary_payload(docs, "doc_id", "text", "source")
    frames = sample_frames(media, every_k=2, fake_decode=True)
    per = frames.groupBy("frame_sig").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )
    return per.agg(
        F.sum("n_frames").cast("long").alias("total_frames"),
        F.count(F.lit(1)).cast("long").alias("distinct_sigs"),
        F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("cross_doc_sigs"),
        F.max("n_docs").cast("long").alias("max_docs_per_sig"),
        (
            F.floor(
                F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1))
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("cross_doc_share"),
    )


_LSH_TRADEOFF_CONFIGS = ((2, 8), (4, 4), (8, 2))


def _lsh_tradeoff_oracle() -> str:
    def hash_sql(k: int) -> str:
        digest = (k - 1) // 4
        offset = ((k - 1) % 4) * 8 + 1
        return f"substr(md5(s || '#{digest}'), {offset}, 8)"

    sig_cols = ", ".join(
        f"min({hash_sql(k)}) AS h{k}" for k in range(1, 17)
    )
    per_cfg = []
    for bands, rows in _LSH_TRADEOFF_CONFIGS:
        buckets = " UNION ALL ".join(
            f"SELECT doc_id, md5('{b}' || "
            + " || ".join(f"h{b * rows + r + 1}" for r in range(rows))
            + ") AS bucket FROM sig"
            for b in range(bands)
        )
        per_cfg.append(f"""
    bk{bands} AS ({buckets}),
    gd{bands} AS (
      SELECT doc_id, bucket FROM (
        SELECT doc_id, bucket, count(*) OVER (PARTITION BY bucket) AS _n
        FROM bk{bands}
      ) WHERE _n <= 50
    ),
    cand{bands} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM gd{bands} a JOIN gd{bands} b USING (bucket)
      WHERE a.doc_id < b.doc_id
    ),
    row{bands} AS (
      SELECT {bands} AS bands, {rows} AS rows_per_band,
             (SELECT count(*) FROM cand{bands}) AS n_candidates,
             (SELECT count(*) FROM cand{bands} JOIN exact USING (doc_a, doc_b))
               AS n_hit
    )""")
    unions = " UNION ALL ".join(
        f"SELECT * FROM row{b}" for b, _ in _LSH_TRADEOFF_CONFIGS
    )
    return f"""
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
    exact AS (
      SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
               round(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
        FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
      ) WHERE jaccard >= 0.5
    ),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
    sig AS (SELECT doc_id, {sig_cols} FROM f GROUP BY doc_id),
    {", ".join(p.strip() for p in per_cfg)},
    allrows AS ({unions})
    SELECT CAST(bands AS BIGINT) AS bands,
           CAST(rows_per_band AS BIGINT) AS rows_per_band,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           ne.n_exact,
           floor(CAST(n_hit AS DOUBLE)
                 / nullif(CAST(ne.n_exact AS DOUBLE), 0.0e0) * 1.0e6 + 0.5)
             / 1.0e6 AS recall
    FROM allrows, ne ORDER BY bands
    """


@register("dedup_lsh_band_tradeoff", oracle=_lsh_tradeoff_oracle())
def dedup_lsh_band_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-curve made concrete: over ONE shared 16-function
    MinHash signature, compare band layouts 2x8 / 4x4 / 8x2 by realized
    candidate count and recall of the exact Jaccard>=0.5 pair set —
    more bands with shorter rows push the collision threshold
    (1/b)^(1/r) down (recall up, candidates up); the curve is the knob
    a dedup rollout reads together with the threshold sweep and the
    hash-width sweep. Reuses minhash_signature / lsh_band_buckets /
    lsh_candidate_pairs verbatim (mega-bucket cap 50 mirrored in the
    oracle); signatures are computed ONCE and reused across configs."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        lsh_band_buckets,
        lsh_candidate_pairs,
        minhash_signature,
        ngram_jaccard_pairs,
    )
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        distinct_shingles,
    )

    sh_all = distinct_shingles(spark, sf_dir)
    w_df = Window.partitionBy("s")
    f = (
        sh_all.withColumn("_df", F.count(F.lit(1)).over(w_df))
        .filter(F.col("_df") <= 10)
        .drop("_df")
    )
    exact = ngram_jaccard_pairs(
        sh_all, "doc_id", "s", threshold=0.5, max_doc_freq=10
    ).select("doc_a", "doc_b")
    ne = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    sig = minhash_signature(f, "doc_id", "s", num_hashes=16, hash_family="md5")
    out = None
    for bands, rows in _LSH_TRADEOFF_CONFIGS:
        cand = lsh_candidate_pairs(
            lsh_band_buckets(sig, "doc_id", num_hashes=16, bands=bands),
            "doc_id",
            max_bucket_size=50,
        )
        nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        nh = cand.join(exact, ["doc_a", "doc_b"]).agg(
            F.count(F.lit(1)).cast("long").alias("n_hit")
        )
        row = (
            nc.crossJoin(F.broadcast(nh))
            .crossJoin(F.broadcast(ne))
            .select(
                F.lit(bands).cast("long").alias("bands"),
                F.lit(rows).cast("long").alias("rows_per_band"),
                "n_candidates",
                "n_exact",
                (
                    F.floor(
                        F.col("n_hit").cast("double")
                        / F.nullif(
                            F.col("n_exact").cast("double"), F.lit(0.0)
                        )
                        * 1.0e6
                        + 0.5
                    )
                    / 1.0e6
                ).alias("recall"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("bands")


# ===========================================================================
# Wave D — GSW completions + paired rank test + acquisition mix.
# ===========================================================================
def _specvol2_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        cabbeling_thermobaric_stages,
        ct_from_t_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _IN_SQL,
        _SA_SQL,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r10 import (
        _CBTB_SECOND_KEEP,
    )

    inner = f"""
      SELECT l_orderkey, l_linenumber, p, {_SA_SQL} AS sa,
             {ct_from_t_sql("s", "t", "p")} AS ct
      FROM ({_IN_SQL})
    """
    stages = [
        s
        for s in cabbeling_thermobaric_stages("sa", "ct", "p")
        if s[0] in _CBTB_SECOND_KEEP
    ]
    staged = _stage_sql_cte(inner, stages)
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(__cbtb_v_sasa * 1.0e15 + 0.5) / 1.0e15 AS v_sa_sa,
           floor(__cbtb_v_ctsa * 1.0e15 + 0.5) / 1.0e15 AS v_sa_ct,
           floor(__cbtb_v_ctct * 1.0e15 + 0.5) / 1.0e15 AS v_ct_ct,
           floor(__cbtb_v_sap * 1.0e18 + 0.5) / 1.0e18 AS v_sa_p,
           floor(__cbtb_v_ctp * 1.0e18 + 0.5) / 1.0e18 AS v_ct_p
    FROM ({staged})
    """


@register("gsw_specvol_second_derivatives", oracle=_specvol2_oracle())
def gsw_specvol_second_derivatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second derivatives of the 75-term specific volume (v_SA_SA,
    v_SA_CT, v_CT_CT, v_SA_p, v_CT_p; GSW twin:
    gsw_specvol_second_derivatives) — the raw curvature surfaces that
    cabbeling/thermobaricity and the rho second derivatives are built
    from, exposed directly. Same FD-pinned analytic Horner stage family
    (cabbeling_thermobaric_stages); p-derivatives per dbar; zero
    shuffle."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        cabbeling_thermobaric_stages,
        ct_from_t_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _inputs,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r10 import (
        _CBTB_SECOND_KEEP,
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
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("__cbtb_v_sasa") * 1.0e15 + 0.5) / 1.0e15).alias(
            "v_sa_sa"
        ),
        (F.floor(F.col("__cbtb_v_ctsa") * 1.0e15 + 0.5) / 1.0e15).alias(
            "v_sa_ct"
        ),
        (F.floor(F.col("__cbtb_v_ctct") * 1.0e15 + 0.5) / 1.0e15).alias(
            "v_ct_ct"
        ),
        (F.floor(F.col("__cbtb_v_sap") * 1.0e18 + 0.5) / 1.0e18).alias(
            "v_sa_p"
        ),
        (F.floor(F.col("__cbtb_v_ctp") * 1.0e18 + 0.5) / 1.0e18).alias(
            "v_ct_p"
        ),
    )


def _t_from_pt0_ice_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )

    # forward: pt0 = pt0_from_t_ice(t, p) is the registered chain; here
    # we INVERT: given (pt0, p) find t with entropy(t, p) = entropy(pt0, 0).
    # Same two-Newton-step shape with the analytic ds/dT = -g_TT.
    stages: list[tuple[str, str]] = []
    stages += gibbs_ice_stages("pt0", "0.0e0", x="__tf0_", out="__tf0o_")
    stages.append(("__tf_t0", "pt0"))
    for k in (1, 2):
        stages += gibbs_ice_stages(
            f"__tf_t{k - 1}", "p", x=f"__tf{k}_", out=f"__tf{k}o_"
        )
        stages.append(
            (
                f"__tf_t{k}",
                f"(__tf_t{k - 1} + (__tf{k}o_entropy_ice - __tf0o_entropy_ice)"
                f" / __tf{k}_gtt)",
            )
        )
    stages.append(("t_from_pt0_ice", "__tf_t2"))
    return stages


def _t_from_pt0_ice_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r8 import _ICE_IN_SQL

    inner = f"""
      SELECT l_orderkey, l_linenumber, t AS pt0, p FROM ({_ICE_IN_SQL})
    """
    staged = _stage_sql_cte(inner, _t_from_pt0_ice_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(t_from_pt0_ice * 1.0e9 + 0.5) / 1.0e9 AS t_from_pt0_ice
    FROM ({staged})
    """


@register("gsw_t_from_pt0_ice", oracle=_t_from_pt0_ice_oracle())
def gsw_t_from_pt0_ice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-situ temperature of ice from its potential temperature (GSW
    twin: gsw_t_from_pt0_ice) — the inverse of the registered
    gsw_pt0_from_t_ice, same two-Newton-step entropy match with the
    analytic ds/dT = −g_TT but solving at pressure p for the t whose
    entropy equals entropy(pt0, 0). The synthetic grid reads (pt0, p)
    from the standard ice inputs; roundtrip composition with the
    forward chain is the natural offline check. Three prefixed Gibbs
    chains, flat-CTE oracle, zero shuffle."""
    from cioos_siooc_data_transform_spark.plans.staged_r8 import _ice_inputs

    df = _ice_inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        F.col("t").alias("pt0"),
        "p",
    )
    for name, expr in _t_from_pt0_ice_stages():
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("t_from_pt0_ice") * 1.0e9 + 0.5) / 1.0e9).alias(
            "t_from_pt0_ice"
        ),
    )


@register(
    "orders_wilcoxon_signed_rank",
    oracle="""
    WITH m AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS ym,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    d AS (
      SELECT cur.rev - prev.rev AS diff
      FROM m cur JOIN m prev ON cur.ym = prev.ym + 12
      WHERE cur.rev != prev.rev
    ),
    c AS (
      SELECT abs(diff) AS ad, CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (diff > 0) AS BIGINT) AS n_pos
      FROM d GROUP BY 1
    ),
    r AS (
      SELECT ad, n, n_pos,
             sum(n) OVER (ORDER BY ad ROWS UNBOUNDED PRECEDING) AS cum
      FROM c
    ),
    w AS (
      SELECT CAST(sum(n_pos * (2 * cum - n + 1)) AS HUGEINT) AS w2_plus,
             CAST(sum(n) AS HUGEINT) AS nn
      FROM r
    )
    SELECT CAST(nn AS BIGINT) AS n_pairs,
           floor(CAST(w2_plus AS DOUBLE) / 2.0e0 * 1.0e1 + 0.5) / 1.0e1
             AS w_plus,
           floor((CAST(w2_plus AS DOUBLE) / 2.0e0
                  - CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0e0)
                    / 4.0e0)
                 / sqrt(CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0e0)
                        * (2.0e0 * CAST(nn AS DOUBLE) + 1.0e0) / 24.0e0)
                 * 1.0e6 + 0.5) / 1.0e6 AS z_stat
    FROM w
    """,
)
def orders_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test of year-over-year monthly revenue
    growth: pair each month with the same month last year (equi-join on
    the integer month key), midrank the |differences| WITHOUT a global
    window (the two-pass weighted cumsum over the distinct-|d| table —
    doubled midranks 2·cum−n+1 stay integers), and sum ranks of the
    positive differences. The PAIRED location test the battery lacked
    (Mann–Whitney is unpaired, the sign test ignores magnitudes);
    z-statistic under the exact normal approximation. Zero-differences
    are dropped per the standard procedure."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("ym")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("rev")
    )
    prev = m.select(F.col("ym").alias("ym_p"), F.col("rev").alias("rev_p"))
    d = (
        m.join(prev, F.col("ym") == F.col("ym_p") + 12)
        .select((F.col("rev") - F.col("rev_p")).alias("diff"))
        .filter(F.col("diff") != 0)
    )
    c = d.groupBy(F.abs(F.col("diff")).alias("ad")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("diff") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
    ).withColumn("neg", -F.col("ad"))
    r = ranked_cumsum_two_pass(c, "neg", "neg", weight_col="n")
    w = r.agg(
        F.sum(
            (F.col("n_pos") * (2 * F.col("cum") - F.col("n") + 1)).cast(
                "decimal(38,0)"
            )
        ).alias("w2_plus"),
        F.sum("n").cast("decimal(38,0)").alias("nn"),
    )
    nn = F.col("nn").cast("double")
    w_plus = F.col("w2_plus").cast("double") / F.lit(2.0)
    mean = nn * (nn + F.lit(1.0)) / F.lit(4.0)
    sd = F.sqrt(nn * (nn + F.lit(1.0)) * (F.lit(2.0) * nn + F.lit(1.0)) / F.lit(24.0))
    return w.select(
        F.col("nn").cast("long").alias("n_pairs"),
        (F.floor(w_plus * 1.0e1 + 0.5) / 1.0e1).alias("w_plus"),
        (F.floor((w_plus - mean) / sd * 1.0e6 + 0.5) / 1.0e6).alias("z_stat"),
    )


@register(
    "orders_new_customer_share_trend",
    oracle="""
    WITH f AS (
      SELECT o_custkey,
             min(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS first_ym
      FROM orders GROUP BY 1
    ),
    m AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS ym,
             o_custkey
      FROM orders
    ),
    per AS (
      SELECT ym, CAST(count(DISTINCT o_custkey) AS BIGINT) AS active,
             CAST(count(DISTINCT CASE WHEN first_ym = ym
                                      THEN m.o_custkey END) AS BIGINT)
               AS new_custs
      FROM m JOIN f USING (o_custkey)
      GROUP BY ym
    )
    SELECT CAST(ym AS BIGINT) AS ym, active, new_custs,
           floor(CAST(new_custs AS DOUBLE) / CAST(active AS DOUBLE) * 1.0e6
                 + 0.5) / 1.0e6 AS new_share
    FROM per ORDER BY ym
    """,
)
def orders_new_customer_share_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly acquisition mix: distinct active customers per month and
    the share whose FIRST-EVER order lands that month — falling
    new-share with flat actives is a maturing book; the growth-
    accounting companion to the cohort-retention matrix viewed from the
    acquisition side. First-order month via one min-aggregate, joined
    back on customer (shuffle on the customer key, bounded months
    output)."""
    o = _t(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("ym")
    f = o.groupBy("o_custkey").agg(
        F.min(
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).alias("first_ym")
    )
    m = o.select(ym, "o_custkey")
    per = (
        m.join(f, "o_custkey")
        .groupBy("ym")
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("active"),
            F.countDistinct(
                F.when(F.col("first_ym") == F.col("ym"), F.col("o_custkey"))
            )
            .cast("long")
            .alias("new_custs"),
        )
    )
    return per.select(
        F.col("ym").cast("long").alias("ym"),
        "active",
        "new_custs",
        (
            F.floor(
                F.col("new_custs").cast("double")
                / F.col("active").cast("double")
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("new_share"),
    ).orderBy("ym")


# ===========================================================================
# Wave E — chain-rule closure + null models + knob sweeps.
# ===========================================================================
def _eta2_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_derivative_sql,
        entropy_p0_derivative_sql,
    )

    x = "__e2_"
    stages = [
        (f"{x}es", entropy_p0_derivative_sql("sa", "pt", 1, 0)),
        (f"{x}et", entropy_p0_derivative_sql("sa", "pt", 0, 1)),
        (f"{x}ess", entropy_p0_derivative_sql("sa", "pt", 2, 0)),
        (f"{x}est", entropy_p0_derivative_sql("sa", "pt", 1, 1)),
        (f"{x}ett", entropy_p0_derivative_sql("sa", "pt", 0, 2)),
        (f"{x}cs", ct_derivative_sql("sa", "pt", 1, 0)),
        (f"{x}ct", ct_derivative_sql("sa", "pt", 0, 1)),
        (f"{x}css", ct_derivative_sql("sa", "pt", 2, 0)),
        (f"{x}cst", ct_derivative_sql("sa", "pt", 1, 1)),
        (f"{x}ctt", ct_derivative_sql("sa", "pt", 0, 2)),
        # implicit-inverse pieces: pt_SA = -C_s/C_t, pt_CT = 1/C_t
        (f"{x}ptsa", f"(-{x}cs/{x}ct)"),
        # eta_CT_CT = eta_tt/C_t^2 - eta_t*C_tt/C_t^3
        (
            "eta_ct_ct",
            f"({x}ett/({x}ct*{x}ct) - {x}et*{x}ctt/({x}ct*{x}ct*{x}ct))",
        ),
        # eta_SA_CT = (eta_ts + eta_tt*pt_SA)/C_t
        #             - eta_t*(C_ts + C_tt*pt_SA)/C_t^2
        (
            "eta_sa_ct",
            f"(({x}est + {x}ett*{x}ptsa)/{x}ct"
            f" - {x}et*({x}cst + {x}ctt*{x}ptsa)/({x}ct*{x}ct))",
        ),
        # d(pt_SA)/dSA|CT = -((C_ss + C_st*pt_SA)*C_t
        #                     - C_s*(C_ts + C_tt*pt_SA))/C_t^2
        (
            f"{x}dptsa",
            f"(-((({x}css + {x}cst*{x}ptsa)*{x}ct)"
            f" - {x}cs*({x}cst + {x}ctt*{x}ptsa))/({x}ct*{x}ct))",
        ),
        # eta_SA_SA|CT = eta_ss + 2 eta_st pt_SA + eta_tt pt_SA^2
        #                + eta_t * d(pt_SA)/dSA
        (
            "eta_sa_sa",
            f"({x}ess + 2.0e0*{x}est*{x}ptsa"
            f" + {x}ett*{x}ptsa*{x}ptsa + {x}et*{x}dptsa)",
        ),
    ]
    return stages


def _eta2_oracle() -> str:
    staged = _stage_sql_cte(_ctd_inner(), _eta2_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(eta_sa_sa * 1.0e9 + 0.5) / 1.0e9 AS eta_sa_sa,
           floor(eta_sa_ct * 1.0e9 + 0.5) / 1.0e9 AS eta_sa_ct,
           floor(eta_ct_ct * 1.0e9 + 0.5) / 1.0e9 AS eta_ct_ct
    FROM ({staged})
    """


@register("gsw_entropy_second_derivatives", oracle=_eta2_oracle())
def gsw_entropy_second_derivatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second derivatives of entropy with respect to (SA, CT) (GSW
    twin: gsw_entropy_second_derivatives) — the full chain-rule closure
    through the implicit pt(SA, CT) surface: five symbolic entropy
    pieces (eta_s/t/ss/st/tt at p=0) and five CT-polynomial pieces
    compose into eta_SA_SA, eta_SA_CT, eta_CT_CT with no hand-derived
    table anywhere (every factor FD-pinned). These drive the
    second-order corrections in conservative-temperature budgets.
    Staged columns, flat-CTE oracle, zero shuffle."""
    df = _ctd_inputs(spark, sf_dir)
    for name, expr in _eta2_stages():
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("eta_sa_sa") * 1.0e9 + 0.5) / 1.0e9).alias("eta_sa_sa"),
        (F.floor(F.col("eta_sa_ct") * 1.0e9 + 0.5) / 1.0e9).alias("eta_sa_ct"),
        (F.floor(F.col("eta_ct_ct") * 1.0e9 + 0.5) / 1.0e9).alias("eta_ct_ct"),
    )


_DECON_NS = (2, 3, 5)


def _decon_shingle_cte(n: int, tag: str) -> str:
    join = " || ' ' || ".join(f"words[i+{j}]" for j in range(n))
    return f"""
    sh{tag} AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(words) - {n - 1}, 0)),
                 i -> {join})) AS s
        FROM w
      )
    )"""


def _decon_sweep_oracle() -> str:
    parts = []
    rows = []
    for n in _DECON_NS:
        parts.append(_decon_shingle_cte(n, str(n)))
        rows.append(f"""
    r{n} AS (
      SELECT {n} AS ngram_n,
             CAST(count(*) AS BIGINT) AS n_train_docs,
             CAST(count(*) FILTER (n_overlap >= 2) AS BIGINT)
               AS n_contaminated
      FROM (
        SELECT t.doc_id, count(b.s) AS n_overlap
        FROM (SELECT doc_id, s FROM sh{n} WHERE doc_id % 97 <> 0) t
        LEFT JOIN (SELECT DISTINCT s FROM sh{n} WHERE doc_id % 97 = 0) b
          ON t.s = b.s
        GROUP BY t.doc_id
      )
    )""")
    unions = " UNION ALL ".join(f"SELECT * FROM r{n}" for n in _DECON_NS)
    return f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    {", ".join(p.strip() for p in parts)},
    {", ".join(r.strip() for r in rows)}
    SELECT CAST(ngram_n AS BIGINT) AS ngram_n, n_train_docs, n_contaminated,
           floor(CAST(n_contaminated AS DOUBLE) / n_train_docs * 1.0e6 + 0.5)
             / 1.0e6 AS contamination_rate
    FROM ({unions}) ORDER BY ngram_n
    """


@register("decontam_ngram_size_sweep", oracle=_decon_sweep_oracle())
def decontam_ngram_size_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination n-gram size sweep: the training-vs-benchmark
    overlap rate (docs sharing >= 2 distinct n-grams with the synthetic
    eval split) at n = 2/3/5 — short n-grams over-flag boilerplate
    (false contamination), long ones miss paraphrase leaks; this curve
    is how a rollout picks the n the registered single-point
    decontaminate_benchmark_overlap hardcodes. Same broadcast-benchmark
    plan per n (the benchmark side stays eval-suite-sized at scale);
    bounded 3-row output."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        word_shingles,
    )
    from cioos_siooc_data_transform_spark.operators.text import words_expr

    docs = _t(spark, sf_dir, "documents")
    out = None
    for n in _DECON_NS:
        sh = docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(word_shingles(words_expr(F.col("text")), n))
            ).alias("s"),
        )
        bench = (
            sh.filter(F.col("doc_id") % 97 == 0).select("s").distinct()
        ).withColumn("_hit", F.lit(1))
        train = sh.filter(F.col("doc_id") % 97 != 0)
        per = (
            train.join(F.broadcast(bench), "s", "left")
            .groupBy("doc_id")
            .agg(F.count("_hit").alias("n_overlap"))
        )
        row = per.agg(
            F.lit(n).cast("long").alias("ngram_n"),
            F.count(F.lit(1)).cast("long").alias("n_train_docs"),
            F.sum(F.when(F.col("n_overlap") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_contaminated"),
        ).select(
            "ngram_n",
            "n_train_docs",
            "n_contaminated",
            (
                F.floor(
                    F.col("n_contaminated").cast("double")
                    / F.col("n_train_docs")
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("contamination_rate"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("ngram_n")


@register(
    "graph_triangle_config_null",
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
    ),
    adj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT u, CAST(count(*) AS HUGEINT) AS d FROM adj GROUP BY u),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_tri
      FROM e e1 JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    m AS (
      SELECT CAST(sum(d) AS DOUBLE) AS sum_d,
             CAST(sum(d * (d - 1)) AS DOUBLE) AS sum_dd1
      FROM deg
    )
    SELECT n_tri AS triangles,
           CAST(floor(pow(sum_dd1, 3.0e0) / (6.0e0 * pow(sum_d, 3.0e0))
                      * 1.0e3 + 0.5) AS BIGINT) AS expected_milli,
           floor(CAST(n_tri AS DOUBLE)
                 / (pow(sum_dd1, 3.0e0) / (6.0e0 * pow(sum_d, 3.0e0)))
                 * 1.0e6 + 0.5) / 1.0e6 AS enrichment_ratio
    FROM tri, m
    """,
)
def graph_triangle_config_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enrichment against the configuration-model null: the
    expected triangle count for a random graph with the SAME degree
    sequence is E[T] ≈ (Σd(d−1))³ / (6·(Σd)³) (Newman), so the ratio
    actual/expected says whether the clustering other queries measure
    is real structure or just what heavy-tailed degrees force — the
    null-model discipline behind every 'significant motif' claim. Exact
    triangle count reuses the a<b<c oriented join; the null needs only
    two degree-moment aggregates."""
    from cioos_siooc_data_transform_spark.plans.staged_r8 import (
        _copurchase_edges,
    )

    e = _copurchase_edges(spark, sf_dir)
    adj = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = adj.groupBy("a").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("d")
    )
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = (
        e1.join(e2, F.col("y") == F.col("y2"))
        .join(e3, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    m = deg.agg(
        F.sum("d").cast("double").alias("sum_d"),
        F.sum(F.col("d") * (F.col("d") - 1)).cast("double").alias("sum_dd1"),
    )
    exp_t = F.pow(F.col("sum_dd1"), F.lit(3.0)) / (
        F.lit(6.0) * F.pow(F.col("sum_d"), F.lit(3.0))
    )
    return tri.crossJoin(F.broadcast(m)).select(
        F.col("n_tri").alias("triangles"),
        F.floor(exp_t * 1.0e3 + 0.5).cast("long").alias("expected_milli"),
        (
            F.floor(F.col("n_tri").cast("double") / exp_t * 1.0e6 + 0.5)
            / 1.0e6
        ).alias("enrichment_ratio"),
    )


@register(
    "embedding_centroid_classifier_confusion",
    oracle="""
    WITH x AS (
      SELECT vec_id, label, u.i AS dim,
             CAST(floor(u.v * 1.0e6 + 0.5) AS HUGEINT) AS q
      FROM (
        SELECT vec_id, label,
               unnest(CAST(embedding AS DOUBLE[])) AS v,
               generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS i
        FROM embeddings
      ) u
    ),
    cent AS (
      SELECT label AS c_label, dim, CAST(sum(q) AS DOUBLE) / count(*) AS c
      FROM x GROUP BY 1, 2
    ),
    d AS (
      SELECT x.vec_id, x.label AS true_label, cent.c_label,
             CAST(floor(sum((CAST(q AS DOUBLE) - c)
                            * (CAST(q AS DOUBLE) - c)) / 1.0e6 + 0.5)
                  AS HUGEINT) AS d2_u
      FROM x JOIN cent ON x.dim = cent.dim
      GROUP BY 1, 2, 3
    ),
    assigned AS (
      SELECT vec_id, true_label, c_label AS pred_label FROM (
        SELECT vec_id, true_label, c_label,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY d2_u, c_label) AS rn
        FROM d
      ) WHERE rn = 1
    ),
    c AS (
      SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n
      FROM assigned GROUP BY 1, 2
    ),
    tot AS (SELECT true_label, CAST(sum(n) AS BIGINT) AS nt FROM c GROUP BY 1)
    SELECT CAST(c.true_label AS BIGINT) AS true_label,
           CAST(c.pred_label AS BIGINT) AS pred_label, c.n,
           floor(CAST(c.n AS DOUBLE) / CAST(nt AS DOUBLE) * 1.0e6 + 0.5)
             / 1.0e6 AS row_share
    FROM c JOIN tot USING (true_label)
    ORDER BY true_label, pred_label
    """,
)
def embedding_centroid_classifier_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nearest-centroid (Rocchio) classifier confusion matrix over the
    label partition: assign every vector to its closest label centroid
    (squared Euclidean on micro-quantized coordinates, distance floored
    to integer units before the argmin with label tiebreak — the
    engine-stable cut) and cross-tabulate against the true label. The
    cheapest possible label-separability classifier: compare with the
    kNN accuracy probe (sample-based) — centroid confusion covers EVERY
    vector for |labels|x|dims| aggregate cost plus a labels-wide
    broadcast join."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim0", "v"
        ),
    ).select(
        "vec_id",
        F.col("label").alias("true_label"),
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("v") * 1.0e6 + 0.5).cast("decimal(38,0)").alias("q"),
    )
    cent = x.groupBy(F.col("true_label").alias("c_label"), "dim").agg(
        (F.sum("q").cast("double") / F.count(F.lit(1))).alias("c")
    )
    d = (
        x.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "true_label", "c_label")
        .agg(
            F.floor(
                F.sum(
                    (F.col("q").cast("double") - F.col("c"))
                    * (F.col("q").cast("double") - F.col("c"))
                )
                / 1.0e6
                + 0.5
            )
            .cast("decimal(38,0)")
            .alias("d2_u")
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2_u", "c_label")
    assigned = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "true_label", F.col("c_label").alias("pred_label"))
    )
    c = assigned.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = c.groupBy("true_label").agg(F.sum("n").cast("long").alias("nt"))
    return (
        c.join(tot, "true_label")
        .select(
            F.col("true_label").cast("long").alias("true_label"),
            F.col("pred_label").cast("long").alias("pred_label"),
            "n",
            (
                F.floor(
                    F.col("n").cast("double") / F.col("nt").cast("double")
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("row_share"),
        )
        .orderBy("true_label", "pred_label")
    )


# ===========================================================================
# Wave F — enthalpy curvature, data profiling, regional decomposition.
# ===========================================================================
def _h2_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_SFAC,
        _lit,
        hdyn_combine_sql,
        hdyn_deriv_poly_stages,
    )

    x = "__hd2_"
    sfac = _lit(GSW_SFAC)
    stages: list[tuple[str, str]] = [
        (f"{x}xs", f"sqrt({sfac}*(sa) + 0.024e0)"),
        (f"{x}ys", "((ct)*0.025e0)"),
        (f"{x}z", "((p)*1.0e-4)"),
    ]
    # NOTE: the 0.024 offset literal must match GSW_OFFSET — pinned by
    # equality with enthalpy_first_derivatives_stages in tests.
    stages += hdyn_deriv_poly_stages(f"{x}xs", f"{x}ys", f"{x}dyy_", dys=2)
    stages += hdyn_deriv_poly_stages(
        f"{x}xs", f"{x}ys", f"{x}dxy_", dxs=1, dys=1
    )
    stages += hdyn_deriv_poly_stages(f"{x}xs", f"{x}ys", f"{x}dxx_", dxs=2)
    stages += hdyn_deriv_poly_stages(f"{x}xs", f"{x}ys", f"{x}dx_", dxs=1)
    dyy = hdyn_combine_sql(f"{x}z", f"{x}dyy_")
    dxy = hdyn_combine_sql(f"{x}z", f"{x}dxy_")
    dxx = hdyn_combine_sql(f"{x}z", f"{x}dxx_")
    dx = hdyn_combine_sql(f"{x}z", f"{x}dx_")
    stages += [
        ("h_ct_ct", f"(6.25e-4*{dyy})"),
        (
            "h_sa_ct",
            f"(0.025e0*({sfac}/(2.0e0*{x}xs))*{dxy})",
        ),
        (
            "h_sa_sa",
            f"(({sfac}*{sfac}/(4.0e0*{x}xs*{x}xs))*{dxx}"
            f" - ({sfac}*{sfac}/(4.0e0*{x}xs*{x}xs*{x}xs))*{dx})",
        ),
    ]
    return stages


def _h2_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _IN_SQL,
        _SA_SQL,
    )

    inner = f"""
      SELECT l_orderkey, l_linenumber, p, {_SA_SQL} AS sa,
             {ct_from_t_sql("s", "t", "p")} AS ct
      FROM ({_IN_SQL})
    """
    staged = _stage_sql_cte(inner, _h2_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(h_sa_sa * 1.0e9 + 0.5) / 1.0e9 AS h_sa_sa,
           floor(h_sa_ct * 1.0e9 + 0.5) / 1.0e9 AS h_sa_ct,
           floor(h_ct_ct * 1.0e9 + 0.5) / 1.0e9 AS h_ct_ct
    FROM ({staged})
    """


@register("gsw_enthalpy_second_derivatives", oracle=_h2_oracle())
def gsw_enthalpy_second_derivatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second derivatives of specific enthalpy h = cp0·CT + h_dyn wrt
    (SA, CT) at fixed p (GSW twin: gsw_enthalpy_second_derivatives):
    the cp0 term is linear so all curvature lives in the dynamic part,
    whose analytic coefficient-table derivatives
    (hdyn_deriv_poly_stages, the same machinery as the registered first
    derivatives) combine with the sqrt-salinity chain factors —
    h_SASA picks up the −(sfac²/4xs³)·h_xs curvature of the
    coordinate itself. FD-pinned in tests; staged columns; zero
    shuffle."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _inputs,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "p",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    for name, expr in _h2_stages():
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("h_sa_sa") * 1.0e9 + 0.5) / 1.0e9).alias("h_sa_sa"),
        (F.floor(F.col("h_sa_ct") * 1.0e9 + 0.5) / 1.0e9).alias("h_sa_ct"),
        (F.floor(F.col("h_ct_ct") * 1.0e9 + 0.5) / 1.0e9).alias("h_ct_ct"),
    )


@register(
    "tpch_fd_violation_audit",
    oracle="""
    WITH checks AS (
      SELECT 'part: brand -> mfgr prefix' AS fd,
             CAST(count(*) AS BIGINT) AS n_lhs,
             CAST(count(*) FILTER (n_rhs > 1) AS BIGINT) AS n_violating
      FROM (
        SELECT p_brand, count(DISTINCT substr(p_name, 1, 6)) AS n_rhs
        FROM part GROUP BY p_brand
      )
      UNION ALL
      SELECT 'orders: custkey -> mktsegment' AS fd,
             CAST(count(*) AS BIGINT),
             CAST(count(*) FILTER (n_rhs > 1) AS BIGINT)
      FROM (
        SELECT o_custkey, count(DISTINCT c_mktsegment) AS n_rhs
        FROM orders JOIN customer ON c_custkey = o_custkey
        GROUP BY o_custkey
      )
      UNION ALL
      SELECT 'lineitem: orderkey -> orderdate' AS fd,
             CAST(count(*) AS BIGINT),
             CAST(count(*) FILTER (n_rhs > 1) AS BIGINT)
      FROM (
        SELECT l_orderkey, count(DISTINCT o_orderdate) AS n_rhs
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        GROUP BY l_orderkey
      )
      UNION ALL
      SELECT 'part: type -> size' AS fd,
             CAST(count(*) AS BIGINT),
             CAST(count(*) FILTER (n_rhs > 1) AS BIGINT)
      FROM (
        SELECT p_type, count(DISTINCT p_size) AS n_rhs
        FROM part GROUP BY p_type
      )
    )
    SELECT fd, n_lhs, n_violating,
           floor(CAST(n_violating AS DOUBLE)
                 / CAST(n_lhs AS DOUBLE) * 1.0e6 + 0.5) / 1.0e6
             AS violation_rate
    FROM checks ORDER BY fd
    """,
)
def tpch_fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency audit (the TANE-style
    profiling primitive): for each candidate FD X -> Y, the share of X
    groups whose Y is not single-valued — exact FDs (orderkey ->
    orderdate through the join) must report 0, while soft ones (brand
    -> name prefix, type -> size) report their real violation rate, the
    signal schema-inference and CDC-validation pipelines read. Each
    check is one count-distinct group-by; the four checks union into a
    fixed profile row set."""
    part = _t(spark, sf_dir, "part")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")

    def check(name: str, grouped: DataFrame) -> DataFrame:
        return grouped.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).cast("long").alias("n_lhs"),
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_violating"),
        )

    c1 = check(
        "part: brand -> mfgr prefix",
        part.groupBy("p_brand").agg(
            F.countDistinct(F.substring("p_name", 1, 6)).alias("n_rhs")
        ),
    )
    c2 = check(
        "orders: custkey -> mktsegment",
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("o_custkey")
        .agg(F.countDistinct("c_mktsegment").alias("n_rhs")),
    )
    c3 = check(
        "lineitem: orderkey -> orderdate",
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_orderkey")
        .agg(F.countDistinct("o_orderdate").alias("n_rhs")),
    )
    c4 = check(
        "part: type -> size",
        part.groupBy("p_type").agg(F.countDistinct("p_size").alias("n_rhs")),
    )
    out = c1.unionByName(c2).unionByName(c3).unionByName(c4)
    return out.select(
        "fd",
        "n_lhs",
        "n_violating",
        (
            F.floor(
                F.col("n_violating").cast("double")
                / F.col("n_lhs").cast("double")
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("violation_rate"),
    ).orderBy("fd")


@register(
    "nation_revenue_shift_share",
    oracle="""
    WITH r AS (
      SELECT n_name, year(o_orderdate) AS yr,
             CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0
                                 + 0.5) AS BIGINT)) AS HUGEINT) AS rev
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      WHERE year(o_orderdate) IN (1999, 2000)
      GROUP BY 1, 2
    ),
    w AS (
      SELECT n_name,
             max(CASE WHEN yr = 1999 THEN CAST(rev AS DOUBLE) END) AS r0,
             max(CASE WHEN yr = 2000 THEN CAST(rev AS DOUBLE) END) AS r1
      FROM r GROUP BY 1
    ),
    t AS (SELECT sum(r0) AS t0, sum(r1) AS t1 FROM w)
    SELECT n_name,
           CAST(floor((r1 - r0) / 100.0e0 + 0.5) AS BIGINT)
             AS growth_dollars,
           CAST(floor(r0 * (t1 / t0 - 1.0e0) / 100.0e0 + 0.5) AS BIGINT)
             AS national_effect_dollars,
           CAST(floor((r1 - r0 - r0 * (t1 / t0 - 1.0e0)) / 100.0e0 + 0.5)
                AS BIGINT) AS local_shift_dollars,
           floor((r1 / r0 - t1 / t0) * 1.0e6 + 0.5) / 1.0e6
             AS growth_vs_national
    FROM w, t ORDER BY n_name
    """,
)
def nation_revenue_shift_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-share decomposition of 1999->2000 revenue growth by
    customer nation: each nation's growth splits into the national
    effect (what growing at the aggregate rate would have given) and
    the local shift (out/under-performance) — the regional-economics
    standard for 'did the region grow, or did the market?'. One
    three-dim join pipeline into a bounded nation x year aggregate;
    integer-exact cent sums, decomposition in double."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .filter(F.year("o_orderdate").isin(1999, 2000))
        .groupBy("n_name", F.year("o_orderdate").alias("yr"))
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                    * 100.0
                    + 0.5
                ).cast("long")
            )
            .cast("decimal(38,0)")
            .alias("rev")
        )
    )
    w = r.groupBy("n_name").agg(
        F.max(F.when(F.col("yr") == 1999, F.col("rev").cast("double"))).alias(
            "r0"
        ),
        F.max(F.when(F.col("yr") == 2000, F.col("rev").cast("double"))).alias(
            "r1"
        ),
    )
    t = w.agg(
        F.sum("r0").alias("t0"),
        F.sum("r1").alias("t1"),
    )
    j = w.crossJoin(F.broadcast(t))
    nat = F.col("r0") * (F.col("t1") / F.col("t0") - F.lit(1.0))
    return j.select(
        "n_name",
        F.floor((F.col("r1") - F.col("r0")) / 100.0 + 0.5)
        .cast("long")
        .alias("growth_dollars"),
        F.floor(nat / 100.0 + 0.5).cast("long").alias(
            "national_effect_dollars"
        ),
        F.floor((F.col("r1") - F.col("r0") - nat) / 100.0 + 0.5)
        .cast("long")
        .alias("local_shift_dollars"),
        (
            F.floor(
                (F.col("r1") / F.col("r0") - F.col("t1") / F.col("t0"))
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("growth_vs_national"),
    ).orderBy("n_name")


# ===========================================================================
# Wave G — reference-domain depth: a second self-authored IOS sample
# (mooring-style, variant unit spellings) and the cross-file channel
# unit-canonicalization profile.
# ===========================================================================
#: Self-authored mooring-style sample (NOT copied from the reference
#: corpus): 4 channels exercising the variant unit spellings the
#: canonicalization map handles (dbars, IPTS68, mL/L, S/m).
SAMPLE_IOS_MOORING = """*2024/02/01 09:00:00.00
*IOS HEADER VERSION 2.0      2016/04/28 2016/06/13

*FILE
    START TIME          : UTC 2024/01/20 00:00:00.000
    TIME INCREMENT      : 0 1 0 0 0  ! (day hr min sec ms)
    NUMBER OF RECORDS   : 3
    DATA DESCRIPTION    : Mooring
    PAD                 : -99
    NUMBER OF CHANNELS  : 4

    $TABLE: CHANNELS
    ! No Name                 Units           Minimum  Maximum
    !--- -------------------- --------------- -------- --------
       1 Pressure             dbars           10.0     12.0
       2 Temperature:Primary  'deg C (IPTS68)' 5.0     6.5
       3 Oxygen:Dissolved     mL/L            4.0      6.0
       4 Conductivity         S/m             2.9      3.3
    $END

    $TABLE: CHANNEL DETAIL
    ! No  Pad   Start  Width  Format  Type  Decimal_Places
    !---  ----  -----  -----  ------  ----  --------------
       1  -99   ' '        8  F       ' '     1
       2  -99   ' '        8  F       ' '     4
       3  -99   ' '        8  F       ' '     4
       4  -99   ' '        8  F       ' '     4
    $END

*ADMINISTRATION
    MISSION             : 2024-002
    AGENCY              : Test Agency

*LOCATION
    STATION             : M2
    EVENT NUMBER        : 3
    LATITUDE            :  48  40.00000 N  ! (deg min)
    LONGITUDE           : 126  10.00000 W  ! (deg min)

*END OF HEADER
    10.0  5.0000  4.2000  2.9000
    11.0  5.8000  5.1000  3.1000
    12.0  6.5000   -99.0  3.3000
"""


@register(
    "ios_channel_unit_profile",
    oracle="""
    SELECT * FROM (VALUES
      ('PSS-78',  CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
      ('S/m',     CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
      ('decibar', CAST(2 AS BIGINT), CAST(2 AS BIGINT)),
      ('deg C',   CAST(2 AS BIGINT), CAST(2 AS BIGINT)),
      ('mL/L',    CAST(1 AS BIGINT), CAST(1 AS BIGINT))
    ) AS t(canonical_unit, n_channels, n_files)
    ORDER BY canonical_unit
    """,
)
def ios_channel_unit_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-file channel unit profile: parse TWO self-authored IOS
    files (the CTD sample and a mooring with variant spellings — dbars,
    'deg C (IPTS68)', mL/L, S/m), canonicalize every channel unit
    through the registered map (functions/units.py, reference parity
    IDT/OceanNcVar.py:86-89,160-258), and count channels and files per
    canonical unit — the corpus-wide consistency readout an archive
    ingest runs to find rogue spellings BEFORE variable assembly. The
    oracle is the hand-computed golden profile (dbars+decibar → one
    'decibar' bucket, ITS90+IPTS68 → one 'deg C' bucket)."""
    from cioos_siooc_data_transform_spark.functions.units import (
        canonical_unit,
    )
    from cioos_siooc_data_transform_spark.plans.ios_queries import (
        SAMPLE_IOS,
        _parse_cached,
    )
    from cioos_siooc_data_transform_spark.sources.ios_source import (
        ios_channels,
    )

    p1 = _parse_cached(
        spark, "sample", "memory://sample-2024-001-0007.ctd", SAMPLE_IOS
    )
    p2 = _parse_cached(
        spark,
        "sample_mooring",
        "memory://sample-2024-002-0003.mctd",
        SAMPLE_IOS_MOORING,
    )
    ch = ios_channels(p1).unionByName(ios_channels(p2))
    # channel units come off the $TABLE parser verbatim, including the
    # quoting used for embedded spaces ('deg C (ITS90)') — strip it
    # before the canonical map (assign_bodc_codes does the same).
    unquoted = F.regexp_replace(F.col("units"), "^'|'$", "")
    return (
        ch.select("file_id", canonical_unit(unquoted).alias("cu"))
        .groupBy(F.col("cu").alias("canonical_unit"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_channels"),
            F.countDistinct("file_id").cast("long").alias("n_files"),
        )
        .orderBy("canonical_unit")
    )


# ===========================================================================
# Wave H — corpus information structure, tokenizer windows, multimodal
# budget sweep, demand-pattern classification.
# ===========================================================================
@register(
    "text_ngram_entropy_rate_curve",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    t1 AS (
      SELECT unnest(words) AS g FROM w
    ),
    g1 AS (SELECT g, count(*) AS c FROM (SELECT g FROM t1 WHERE g <> '') GROUP BY g),
    t2 AS (
      SELECT unnest(list_transform(generate_series(1, greatest(len(words) - 1, 0)),
                    i -> words[i] || ' ' || words[i+1])) AS g
      FROM w
    ),
    g2 AS (SELECT g, count(*) AS c FROM t2 GROUP BY g),
    t3 AS (
      SELECT unnest(list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS g
      FROM w
    ),
    g3 AS (SELECT g, count(*) AS c FROM t3 GROUP BY g),
    ent AS (
      SELECT 1 AS n, CAST(count(*) AS BIGINT) AS n_types,
             CAST(max(nt) AS BIGINT) AS n_tokens,
             CAST(sum(CAST(floor(-c * ln(c * 1.0e0 / nt) * 1.0e6 + 0.5)
                           AS HUGEINT)) AS DOUBLE)
               / CAST(max(nt) AS DOUBLE) / 1.0e6 AS h
      FROM g1, (SELECT sum(c) AS nt FROM g1)
      UNION ALL
      SELECT 2, CAST(count(*) AS BIGINT), CAST(max(nt) AS BIGINT),
             CAST(sum(CAST(floor(-c * ln(c * 1.0e0 / nt) * 1.0e6 + 0.5)
                           AS HUGEINT)) AS DOUBLE)
               / CAST(max(nt) AS DOUBLE) / 1.0e6
      FROM g2, (SELECT sum(c) AS nt FROM g2)
      UNION ALL
      SELECT 3, CAST(count(*) AS BIGINT), CAST(max(nt) AS BIGINT),
             CAST(sum(CAST(floor(-c * ln(c * 1.0e0 / nt) * 1.0e6 + 0.5)
                           AS HUGEINT)) AS DOUBLE)
               / CAST(max(nt) AS DOUBLE) / 1.0e6
      FROM g3, (SELECT sum(c) AS nt FROM g3)
    )
    SELECT CAST(n AS BIGINT) AS ngram_n, n_types, n_tokens,
           floor(h * 1.0e6 + 0.5) / 1.0e6 AS joint_entropy_nats
    FROM ent ORDER BY ngram_n
    """,
)
def text_ngram_entropy_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint n-gram entropy for n = 1/2/3 — the block-entropy curve
    whose differences H_n − H_{n−1} estimate the conditional entropy
    rate (Shannon's redundancy measurement): a flattening curve means
    short contexts already predict the corpus (boilerplate-heavy), a
    linear one means genuine novelty per token — the
    information-theoretic companion to the compression-style dedup
    signals. Each block entropy is Σ −c·ln(c/N)/N with per-type terms
    quantized to 1e-6·count units before the exact sum (the c factor
    keeps the quantum proportional to multiplicity)."""
    docs = _t(spark, sf_dir, "documents")
    from cioos_siooc_data_transform_spark.operators.dedup import (
        word_shingles,
    )
    from cioos_siooc_data_transform_spark.operators.text import words_expr

    out = None
    for n in (1, 2, 3):
        words = words_expr(F.col("text"))
        grams = (
            F.filter(words, lambda x: x != "")
            if n == 1
            else word_shingles(words, n)
        )
        g = (
            docs.select(F.explode(grams).alias("g"))
            .groupBy("g")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        tot = g.agg(F.sum("c").cast("long").alias("nt"))
        terms = g.crossJoin(F.broadcast(tot)).select(
            "c",
            "nt",
            F.floor(
                -F.col("c")
                * F.log(
                    F.col("c").cast("double") / F.col("nt").cast("double")
                )
                * 1.0e6
                + 0.5
            )
            .cast("decimal(38,0)")
            .alias("hu"),
        )
        row = terms.agg(
            F.lit(n).cast("long").alias("ngram_n"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.max("nt").alias("n_tokens"),
            (
                F.floor(
                    F.sum("hu").cast("double")
                    / F.max("nt").cast("double")
                    / 1.0e6
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("joint_entropy_nats"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("ngram_n")


@register(
    "text_sttr_by_source",
    oracle="""
    WITH w AS (
      SELECT doc_id, source, string_split(text, ' ') AS words FROM documents
    ),
    tok AS (
      SELECT source, doc_id, u.t, u.i
      FROM (
        SELECT source, doc_id, unnest(words) AS t,
               generate_subscripts(words, 1) AS i
        FROM w
      ) u WHERE u.t <> ''
    ),
    doclen AS (
      SELECT source, doc_id, CAST(count(*) AS BIGINT) AS n
      FROM tok GROUP BY 1, 2
    ),
    offs AS (
      SELECT source, doc_id,
             CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n AS BIGINT)
               AS off
      FROM doclen
    ),
    pos AS (
      SELECT tok.source, (off + row_number() OVER (
               PARTITION BY tok.source, tok.doc_id ORDER BY tok.i) - 1)
               // 1000 AS chunk,
             tok.t
      FROM tok JOIN offs ON tok.source = offs.source
                         AND tok.doc_id = offs.doc_id
    ),
    chunks AS (
      SELECT source, chunk, CAST(count(*) AS BIGINT) AS n_tok,
             CAST(count(DISTINCT t) AS BIGINT) AS n_typ
      FROM pos GROUP BY 1, 2
    ),
    fullc AS (
      SELECT source,
             CAST(floor(CAST(n_typ AS DOUBLE) / n_tok * 1.0e9 + 0.5)
                  AS HUGEINT) AS ttr_u
      FROM chunks WHERE n_tok = 1000
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
           floor(CAST(sum(ttr_u) AS DOUBLE) / count(*) / 1.0e3 + 0.5) / 1.0e6
             AS sttr
    FROM fullc GROUP BY source ORDER BY source
    """,
)
def text_sttr_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized type-token ratio (STTR, the corpus-linguistics
    standard): concatenate each source's documents in doc_id order,
    cut the token stream into fixed 1000-token windows, and average the
    per-window TTR over FULL windows only — unlike raw TTR or Heaps
    fits, STTR is comparable across sources of different sizes. Global
    token positions come from per-doc windows plus a per-source running
    offset over the (bounded) doc-length table — no single-partition
    token sort; per-window TTRs quantize to 1e-9 before the exact
    mean."""
    from cioos_siooc_data_transform_spark.operators.text import words_expr

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        "doc_id",
        F.posexplode(F.filter(words_expr(F.col("text")), lambda x: x != "")).alias(
            "i", "t"
        ),
    )
    doclen = tok.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w_off = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    offs = doclen.select(
        "source",
        "doc_id",
        (F.sum("n").over(w_off) - F.col("n")).cast("long").alias("off"),
    )
    w_in = Window.partitionBy("source", "doc_id").orderBy("i")
    pos = tok.join(offs, ["source", "doc_id"]).select(
        "source",
        F.floor(
            (F.col("off") + F.row_number().over(w_in) - 1) / 1000
        ).cast("long").alias("chunk"),
        "t",
    )
    chunks = pos.groupBy("source", "chunk").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok"),
        F.countDistinct("t").cast("long").alias("n_typ"),
    )
    fullc = chunks.filter(F.col("n_tok") == 1000).select(
        "source",
        F.floor(
            F.col("n_typ").cast("double") / F.col("n_tok") * 1.0e9 + 0.5
        )
        .cast("decimal(38,0)")
        .alias("ttr_u"),
    )
    return (
        fullc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            (
                F.floor(
                    F.sum("ttr_u").cast("double")
                    / F.count(F.lit(1))
                    / 1.0e3
                    + 0.5
                )
                / 1.0e6
            ).alias("sttr"),
        )
        .orderBy("source")
    )


_FPS_SWEEP = (2, 4, 8)


def _fps_sweep_oracle() -> str:
    per = []
    for fps in _FPS_SWEEP:
        per.append(f"""
      SELECT {fps} AS target_fps,
             CAST(count(*) AS BIGINT) AS n_frames,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_clips
      FROM (
        SELECT doc_id, (j * native_fps) // {fps} AS frame_idx, n_frames AS nf
        FROM (
          SELECT doc_id,
                 CAST((strlen(text) % 7) + 10 AS BIGINT) AS native_fps,
                 CAST((strlen(text) % 30) + 5 AS BIGINT) AS n_frames
          FROM documents
        ) f, unnest(generate_series(0, (n_frames * {fps}) // native_fps))
             AS u(j)
      ) WHERE frame_idx < nf""")
    unions = " UNION ALL ".join(per)
    return f"""
    SELECT target_fps, n_frames, n_clips,
           floor(CAST(n_frames AS DOUBLE) / n_clips * 1.0e6 + 0.5) / 1.0e6
             AS mean_frames_per_clip
    FROM ({unions}) ORDER BY target_fps
    """


@register("multimodal_fps_sweep", oracle=_fps_sweep_oracle())
def multimodal_fps_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-budget sweep of the variable-rate sampler: total frames
    and frames-per-clip at target 2/4/8 fps over the mixed-native-rate
    corpus (the registered sample_frames_at_fps operator, stub codec) —
    the storage/compute budget curve a video-pretraining pipeline reads
    before fixing its sampling rate (frames scale ~linearly with target
    fps until it crosses each clip's native rate). Three bounded
    operator invocations; counts are exact."""
    from cioos_siooc_data_transform_spark.operators.multimodal import (
        attach_binary_payload,
        sample_frames_at_fps,
    )

    docs = _t(spark, sf_dir, "documents")
    media = attach_binary_payload(docs, "doc_id", "text", "source")
    out = None
    for fps in _FPS_SWEEP:
        fr = sample_frames_at_fps(media, target_fps=fps, fake_decode=True)
        row = fr.agg(
            F.lit(fps).cast("long").alias("target_fps"),
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.countDistinct("doc_id").cast("long").alias("n_clips"),
        ).select(
            "target_fps",
            "n_frames",
            "n_clips",
            (
                F.floor(
                    F.col("n_frames").cast("double") / F.col("n_clips")
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("mean_frames_per_clip"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("target_fps")


@register(
    "part_demand_sbc_classification",
    oracle="""
    WITH pm AS (
      SELECT l_partkey,
             year(l_shipdate) * 12 + month(l_shipdate) - 1 AS ym,
             CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS HUGEINT)
               AS q
      FROM lineitem GROUP BY 1, 2
    ),
    iv AS (
      SELECT l_partkey, q,
             ym - lag(ym) OVER (PARTITION BY l_partkey ORDER BY ym) AS gap
      FROM pm
    ),
    per AS (
      SELECT l_partkey,
             CAST(count(*) AS HUGEINT) AS n, sum(q) AS sq, sum(q * q) AS sqq,
             CAST(count(gap) AS HUGEINT) AS ng,
             CAST(sum(gap) AS HUGEINT) AS sg
      FROM iv GROUP BY 1 HAVING count(*) >= 3
    ),
    cls AS (
      SELECT CASE
               WHEN CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) <= 1.32e0
                AND ((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                      - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                     / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)))
                    / ((CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))) <= 0.49e0
                 THEN 'smooth'
               WHEN CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) > 1.32e0
                AND ((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                      - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                     / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)))
                    / ((CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))) <= 0.49e0
                 THEN 'intermittent'
               WHEN CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) <= 1.32e0
                 THEN 'erratic'
               ELSE 'lumpy'
             END AS category
      FROM per
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS np FROM cls)
    SELECT category, CAST(count(*) AS BIGINT) AS n_parts,
           floor(CAST(count(*) AS DOUBLE) / np * 1.0e6 + 0.5) / 1.0e6
             AS share
    FROM cls, tot GROUP BY category, np ORDER BY category
    """,
)
def part_demand_sbc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syntetos–Boylan–Croston demand classification: per part (>= 3
    demand months), mean inter-demand interval p and squared demand CV²
    cut at the published (1.32, 0.49) thresholds into smooth /
    intermittent / erratic / lumpy — the quadrant that DECIDES the
    forecasting method (SES vs Croston vs SBA) before anyone fits one.
    Intervals from a lag window PARTITIONED by part over that part's
    bounded month list; size moments from exact integer sums; the
    quadrant cuts compare identical double expressions."""
    li = _t(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        "l_partkey",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).alias("ym"),
    ).agg(
        F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long"))
        .cast("decimal(38,0)")
        .alias("q")
    )
    w = Window.partitionBy("l_partkey").orderBy("ym")
    iv = pm.select(
        "l_partkey",
        "q",
        (F.col("ym") - F.lag("ym").over(w)).alias("gap"),
    )
    per = (
        iv.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("q").alias("sq"),
            F.sum(F.col("q") * F.col("q")).alias("sqq"),
            F.count("gap").cast("decimal(38,0)").alias("ng"),
            F.sum("gap").cast("decimal(38,0)").alias("sg"),
        )
        .filter(F.col("n") >= 3)
    )
    nd = F.col("n").cast("double")
    sqd = F.col("sq").cast("double")
    sqqd = F.col("sqq").cast("double")
    p_bar = F.col("sg").cast("double") / F.col("ng").cast("double")
    cv2 = ((nd * sqqd - sqd * sqd) / (nd * (nd - F.lit(1.0)))) / (
        (sqd / nd) * (sqd / nd)
    )
    cat = (
        F.when((p_bar <= 1.32) & (cv2 <= 0.49), "smooth")
        .when((p_bar > 1.32) & (cv2 <= 0.49), "intermittent")
        .when(p_bar <= 1.32, "erratic")
        .otherwise("lumpy")
    )
    cls = per.select(cat.alias("category"))
    tot = cls.agg(F.count(F.lit(1)).cast("long").alias("np"))
    return (
        cls.groupBy("category")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
        .crossJoin(F.broadcast(tot))
        .select(
            "category",
            "n_parts",
            (
                F.floor(
                    F.col("n_parts").cast("double") / F.col("np") * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("share"),
        )
        .orderBy("category")
    )


# ===========================================================================
# Wave I — enthalpy-coordinate density derivatives, winnowing window
# sweep, ADC rank fidelity, attribute assortativity.
# ===========================================================================
def _rho_h_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        cabbeling_thermobaric_stages,
        ct_from_t_sql,
        enthalpy_first_derivatives_stages,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _IN_SQL,
        _SA_SQL,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r10 import (
        _CBTB_FIRST_KEEP,
    )

    inner = f"""
      SELECT l_orderkey, l_linenumber, p, {_SA_SQL} AS sa,
             {ct_from_t_sql("s", "t", "p")} AS ct
      FROM ({_IN_SQL})
    """
    stages = [
        s
        for s in cabbeling_thermobaric_stages("sa", "ct", "p")
        if s[0] in _CBTB_FIRST_KEEP
    ]
    stages += enthalpy_first_derivatives_stages("sa", "ct", "p")
    staged = _stage_sql_cte(inner, stages)
    v = "__cbtb_v"
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor((-__cbtb_v_sa/({v}*{v})
                  - (-__cbtb_v_ct/({v}*{v})) * h_sa / h_ct) * 1.0e9 + 0.5)
             / 1.0e9 AS rho_sa_wrt_h,
           floor(((-__cbtb_v_ct/({v}*{v})) / h_ct) * 1.0e12 + 0.5) / 1.0e12
             AS rho_h
    FROM ({staged})
    """


@register("gsw_rho_first_derivatives_wrt_enthalpy", oracle=_rho_h_oracle())
def gsw_rho_first_derivatives_wrt_enthalpy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Density derivatives in the (SA, h) coordinate system (GSW twin:
    gsw_rho_first_derivatives_wrt_enthalpy): rho_h = rho_CT/h_CT and
    rho_SA|h = rho_SA − rho_CT·h_SA/h_CT — the change of variables
    ocean models on enthalpy coordinates apply, composed entirely from
    two FD-pinned analytic families already registered (the 75-term
    v-derivative chain and the hdyn enthalpy first derivatives). Zero
    shuffle; per-dbar-free units (h in J/kg)."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        cabbeling_thermobaric_stages,
        ct_from_t_sql,
        enthalpy_first_derivatives_stages,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _inputs,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r10 import (
        _CBTB_FIRST_KEEP,
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
    for name, expr in enthalpy_first_derivatives_stages("sa", "ct", "p"):
        df = df.withColumn(name, F.expr(expr))
    v2 = F.col("__cbtb_v") * F.col("__cbtb_v")
    rho_sa = -F.col("__cbtb_v_sa") / v2
    rho_ct = -F.col("__cbtb_v_ct") / v2
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor(
                (rho_sa - rho_ct * F.col("h_sa") / F.col("h_ct")) * 1.0e9
                + 0.5
            )
            / 1.0e9
        ).alias("rho_sa_wrt_h"),
        (F.floor(rho_ct / F.col("h_ct") * 1.0e12 + 0.5) / 1.0e12).alias(
            "rho_h"
        ),
    )


_WINNOW_WS = (4, 8, 16)


def _winnow_sweep_oracle() -> str:
    per = []
    for w in _WINNOW_WS:
        per.append(f"""
      SELECT {w} AS window_w,
             CAST(sum(n_fp) AS BIGINT) AS n_fingerprints,
             CAST(sum(n_h) AS BIGINT) AS n_hashes
      FROM (
        SELECT len(list_distinct(list_transform(
                 generate_series(1, len(h) - {w} + 1),
                 j -> (j - 1 + ({w} + 1
                          - list_position(list_reverse(h[j:j+{w}-1]),
                                          list_min(h[j:j+{w}-1]))))
                      * 4294967296 + list_min(h[j:j+{w}-1])))) AS n_fp,
               len(h) AS n_h
        FROM hs WHERE len(h) >= {w}
      )""")
    unions = " UNION ALL ".join(per)
    return f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    hs AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(words) - 2, 0)),
               i -> CAST(('0x' || substr(md5(words[i] || ' ' || words[i+1]
                                         || ' ' || words[i+2]), 1, 8)) AS BIGINT))
               AS h
      FROM w
    )
    SELECT window_w, n_fingerprints, n_hashes,
           floor(CAST(n_fingerprints AS DOUBLE) / n_hashes * 1.0e6 + 0.5)
             / 1.0e6 AS density,
           floor(2.0e0 / (window_w + 1.0e0) * 1.0e6 + 0.5) / 1.0e6
             AS theoretical_density
    FROM ({unions}) ORDER BY window_w
    """


@register("dedup_winnowing_window_sweep", oracle=_winnow_sweep_oracle())
def dedup_winnowing_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing window sweep (Schleimer, Wilkerson & Aiken 2003): the
    realized fingerprint density at w = 4/8/16 against the paper's
    expected 2/(w+1) — the storage/recall knob of the MOSS family
    (larger w stores fewer fingerprints but only guarantees detection
    of shared substrings >= w+k−1 words). Same rightmost-minimum
    row-local array construction as the registered single-point query,
    swept; densities from exact integer counts."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        word_shingles,
    )
    from cioos_siooc_data_transform_spark.operators.text import words_expr

    docs = _t(spark, sf_dir, "documents")
    sh = word_shingles(words_expr(F.col("text")), 3)
    h = F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    )
    base = docs.select(h.alias("h"))
    out = None
    for w in _WINNOW_WS:
        staged = base.filter(F.size("h") >= w)

        def make_fp(win: int):
            # single-arg lambda: a 2-arg function would be treated as
            # (element, index) by F.transform and shadow the window
            def fp(j):
                # encoded (pos, hash) -> one BIGINT: pos * 2^32 + hash
                # (struct lists break DuckDB's list_distinct)
                sl = F.slice(F.col("h"), j, win)
                mn = F.array_min(sl)
                right_off = win + 1 - F.array_position(F.reverse(sl), mn)
                return (j - 1 + right_off).cast("long") * F.lit(
                    4294967296
                ) + mn

            return fp

        fp = make_fp(w)

        fps = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("h") - w + 1), fp
            )
        )
        row = staged.select(
            F.size(fps).alias("n_fp"), F.size("h").alias("n_h")
        ).agg(
            F.lit(w).cast("long").alias("window_w"),
            F.sum("n_fp").cast("long").alias("n_fingerprints"),
            F.sum("n_h").cast("long").alias("n_hashes"),
        )
        out = row if out is None else out.unionByName(row)
    return out.select(
        "window_w",
        "n_fingerprints",
        "n_hashes",
        (
            F.floor(
                F.col("n_fingerprints").cast("double")
                / F.col("n_hashes")
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("density"),
        (
            F.floor(
                F.lit(2.0) / (F.col("window_w") + F.lit(1.0)) * 1.0e6 + 0.5
            )
            / 1.0e6
        ).alias("theoretical_density"),
    ).orderBy("window_w")


@register(
    "graph_price_assortativity",
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
    ),
    pv AS (
      SELECT p_partkey,
             CAST(CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT)
                  AS HUGEINT) AS c
      FROM part
    ),
    sym AS (
      SELECT pa.c AS x, pb.c AS y
      FROM e JOIN pv pa ON pa.p_partkey = e.a
             JOIN pv pb ON pb.p_partkey = e.b
      UNION ALL
      SELECT pb.c, pa.c
      FROM e JOIN pv pa ON pa.p_partkey = e.a
             JOIN pv pb ON pb.p_partkey = e.b
    ),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM sym
    )
    SELECT CAST(n AS BIGINT) AS n_edge_ends,
           floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 * 1.0e6 + 0.5) / 1.0e6 AS price_assortativity
    FROM m
    """,
)
def graph_price_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute assortativity of the co-purchase graph on part PRICE:
    the Pearson correlation of endpoint prices over the symmetrized
    edge list — positive means expensive parts co-sell with expensive
    parts (bundle pricing), the attribute sibling of the registered
    degree assortativity and the numeric sibling of brand modularity.
    One broadcast dimension join onto the bounded edge set; exact
    integer moment sums."""
    from cioos_siooc_data_transform_spark.plans.staged_r8 import (
        _copurchase_edges,
    )

    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100.0 + 0.5)
        .cast("decimal(38,0)")
        .alias("c"),
    )
    e = _copurchase_edges(spark, sf_dir)
    j = (
        e.join(
            F.broadcast(
                part.select(F.col("p_partkey").alias("a"), F.col("c").alias("x"))
            ),
            "a",
        )
        .join(
            F.broadcast(
                part.select(F.col("p_partkey").alias("b"), F.col("c").alias("y"))
            ),
            "b",
        )
        .select("x", "y")
    )
    sym = j.unionAll(j.select(F.col("y").alias("x"), F.col("x").alias("y")))
    m = sym.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    return m.select(
        F.col("n").cast("long").alias("n_edge_ends"),
        (
            F.floor(
                (nd * sxy - sx * sy)
                / F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("price_assortativity"),
    )


# ===========================================================================
# Wave J — rank fidelity, truncated-count models, calibration, QTE.
# ===========================================================================
def _adc_rank_oracle() -> str:
    return """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    subs AS (SELECT unnest(generate_series(0, 7)) AS j),
    cb AS (
      SELECT s.j, c.vec_id AS code, c.v[s.j*8+1 : s.j*8+8] AS center
      FROM subs s CROSS JOIN (SELECT * FROM e WHERE vec_id < 4) c
    ),
    dist AS (
      SELECT e.vec_id, cb.j, cb.code,
             list_reduce(list_transform(generate_series(1, 8),
                 i -> (e.v[cb.j*8 + i] - cb.center[i])
                      * (e.v[cb.j*8 + i] - cb.center[i])),
               (a, b) -> a + b) AS d
      FROM e CROSS JOIN cb
    ),
    enc AS (
      SELECT vec_id, j, list_position(dl, list_min(dl)) - 1 AS code
      FROM (SELECT vec_id, j, list(d ORDER BY code) AS dl FROM dist GROUP BY 1, 2)
    ),
    codes AS (SELECT vec_id, list(code ORDER BY j) AS codes FROM enc GROUP BY 1),
    lut AS (
      SELECT query_id, list(dl ORDER BY j) AS lut
      FROM (
        SELECT vec_id AS query_id, j, list(d ORDER BY code) AS dl
        FROM dist WHERE vec_id < 20 GROUP BY 1, 2
      ) GROUP BY 1
    ),
    approx AS (
      SELECT l.query_id, c.vec_id AS neighbor_id,
             round(list_reduce(list_transform(generate_series(1, 8),
                     j -> l.lut[j][c.codes[j] + 1]),
                   (a, b) -> a + b), 6) AS ad
      FROM lut l CROSS JOIN codes c
      WHERE c.vec_id <> l.query_id
    ),
    exact AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_reduce(list_transform(generate_series(1, 64),
                     i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i])),
                   (a, b) -> a + b), 6) AS ed
      FROM (SELECT * FROM e WHERE vec_id < 20) q CROSS JOIN e c
      WHERE c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT a.query_id,
             CAST(row_number() OVER (PARTITION BY a.query_id
                    ORDER BY a.ad, a.neighbor_id) AS BIGINT) AS ra,
             CAST(row_number() OVER (PARTITION BY a.query_id
                    ORDER BY x.ed, x.neighbor_id) AS BIGINT) AS re
      FROM approx a JOIN exact x
        ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
    ),
    per AS (
      SELECT query_id, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum((ra - re) * (ra - re)) AS HUGEINT) AS sd2
      FROM ranked GROUP BY 1
    ),
    rho AS (
      SELECT CAST(floor((1.0e0 - 6.0e0 * CAST(sd2 AS DOUBLE)
                         / (CAST(n AS DOUBLE)
                            * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                               - 1.0e0))) * 1.0e6 + 0.5) AS BIGINT) AS r_u
      FROM per
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probes,
           floor(CAST(sum(r_u) AS DOUBLE) / count(*) + 0.5) / 1.0e6
             AS mean_spearman,
           floor(CAST(min(r_u) AS DOUBLE) + 0.5) / 1.0e6 AS min_spearman
    FROM rho
    """


@register("similarity_adc_rank_correlation", oracle=_adc_rank_oracle())
def similarity_adc_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank fidelity of PQ asymmetric-distance scoring: per probe
    (vec_id<20), Spearman correlation between the ADC distance ranking
    and the exact squared-L2 ranking over the whole corpus — recall@k
    asks 'did the top-k survive', this asks 'is the WHOLE ordering
    preserved', which is what reranking budgets depend on. Same
    deterministic first-4-vector codebooks as the registered ADC top-k;
    ranks are integers (rounded distance + id tiebreak), so Σd² is
    exact and per-probe rho quantizes before the exact mean."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
    )

    emb = _t(spark, sf_dir, "embeddings")
    head = (
        emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    books = [
        [[float(x) for x in r.embedding[j * 8 : (j + 1) * 8]] for r in head]
        for j in range(8)
    ]
    codes = pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") < 20)
    n_corpus = emb.count()
    approx = pq_adc_topk(
        queries, codes, books, k_top=n_corpus, round_dp=6
    ).select("query_id", "neighbor_id", F.col("approx_dist2").alias("ad"))
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    ed = F.round(
        F.aggregate(
            F.zip_with(
                F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
        6,
    )
    exact = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", ed.alias("edist"))
    )
    wa = Window.partitionBy("query_id").orderBy("ad", "neighbor_id")
    we = Window.partitionBy("query_id").orderBy("edist", "neighbor_id")
    ranked = (
        approx.join(exact, ["query_id", "neighbor_id"])
        .select(
            "query_id",
            F.row_number().over(wa).cast("long").alias("ra"),
            F.row_number().over(we).cast("long").alias("re"),
        )
    )
    per = ranked.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(
            ((F.col("ra") - F.col("re")) * (F.col("ra") - F.col("re"))).cast(
                "decimal(38,0)"
            )
        ).alias("sd2"),
    )
    nd = F.col("n").cast("double")
    rho_u = F.floor(
        (
            F.lit(1.0)
            - F.lit(6.0) * F.col("sd2").cast("double") / (nd * (nd * nd - F.lit(1.0)))
        )
        * 1.0e6
        + 0.5
    ).cast("long")
    rho = per.select(rho_u.alias("r_u"))
    return rho.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        (
            F.floor(F.sum("r_u").cast("double") / F.count(F.lit(1)) + 0.5)
            / 1.0e6
        ).alias("mean_spearman"),
        (F.floor(F.min("r_u").cast("double") + 0.5) / 1.0e6).alias(
            "min_spearman"
        ),
    )


@register(
    "customer_order_count_ztp_fit",
    oracle="""
    WITH c AS (
      SELECT o_custkey, CAST(count(*) AS HUGEINT) AS n
      FROM orders GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS k, CAST(sum(n) AS DOUBLE) AS s,
             CAST(count(*) FILTER (n = 1) AS BIGINT) AS n_ones
      FROM c
    ),
    it AS (
      SELECT k, s, n_ones, s / k AS mean,
             s / k * (1.0e0 - exp(-(s / k
               * (1.0e0 - exp(-(s / k
                 * (1.0e0 - exp(-(s / k
                   * (1.0e0 - exp(-(s / k))))))))))))
               AS lam
      FROM m
    )
    SELECT CAST(k AS BIGINT) AS n_customers,
           floor(mean * 1.0e6 + 0.5) / 1.0e6 AS mean_orders,
           floor(lam * 1.0e6 + 0.5) / 1.0e6 AS ztp_lambda,
           floor(exp(-lam) / (1.0e0 - exp(-lam)) * 1.0e6 + 0.5) / 1.0e6
             AS implied_zero_odds,
           n_ones
    FROM it
    """,
)
def customer_order_count_ztp_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-truncated Poisson fit of orders-per-customer: the orders
    table only shows customers with >= 1 order, so the plain Poisson
    mean overestimates lambda; the ZTP moment condition mean =
    lambda/(1 − e^−lambda) inverts by four unrolled fixed-point steps
    lambda <- mean·(1 − e^−lambda) (contraction for mean > 1; fixed
    depth keeps the plan static and engine-identical). implied_zero_odds
    = e^−λ/(1−e^−λ) estimates the never-ordered shadow population per
    observed customer — the demand-estimation correction a naive mean
    misses."""
    o = _t(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n")
    )
    m = c.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("n").cast("double").alias("s"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_ones"),
    )
    mean = F.col("s") / F.col("k")
    lam = mean
    for _ in range(4):
        lam = mean * (F.lit(1.0) - F.exp(-lam))
    return m.select(
        F.col("k").cast("long").alias("n_customers"),
        (F.floor(mean * 1.0e6 + 0.5) / 1.0e6).alias("mean_orders"),
        (F.floor(lam * 1.0e6 + 0.5) / 1.0e6).alias("ztp_lambda"),
        (
            F.floor(
                F.exp(-lam) / (F.lit(1.0) - F.exp(-lam)) * 1.0e6 + 0.5
            )
            / 1.0e6
        ).alias("implied_zero_odds"),
        "n_ones",
    )


def _langid_calibration_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.registry import ORACLES

    return f"""
    WITH li AS ({ORACLES["text_langid"]}),
    m AS (
      SELECT li.doc_id, li.pred_lang, d.lang,
             list_sort([en_hits, es_hits, fr_hits, de_hits]) AS hs
      FROM li JOIN documents d USING (doc_id)
    ),
    b AS (
      SELECT CASE
               WHEN hs[4] - hs[3] = 0 THEN 'a_margin_0'
               WHEN hs[4] - hs[3] <= 2 THEN 'b_margin_1_2'
               WHEN hs[4] - hs[3] <= 5 THEN 'c_margin_3_5'
               ELSE 'd_margin_6_plus'
             END AS margin_bin,
             (pred_lang = lang) AS correct
      FROM m
    )
    SELECT margin_bin, CAST(count(*) AS BIGINT) AS n_docs,
           floor(CAST(count(*) FILTER (correct) AS DOUBLE) / count(*)
                 * 1.0e6 + 0.5) / 1.0e6 AS accuracy
    FROM b GROUP BY margin_bin ORDER BY margin_bin
    """


@register("text_langid_calibration_curve", oracle=_langid_calibration_oracle())
def text_langid_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve of the n-gram language identifier: bucket docs
    by the hit-count MARGIN between the top and runner-up language and
    measure accuracy per bucket — a monotone curve justifies using the
    margin as a confidence score (keep margin>=3, route margin 0 to a
    heavier model), which is how langid actually gets deployed in a
    curation funnel. Reuses the registered text_langid plan and its
    oracle text verbatim (the confusion-matrix pattern); margins are
    exact integers via array_sort."""
    from cioos_siooc_data_transform_spark.plans.text_queries import (
        text_langid,
    )

    pred = text_langid(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    hs = F.array_sort(
        F.array("en_hits", "es_hits", "fr_hits", "de_hits")
    )
    m = pred.join(docs, "doc_id").select(
        (F.element_at(hs, 4) - F.element_at(hs, 3)).alias("margin"),
        (F.col("pred_lang") == F.col("lang")).alias("correct"),
    )
    bin_ = (
        F.when(F.col("margin") == 0, "a_margin_0")
        .when(F.col("margin") <= 2, "b_margin_1_2")
        .when(F.col("margin") <= 5, "c_margin_3_5")
        .otherwise("d_margin_6_plus")
    )
    return (
        m.select(bin_.alias("margin_bin"), "correct")
        .groupBy("margin_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (
                F.floor(
                    F.sum(F.when(F.col("correct"), 1).otherwise(0)).cast(
                        "double"
                    )
                    / F.count(F.lit(1))
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("accuracy"),
        )
        .orderBy("margin_bin")
    )


_QTE_QS = (0.1, 0.25, 0.5, 0.75, 0.9)


@register(
    "orders_quantile_treatment_effect",
    oracle=f"""
    WITH g AS (
      SELECT (month(o_orderdate) = 12) AS treat,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders
      WHERE year(o_orderdate) = 2000 AND month(o_orderdate) IN (11, 12)
    ),
    q AS (
      SELECT treat,
             {", ".join(f"CAST(quantile_cont(cents * 4, {q}) AS BIGINT) AS q{int(q*100)}" for q in _QTE_QS)}
      FROM g GROUP BY treat
    ),
    lv AS (
      -- q_level must leave as DOUBLE: the struct literal types it
      -- DECIMAL(3,2), a banned driver-canon result type (type lint)
      SELECT treat, CAST(u.q_level AS DOUBLE) AS q_level, u.v4 FROM q,
        unnest([{", ".join(f"{{'q_level': {q}, 'v4': q{int(q*100)}}}" for q in _QTE_QS)}])
          AS t(u)
    ),
    w AS (
      SELECT q_level,
             max(CASE WHEN NOT treat THEN v4 END) AS nov4,
             max(CASE WHEN treat THEN v4 END) AS dec4
      FROM lv GROUP BY q_level
    )
    SELECT q_level,
           floor(CAST(nov4 AS DOUBLE) / 400.0e0 * 1.0e2 + 0.5) / 1.0e2
             AS nov_dollars,
           floor(CAST(dec4 AS DOUBLE) / 400.0e0 * 1.0e2 + 0.5) / 1.0e2
             AS dec_dollars,
           floor(CAST(dec4 - nov4 AS DOUBLE) / 400.0e0 * 1.0e2 + 0.5) / 1.0e2
             AS qte_dollars
    FROM w ORDER BY q_level
    """,
)
def orders_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects of the December effect (Nov vs Dec
    2000): the difference of order-value quantiles at 0.1/0.25/0.5/
    0.75/0.9 — where in the distribution the holiday lift lives
    (a mean shift can hide a pure upper-tail effect), the
    distributional companion to the registered diff-in-diff. Quadrupled-
    integer percentiles are exact dyadic doubles on both engines;
    bounded 5-row output."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.year("o_orderdate") == 2000)
        & F.month("o_orderdate").isin(11, 12)
    )
    g = o.select(
        (F.month("o_orderdate") == 12).alias("treat"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias(
            "cents"
        ),
    )
    aggs = [
        F.expr(f"CAST(percentile(cents * 4, {q}) AS BIGINT)").alias(
            f"q{int(q * 100)}"
        )
        for q in _QTE_QS
    ]
    q = g.groupBy("treat").agg(*aggs)
    stack = ", ".join(
        f"CAST({qq} AS DOUBLE), q{int(qq * 100)}" for qq in _QTE_QS
    )
    lv = q.select(
        "treat",
        F.expr(f"stack({len(_QTE_QS)}, {stack}) AS (q_level, v4)"),
    )
    w = lv.groupBy("q_level").agg(
        F.max(F.when(~F.col("treat"), F.col("v4"))).alias("nov4"),
        F.max(F.when(F.col("treat"), F.col("v4"))).alias("dec4"),
    )
    def dollars(col):
        return F.floor(col.cast("double") / 400.0 * 1.0e2 + 0.5) / 1.0e2
    return w.select(
        "q_level",
        dollars(F.col("nov4")).alias("nov_dollars"),
        dollars(F.col("dec4")).alias("dec_dollars"),
        dollars(F.col("dec4") - F.col("nov4")).alias("qte_dollars"),
    ).orderBy("q_level")


# ===========================================================================
# Wave K — distribution distance, index balance, retail-price and
# contingency-cell audits.
# ===========================================================================
@register(
    "customer_energy_distance_segments",
    oracle="""
    WITH g AS (
      SELECT c_mktsegment AS seg,
             CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS v
      FROM customer WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
    ),
    c AS (
      SELECT v,
             CAST(count(*) FILTER (seg = 'AUTOMOBILE') AS BIGINT) AS cx,
             CAST(count(*) FILTER (seg = 'BUILDING') AS BIGINT) AS cy
      FROM g GROUP BY v
    ),
    r AS (
      SELECT v, cx, cy, v * cx AS vx, v * cy AS vy,
             sum(cx) OVER w AS fx, sum(cy) OVER w AS fy,
             sum(v * cx) OVER w AS sx, sum(v * cy) OVER w AS sy
      FROM c WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
    ),
    t AS (
      SELECT CAST(sum(cx) AS DOUBLE) AS nx, CAST(sum(cy) AS DOUBLE) AS ny,
             CAST(sum(v * cx) AS HUGEINT) AS tx,
             CAST(sum(v * cy) AS HUGEINT) AS ty
      FROM c
    ),
    sums AS (
      SELECT
        CAST(sum(CAST(cx AS HUGEINT)
                 * (2 * v * fy - 2 * sy + ty - CAST(v * ny AS HUGEINT)))
             AS DOUBLE) AS a_xy,
        CAST(sum(CAST(cx AS HUGEINT)
                 * (2 * v * fx - 2 * sx + tx - CAST(v * nx AS HUGEINT)))
             AS DOUBLE) AS b_xx,
        CAST(sum(CAST(cy AS HUGEINT)
                 * (2 * v * fy - 2 * sy + ty - CAST(v * ny AS HUGEINT)))
             AS DOUBLE) AS c_yy
      FROM r, t
    )
    SELECT CAST(nx AS BIGINT) AS n_automobile, CAST(ny AS BIGINT) AS n_building,
           floor((2.0e0 * a_xy / (nx * ny) - b_xx / (nx * nx)
                  - c_yy / (ny * ny)) / 100.0e0 * 1.0e6 + 0.5) / 1.0e6
             AS energy_distance_dollars,
           floor(a_xy / (nx * ny) / 100.0e0 * 1.0e4 + 0.5) / 1.0e4
             AS mean_cross_absdiff_dollars
    FROM sums, t
    """,
)
def customer_energy_distance_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample energy distance (Székely & Rizzo) between the
    AUTOMOBILE and BUILDING account-balance distributions: D² =
    2·E|X−Y| − E|X−X'| − E|Y−Y'| — a distribution-difference metric
    sensitive to ANY discrepancy (location, scale, shape), sharper than
    KS in the tails. The O(n·m) pairwise |x−y| sums collapse to closed
    forms over cumulative counts AND cumulative value masses, all four
    produced by ONE multi_weighted_cumsum_two_pass over the distinct-
    value table (operators/windows.py — no global window, three bounded
    shuffles); every Σ|x−y| is an exact integer before the final
    normalization."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        multi_weighted_cumsum_two_pass,
    )

    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING")
    )
    g = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") * 100.0 + 0.5).cast("long").alias("v"),
    )
    c = g.groupBy("v").agg(
        F.sum(F.when(F.col("seg") == "AUTOMOBILE", 1).otherwise(0))
        .cast("long")
        .alias("cx"),
        F.sum(F.when(F.col("seg") == "BUILDING", 1).otherwise(0))
        .cast("long")
        .alias("cy"),
    ).select(
        "v",
        "cx",
        "cy",
        (F.col("v") * F.col("cx")).alias("vx"),
        (F.col("v") * F.col("cy")).alias("vy"),
    )
    r = multi_weighted_cumsum_two_pass(
        c, "v", "v", ["cx", "cy", "vx", "vy"], descending=False
    )
    t = c.agg(
        F.sum("cx").cast("double").alias("nx"),
        F.sum("cy").cast("double").alias("ny"),
        F.sum("vx").cast("decimal(38,0)").alias("tx"),
        F.sum("vy").cast("decimal(38,0)").alias("ty"),
    )
    j = r.crossJoin(F.broadcast(t))
    d = F.col("v").cast("decimal(38,0)")
    term_y = (
        2 * d * F.col("cum_cy").cast("decimal(38,0)")
        - 2 * F.col("cum_vy").cast("decimal(38,0)")
        + F.col("ty")
        - d * F.col("ny").cast("decimal(38,0)")
    )
    term_x = (
        2 * d * F.col("cum_cx").cast("decimal(38,0)")
        - 2 * F.col("cum_vx").cast("decimal(38,0)")
        + F.col("tx")
        - d * F.col("nx").cast("decimal(38,0)")
    )
    sums = j.agg(
        F.sum(F.col("cx").cast("decimal(38,0)") * term_y)
        .cast("double")
        .alias("a_xy"),
        F.sum(F.col("cx").cast("decimal(38,0)") * term_x)
        .cast("double")
        .alias("b_xx"),
        F.sum(F.col("cy").cast("decimal(38,0)") * term_y)
        .cast("double")
        .alias("c_yy"),
        F.max(F.col("nx")).alias("nx"),
        F.max(F.col("ny")).alias("ny"),
    )
    nx, ny = F.col("nx"), F.col("ny")
    return sums.select(
        nx.cast("long").alias("n_automobile"),
        ny.cast("long").alias("n_building"),
        (
            F.floor(
                (
                    F.lit(2.0) * F.col("a_xy") / (nx * ny)
                    - F.col("b_xx") / (nx * nx)
                    - F.col("c_yy") / (ny * ny)
                )
                / 100.0
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("energy_distance_dollars"),
        (
            F.floor(F.col("a_xy") / (nx * ny) / 100.0 * 1.0e4 + 0.5) / 1.0e4
        ).alias("mean_cross_absdiff_dollars"),
    )


@register(
    "similarity_ivf_cell_balance",
    oracle="""
    WITH cent AS (
      SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < 8
    ),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, cent.centroid_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(
                            CAST(v.embedding AS DOUBLE[]), cent.cv), 4) DESC,
                          cent.centroid_id ASC
               ) AS rn
        FROM embeddings v, cent
      ) WHERE rn = 1
    ),
    cells AS (
      SELECT centroid_id, CAST(count(*) AS HUGEINT) AS n
      FROM assigned GROUP BY 1
    ),
    a AS (
      SELECT CAST(count(*) AS HUGEINT) AS k, CAST(sum(n) AS HUGEINT) AS s,
             sum(n * n) AS ss, CAST(max(n) AS BIGINT) AS mx
      FROM cells
    )
    SELECT CAST(k AS BIGINT) AS n_cells, CAST(s AS BIGINT) AS n_vectors,
           mx AS max_cell,
           floor(CAST(mx AS DOUBLE) / CAST(s AS DOUBLE) * 1.0e6 + 0.5)
             / 1.0e6 AS max_cell_share,
           floor(sqrt((CAST(k AS DOUBLE) * CAST(ss AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) - 1.0e0)))
                 / (CAST(s AS DOUBLE) / CAST(k AS DOUBLE)) * 1.0e6 + 0.5)
             / 1.0e6 AS cell_size_cv
    FROM a
    """,
)
def similarity_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-size balance audit: max-cell share and the coefficient
    of variation of cell sizes under the registered deterministic
    8-centroid assignment — the straggler predictor for every
    cell-routed ANN/dedup join (a 40%-share cell IS the wall-clock at
    scale; the skew-stress harness measures the cure, this query
    measures the disease). Reuses ivf_assign verbatim; integer moment
    sums."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        ivf_assign,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding")
    assigned = ivf_assign(emb, cent, with_vector=False)
    cells = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n")
    )
    a = cells.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
        F.max("n").cast("long").alias("mx"),
    )
    kd = F.col("k").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    return a.select(
        F.col("k").cast("long").alias("n_cells"),
        F.col("s").cast("long").alias("n_vectors"),
        F.col("mx").alias("max_cell"),
        (
            F.floor(F.col("mx").cast("double") / sd * 1.0e6 + 0.5) / 1.0e6
        ).alias("max_cell_share"),
        (
            F.floor(
                F.sqrt((kd * ssd - sd * sd) / (kd * (kd - F.lit(1.0))))
                / (sd / kd)
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("cell_size_cv"),
    )


@register(
    "part_price_ending_digits",
    oracle="""
    WITH p AS (
      SELECT CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) % 100
               AS cents_ending
      FROM part
    ),
    c AS (
      SELECT cents_ending, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n) AS DOUBLE) AS nn, count(*) AS k FROM c)
    SELECT cents_ending, n,
           floor(CAST(n AS DOUBLE) / nn * 1.0e6 + 0.5) / 1.0e6 AS share
    FROM c, t ORDER BY n DESC, cents_ending LIMIT 10
    """,
)
def part_price_ending_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retail price-ending audit: the top-10 cents endings of part
    prices with their share — psychological-pricing structure (.99/.00
    clustering) or its absence says whether prices are set by humans or
    by formula, the forensic sibling of the Benford first-digit audit
    on the OTHER end of the number. One 100-key aggregate."""
    part = _t(spark, sf_dir, "part")
    p = part.select(
        (F.floor(F.col("p_retailprice") * 100.0 + 0.5).cast("long") % 100).alias(
            "cents_ending"
        )
    )
    c = p.groupBy("cents_ending").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    t = c.agg(F.sum("n").cast("double").alias("nn"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "cents_ending",
            "n",
            (
                F.floor(F.col("n").cast("double") / F.col("nn") * 1.0e6 + 0.5)
                / 1.0e6
            ).alias("share"),
        )
        .orderBy(F.col("n").desc(), "cents_ending")
        .limit(10)
    )


@register(
    "events_type_hour_stdres_outliers",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS nr FROM c GROUP BY 1),
    ct AS (SELECT hr, CAST(sum(n) AS BIGINT) AS nc FROM c GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS DOUBLE) AS nn FROM c),
    z AS (
      SELECT c.event_type, c.hr, c.n,
             CAST(nr AS DOUBLE) * nc / nn AS expected,
             (c.n - CAST(nr AS DOUBLE) * nc / nn)
               / sqrt(CAST(nr AS DOUBLE) * nc / nn
                      * (1.0e0 - nr / nn) * (1.0e0 - nc / nn)) AS stdres
      FROM c JOIN rt USING (event_type) JOIN ct USING (hr), t
    )
    SELECT event_type, hr, n,
           floor(expected * 1.0e3 + 0.5) / 1.0e3 AS expected,
           floor(stdres * 1.0e6 + 0.5) / 1.0e6 AS std_residual
    FROM z
    ORDER BY abs(stdres) DESC, event_type, hr LIMIT 10
    """,
)
def events_type_hour_stdres_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haberman adjusted standardized residuals of the event-type x
    hour contingency table, top-10 by magnitude — the cell-level
    follow-up that says WHICH (type, hour) combinations drive the
    association the chi-square family only detects globally (|z| > 3
    cells are the anomalies worth a dashboard annotation). Bounded
    5x24 table; expectations and residuals from exact marginal sums,
    deterministic tie-broken top-10."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    rt = c.groupBy("event_type").agg(F.sum("n").cast("long").alias("nr"))
    ct = c.groupBy("hr").agg(F.sum("n").cast("long").alias("nc"))
    t = c.agg(F.sum("n").cast("double").alias("nn"))
    j = (
        c.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "hr")
        .crossJoin(F.broadcast(t))
    )
    exp_ = F.col("nr").cast("double") * F.col("nc") / F.col("nn")
    stdres = (F.col("n") - exp_) / F.sqrt(
        exp_
        * (F.lit(1.0) - F.col("nr") / F.col("nn"))
        * (F.lit(1.0) - F.col("nc") / F.col("nn"))
    )
    return (
        j.select(
            "event_type",
            "hr",
            "n",
            (F.floor(exp_ * 1.0e3 + 0.5) / 1.0e3).alias("expected"),
            (F.floor(stdres * 1.0e6 + 0.5) / 1.0e6).alias("std_residual"),
            F.abs(stdres).alias("__a"),
        )
        .orderBy(F.col("__a").desc(), "event_type", "hr")
        .limit(10)
        .drop("__a")
    )


# ===========================================================================
# Wave L — process tests and coverage/threshold curves.
# ===========================================================================
@register(
    "orders_gap_exponentiality_ks",
    oracle="""
    WITH g AS (
      SELECT datediff('day', lag(CAST(o_orderdate AS DATE)) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             CAST(o_orderdate AS DATE)) AS gap
      FROM orders
    ),
    d AS (SELECT CAST(gap AS BIGINT) AS gap FROM g WHERE gap IS NOT NULL AND gap > 0),
    c AS (SELECT gap, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
    t AS (
      SELECT CAST(sum(n) AS DOUBLE) AS nn,
             CAST(sum(gap * n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS mu
      FROM c
    ),
    r AS (
      SELECT gap, sum(n) OVER (ORDER BY gap ROWS UNBOUNDED PRECEDING) AS f
      FROM c
    ),
    ks AS (
      SELECT CAST(floor(abs(f / nn - (1.0e0 - exp(-gap / mu))) * 1.0e9 + 0.5)
                  AS BIGINT) AS d_u
      FROM r, t
    )
    SELECT CAST(nn AS BIGINT) AS n_gaps,
           floor(mu * 1.0e3 + 0.5) / 1.0e3 AS mean_gap_days,
           floor(CAST(max(d_u) AS DOUBLE) / 1.0e3 + 0.5) / 1.0e6 AS ks_d,
           floor(CAST(max(d_u) AS DOUBLE) / 1.0e9 * sqrt(nn) * 1.0e6 + 0.5)
             / 1.0e6 AS ks_scaled
    FROM ks, t GROUP BY nn, mu
    """,
)
def orders_gap_exponentiality_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov test of inter-order gaps against the fitted
    exponential (the Poisson-process hypothesis every queueing and CLV
    model starts from): D = max |F_emp(v) − (1 − e^{−v/μ})| over the
    distinct-gap support, with the empirical CDF from the two-pass
    weighted cumsum (no global window) and the exponential side
    evaluated identically on both engines; per-value deviations
    quantize to 1e-9 before the max so the argmax is engine-exact.
    Zero-day gaps (same-day reorders) are excluded as ties against a
    continuous null, documented."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.select(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap")
    ).filter(F.col("gap").isNotNull() & (F.col("gap") > 0))
    c = g.groupBy("gap").agg(F.count(F.lit(1)).cast("long").alias("n"))
    c2 = c.withColumn("neg", -F.col("gap"))
    r = ranked_cumsum_two_pass(c2, "neg", "neg", weight_col="n", out_cum="f")
    t = c.agg(
        F.sum("n").cast("double").alias("nn"),
        (
            F.sum(F.col("gap") * F.col("n")).cast("double")
            / F.sum("n").cast("double")
        ).alias("mu"),
    )
    ks = r.crossJoin(F.broadcast(t)).select(
        F.floor(
            F.abs(
                F.col("f") / F.col("nn")
                - (F.lit(1.0) - F.exp(-F.col("gap") / F.col("mu")))
            )
            * 1.0e9
            + 0.5
        )
        .cast("long")
        .alias("d_u"),
        "nn",
        "mu",
    )
    return ks.groupBy("nn", "mu").agg(
        (F.floor(F.max("d_u").cast("double") / 1.0e3 + 0.5) / 1.0e6).alias(
            "ks_d"
        ),
        (
            F.floor(
                F.max("d_u").cast("double")
                / 1.0e9
                * F.sqrt(F.col("nn"))
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("ks_scaled"),
    ).select(
        F.col("nn").cast("long").alias("n_gaps"),
        (F.floor(F.col("mu") * 1.0e3 + 0.5) / 1.0e3).alias("mean_gap_days"),
        "ks_d",
        "ks_scaled",
    )


_OOV_KS = (1000, 5000, 20000)


@register(
    "text_oov_vocab_curve",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ),
    c AS (SELECT t, CAST(count(*) AS BIGINT) AS n
          FROM (SELECT t FROM tok WHERE t <> '') GROUP BY t),
    r AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, t) AS rnk,
             sum(n) OVER (ORDER BY n DESC, t ROWS UNBOUNDED PRECEDING)
               AS cum
      FROM c
    ),
    t2 AS (
      SELECT CAST(sum(n) AS DOUBLE) AS nn, CAST(count(*) AS BIGINT) AS v
      FROM c
    ),
    ks AS (SELECT unnest([{", ".join(str(k) for k in _OOV_KS)}]) AS k),
    cov AS (
      SELECT k, max(CASE WHEN rnk <= k THEN cum ELSE 0 END) AS covered
      FROM r, ks GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS vocab_size,
           CAST(covered AS BIGINT) AS covered_tokens,
           floor((1.0e0 - covered / nn) * 1.0e6 + 0.5) / 1.0e6 AS oov_rate,
           v AS total_types
    FROM cov, t2 ORDER BY k
    """,
)
def text_oov_vocab_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate vs vocabulary budget: keep the top
    1k/5k/20k types by frequency and measure the token mass left
    uncovered — the tokenizer/embedding-table sizing curve (UNK rate
    drives both quality and the softmax bill). Term ranks and running
    covered mass come from ONE two-pass ranked cumsum over the term-
    frequency table (weight = frequency; no global window at any
    vocabulary size); the oracle mirrors with plain windows."""
    from cioos_siooc_data_transform_spark.operators.text import words_expr
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    docs = _t(spark, sf_dir, "documents")
    c = (
        docs.select(
            F.explode(
                F.filter(words_expr(F.col("text")), lambda x: x != "")
            ).alias("t")
        )
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    r = ranked_cumsum_two_pass(c, "n", "t", weight_col="n")
    t2 = c.agg(
        F.sum("n").cast("double").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    ks = spark.range(0, 3).select(
        F.element_at(
            F.array(*[F.lit(k) for k in _OOV_KS]), (F.col("id") + 1).cast("int")
        ).alias("k")
    )
    cov = (
        r.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.max(
                F.when(F.col("rnk") <= F.col("k"), F.col("cum")).otherwise(0)
            ).alias("covered")
        )
    )
    return (
        cov.crossJoin(F.broadcast(t2))
        .select(
            F.col("k").cast("long").alias("vocab_size"),
            F.col("covered").cast("long").alias("covered_tokens"),
            (
                F.floor(
                    (F.lit(1.0) - F.col("covered") / F.col("nn")) * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("oov_rate"),
            F.col("v").alias("total_types"),
        )
        .orderBy("vocab_size")
    )


_SUPPORT_TS = (1, 2, 3)


def _support_sweep_oracle() -> str:
    per = []
    for t in _SUPPORT_TS:
        per.append(f"""
    e{t} AS (
      SELECT pa AS a, pb AS b FROM base WHERE support >= {t}
    ),
    tri{t} AS (
      SELECT CAST(count(*) AS BIGINT) AS n_tri
      FROM e{t} x JOIN e{t} y ON x.b = y.a
      JOIN e{t} z ON z.a = x.a AND z.b = y.b
    ),
    r{t} AS (
      SELECT {t} AS support_min,
             (SELECT CAST(count(*) AS BIGINT) FROM e{t}) AS n_edges,
             (SELECT CAST(count(DISTINCT u) AS BIGINT) FROM (
                SELECT a AS u FROM e{t} UNION ALL SELECT b FROM e{t}))
               AS n_nodes,
             (SELECT n_tri FROM tri{t}) AS n_triangles
    )""")
    unions = " UNION ALL ".join(f"SELECT * FROM r{t}" for t in _SUPPORT_TS)
    return f"""
    WITH base AS (
      SELECT x.l_partkey AS pa, y.l_partkey AS pb,
             count(*) AS support
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) x
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      GROUP BY 1, 2
    ),
    {", ".join(p.strip() for p in per)}
    SELECT CAST(support_min AS BIGINT) AS support_min, n_edges, n_nodes,
           n_triangles,
           floor(2.0e0 * n_edges / (CAST(n_nodes AS DOUBLE)
                 * (n_nodes - 1.0e0)) * 1.0e6 + 0.5) / 1.0e6 AS density
    FROM ({unions}) ORDER BY support_min
    """


@register("graph_support_threshold_sweep", oracle=_support_sweep_oracle())
def graph_support_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase graph vs the support threshold (edges need >= 1/2/3
    co-occurring orders): edge/node/triangle counts and density per
    cutoff — the graph-sparsification knob every co-occurrence analysis
    hardcodes (the registered queries fix support >= 2; this shows what
    that choice keeps and kills). The weighted pair base is computed
    ONCE; each threshold is a filter plus the bounded a<b<c triangle
    join."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    base = (
        a.join(b, "k")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    out = None
    for t in _SUPPORT_TS:
        e = base.filter(F.col("support") >= t).select(
            F.col("pa").alias("a"), F.col("pb").alias("b")
        )
        ne = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        nn = (
            e.select(F.col("a").alias("u"))
            .unionAll(e.select(F.col("b").alias("u")))
            .agg(F.countDistinct("u").cast("long").alias("n_nodes"))
        )
        e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
        e2 = e.select(F.col("a").alias("y2"), F.col("b").alias("z"))
        e3 = e.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
        tri = (
            e1.join(e2, F.col("y") == F.col("y2"))
            .join(e3, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
            .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        )
        row = (
            ne.crossJoin(F.broadcast(nn))
            .crossJoin(F.broadcast(tri))
            .select(
                F.lit(t).cast("long").alias("support_min"),
                "n_edges",
                "n_nodes",
                "n_triangles",
                (
                    F.floor(
                        F.lit(2.0)
                        * F.col("n_edges")
                        / (
                            F.col("n_nodes").cast("double")
                            * (F.col("n_nodes") - F.lit(1.0))
                        )
                        * 1.0e6
                        + 0.5
                    )
                    / 1.0e6
                ).alias("density"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("support_min")


@register(
    "supplier_type_concentration_cr4",
    oracle="""
    WITH r AS (
      SELECT p.p_type, l.l_suppkey,
             CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0
                                 + 0.5) AS BIGINT)) AS BIGINT) AS rev
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT p_type, rev,
             row_number() OVER (PARTITION BY p_type
                                ORDER BY rev DESC, l_suppkey) AS rn
      FROM r
    ),
    agg AS (
      SELECT p_type, CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(sum(rev) AS HUGEINT) AS total,
             CAST(sum(rev) FILTER (rn <= 4) AS HUGEINT) AS top4
      FROM ranked GROUP BY 1
    )
    SELECT p_type, n_suppliers,
           floor(CAST(top4 AS DOUBLE) / CAST(total AS DOUBLE) * 1.0e6 + 0.5)
             / 1.0e6 AS cr4
    FROM agg ORDER BY cr4 DESC, p_type LIMIT 20
    """,
)
def supplier_type_concentration_cr4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-firm concentration ratio (CR4) of supplier revenue within
    each part type, top-20 most concentrated: the antitrust-style
    market-structure readout that the Herfindahl (already registered by
    nation) summarizes into one number but procurement teams read as
    'top-4 share' per category. The rank window is PARTITIONED by type
    (bounded suppliers per type); integer cent sums; deterministic
    tie-breaks."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    r = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_type", "l_suppkey")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                    * 100.0
                    + 0.5
                ).cast("long")
            )
            .cast("long")
            .alias("rev")
        )
    )
    w = Window.partitionBy("p_type").orderBy(F.col("rev").desc(), "l_suppkey")
    ranked = r.withColumn("rn", F.row_number().over(w))
    agg = ranked.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("rev").cast("decimal(38,0)").alias("total"),
        F.sum(F.when(F.col("rn") <= 4, F.col("rev")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("top4"),
    )
    return (
        agg.select(
            "p_type",
            "n_suppliers",
            (
                F.floor(
                    F.col("top4").cast("double")
                    / F.col("total").cast("double")
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("cr4"),
        )
        .orderBy(F.col("cr4").desc(), "p_type")
        .limit(20)
    )


# ===========================================================================
# Wave M — slate close-out part 1: freezing-salinity inversion in t,
# the LSH bucket-cap cost curve, day-k retention, and first-order
# stochastic dominance of ship lags.
# ===========================================================================
#: Measured dTf/dSA over the envelope s in [30, 35.2], p in [0, 2000]:
#: [-0.0575, -0.0564] degC per unit SP — fixed-slope factor ~1%/step.
_DTF_DSA = -0.0569


def _sa_freezing_t_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        t_freezing_sql,
    )

    stages: list[tuple[str, str]] = [
        ("__sft_target", t_freezing_sql("s", "p")),
        ("__sft_s0", "32.5e0"),
    ]
    for k in (1, 2, 3, 4):
        prev = f"__sft_s{k - 1}"
        stages += [
            (f"__sft_tf{k}", t_freezing_sql(prev, "p")),
            (
                f"__sft_s{k}",
                f"({prev} - (__sft_tf{k} - __sft_target) / {_DTF_DSA:.17g})",
            ),
        ]
    stages.append(("sp_freezing_t", "__sft_s4"))
    return stages


def _sa_freezing_t_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r5 import _IN_SQL

    staged = _stage_sql_cte(f"SELECT * FROM ({_IN_SQL})", _sa_freezing_t_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(sp_freezing_t * 1.0e6 + 0.5) / 1.0e6 AS sp_freezing_t
    FROM ({staged})
    """


@register("gsw_sa_freezing_from_t", oracle=_sa_freezing_t_oracle())
def gsw_sa_freezing_from_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freezing salinity from in-situ temperature (GSW twin:
    gsw_SA_freezing_from_t, here on the practical-salinity scale like
    its registered CT-based sibling): the target t comes from the
    forward Millero t_freezing at the grid salinity (roundtrip
    contract), then four fixed-slope steps s <- s − (tf(s,p) − t)/slope
    with the measured envelope slope dTf/dSA = −0.0569 (range −0.0575
    to −0.0564 => ~1% residual factor per step). Matching t directly
    skips the ct_from_t chain the CT variant needs — five small
    polynomial evaluations, zero shuffle."""
    from cioos_siooc_data_transform_spark.plans.staged_r5 import _inputs

    df = _inputs(spark, sf_dir)
    for name, expr in _sa_freezing_t_stages():
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("sp_freezing_t") * 1.0e6 + 0.5) / 1.0e6).alias(
            "sp_freezing_t"
        ),
    )


_CAP_SWEEP = (10, 50, 200)


def _bucket_cap_oracle() -> str:
    def hash_sql(k: int) -> str:
        digest = (k - 1) // 4
        offset = ((k - 1) % 4) * 8 + 1
        return f"substr(md5(s || '#{digest}'), {offset}, 8)"

    sig_cols = ", ".join(f"min({hash_sql(k)}) AS h{k}" for k in range(1, 17))
    buckets = " UNION ALL ".join(
        "SELECT doc_id, md5('" + str(b) + "' || "
        + " || ".join(f"h{b * 4 + r + 1}" for r in range(4))
        + ") AS bucket FROM sig"
        for b in range(4)
    )
    per = []
    for cap in _CAP_SWEEP:
        per.append(f"""
    gd{cap} AS (
      SELECT doc_id, bucket FROM (
        SELECT doc_id, bucket, count(*) OVER (PARTITION BY bucket) AS _n
        FROM bk
      ) WHERE _n <= {cap}
    ),
    cand{cap} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM gd{cap} a JOIN gd{cap} b USING (bucket)
      WHERE a.doc_id < b.doc_id
    ),
    r{cap} AS (
      SELECT {cap} AS bucket_cap,
             (SELECT count(*) FROM cand{cap}) AS n_candidates,
             (SELECT count(*) FROM cand{cap} JOIN exact USING (doc_a, doc_b))
               AS n_hit
    )""")
    unions = " UNION ALL ".join(f"SELECT * FROM r{c}" for c in _CAP_SWEEP)
    return f"""
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
    exact AS (
      SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
               round(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
        FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
      ) WHERE jaccard >= 0.5
    ),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
    sig AS (SELECT doc_id, {sig_cols} FROM f GROUP BY doc_id),
    bk AS ({buckets}),
    {", ".join(p.strip() for p in per)},
    allrows AS ({unions})
    SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap,
           CAST(n_candidates AS BIGINT) AS n_candidates, ne.n_exact,
           floor(CAST(n_hit AS DOUBLE)
                 / nullif(CAST(ne.n_exact AS DOUBLE), 0.0e0) * 1.0e6 + 0.5)
             / 1.0e6 AS recall
    FROM allrows, ne ORDER BY bucket_cap
    """


@register("dedup_bucket_cap_sweep", oracle=_bucket_cap_oracle())
def dedup_bucket_cap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mega-bucket guard's cost curve: LSH candidates and recall of
    the exact Jaccard>=0.5 pairs at bucket caps 10/50/200 over the
    standard 4x4 banding — the registered pipelines fix cap 50 (and the
    skew-stress harness shows the guard's wall-clock win); this query
    prices the RECALL side of that trade, completing the guard's
    cost/benefit story. Signatures and banding computed once and
    re-capped per point."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        lsh_band_buckets,
        lsh_candidate_pairs,
        minhash_signature,
        ngram_jaccard_pairs,
    )
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        distinct_shingles,
    )

    sh_all = distinct_shingles(spark, sf_dir)
    w_df = Window.partitionBy("s")
    f = (
        sh_all.withColumn("_df", F.count(F.lit(1)).over(w_df))
        .filter(F.col("_df") <= 10)
        .drop("_df")
    )
    exact = ngram_jaccard_pairs(
        sh_all, "doc_id", "s", threshold=0.5, max_doc_freq=10
    ).select("doc_a", "doc_b")
    ne = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    sig = minhash_signature(f, "doc_id", "s", num_hashes=16, hash_family="md5")
    bk = lsh_band_buckets(sig, "doc_id", num_hashes=16, bands=4)
    out = None
    for cap in _CAP_SWEEP:
        cand = lsh_candidate_pairs(bk, "doc_id", max_bucket_size=cap)
        nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        nh = cand.join(exact, ["doc_a", "doc_b"]).agg(
            F.count(F.lit(1)).cast("long").alias("n_hit")
        )
        row = (
            nc.crossJoin(F.broadcast(nh))
            .crossJoin(F.broadcast(ne))
            .select(
                F.lit(cap).cast("long").alias("bucket_cap"),
                "n_candidates",
                "n_exact",
                (
                    F.floor(
                        F.col("n_hit").cast("double")
                        / F.nullif(
                            F.col("n_exact").cast("double"), F.lit(0.0)
                        )
                        * 1.0e6
                        + 0.5
                    )
                    / 1.0e6
                ).alias("recall"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("bucket_cap")


@register(
    "events_dayk_retention_curve",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(min(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS BIGINT)
               AS d0
      FROM events GROUP BY 1
    ),
    act AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
      FROM events
    ),
    ks AS (SELECT unnest([1, 3, 7, 14]) AS k),
    ret AS (
      SELECT k,
             CAST(count(DISTINCT u.user_id) AS BIGINT) AS cohort,
             CAST(count(DISTINCT CASE WHEN act.d = u.d0 + k
                                      THEN u.user_id END) AS BIGINT)
               AS retained
      FROM u CROSS JOIN ks
      LEFT JOIN act ON act.user_id = u.user_id
      GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS day_k, cohort, retained,
           floor(CAST(retained AS DOUBLE) / cohort * 1.0e6 + 0.5) / 1.0e6
             AS retention_rate
    FROM ret ORDER BY day_k
    """,
)
def events_dayk_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-k retention curve: the share of users active again exactly
    k = 1/3/7/14 days after their FIRST event — the growth-team metric
    (the monthly cohort matrix is orders-side; this is the event-level
    daily form). First-day per user from one min-aggregate; retention
    via an equi-join on (user, day + k); distinct activity days
    pre-deduped so the join side stays user x active-days."""
    ev = _t(spark, sf_dir, "events")
    day = (F.col("ts").cast("long") / 86400).cast("long")
    u = ev.groupBy("user_id").agg(F.min(day).alias("d0"))
    act = ev.select("user_id", day.alias("d")).distinct()
    ks = spark.range(0, 4).select(
        F.element_at(
            F.array(F.lit(1), F.lit(3), F.lit(7), F.lit(14)),
            (F.col("id") + 1).cast("int"),
        ).alias("k")
    )
    ret = (
        u.crossJoin(F.broadcast(ks))
        .join(
            act.select(F.col("user_id").alias("u2"), "d"),
            (F.col("user_id") == F.col("u2"))
            & (F.col("d") == F.col("d0") + F.col("k")),
            "left",
        )
        .groupBy("k")
        .agg(
            F.countDistinct("user_id").cast("long").alias("cohort"),
            F.countDistinct(
                F.when(F.col("d").isNotNull(), F.col("user_id"))
            )
            .cast("long")
            .alias("retained"),
        )
    )
    return ret.select(
        F.col("k").cast("long").alias("day_k"),
        "cohort",
        "retained",
        (
            F.floor(
                F.col("retained").cast("double") / F.col("cohort") * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("retention_rate"),
    ).orderBy("day_k")


@register(
    "orders_priority_stochastic_dominance",
    oracle="""
    WITH lag_days AS (
      SELECT o_orderpriority AS pri,
             CAST(datediff('day', CAST(o_orderdate AS DATE),
                           CAST(l_shipdate AS DATE)) AS BIGINT) AS lag
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        AND l_shipdate >= o_orderdate
    ),
    c AS (
      SELECT lag,
             CAST(count(*) FILTER (pri = '1-URGENT') AS BIGINT) AS cu,
             CAST(count(*) FILTER (pri = '5-LOW') AS BIGINT) AS cl
      FROM lag_days GROUP BY lag
    ),
    r AS (
      SELECT lag,
             sum(cu) OVER w AS fu, sum(cl) OVER w AS fl
      FROM c WINDOW w AS (ORDER BY lag ROWS UNBOUNDED PRECEDING)
    ),
    t AS (
      SELECT CAST(sum(cu) AS DOUBLE) AS nu, CAST(sum(cl) AS DOUBLE) AS nl
      FROM c
    ),
    d AS (
      SELECT CAST(floor((fu / nu - fl / nl) * 1.0e9 + 0.5) AS BIGINT) AS gap
      FROM r, t
    )
    SELECT CAST(nu AS BIGINT) AS n_urgent, CAST(nl AS BIGINT) AS n_low,
           floor(CAST(min(gap) AS DOUBLE) / 1.0e3 + 0.5) / 1.0e6
             AS min_cdf_gap,
           floor(CAST(max(gap) AS DOUBLE) / 1.0e3 + 0.5) / 1.0e6
             AS max_cdf_gap,
           (min(gap) >= 0) AS urgent_dominates
    FROM d, t GROUP BY nu, nl
    """,
)
def orders_priority_stochastic_dominance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-order stochastic dominance of ship lags: URGENT dominates
    LOW iff F_urgent(x) >= F_low(x) at EVERY lag — a strictly stronger
    claim than 'faster on average' (means and medians can agree while
    the tail inverts). Both CDFs from one two-pass weighted cumsum over
    the distinct-lag table; per-lag CDF gaps quantize to 1e-9 before
    the min/max, so the dominance verdict is engine-exact. min_cdf_gap
    < 0 pinpoints the crossing, the SLA-tail finding."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        multi_weighted_cumsum_two_pass,
    )

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(
            F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
            & (F.col("l_shipdate") >= F.col("o_orderdate"))
        )
        .select(
            F.col("o_orderpriority").alias("pri"),
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            )
            .cast("long")
            .alias("lag"),
        )
    )
    c = j.groupBy("lag").agg(
        F.sum(F.when(F.col("pri") == "1-URGENT", 1).otherwise(0))
        .cast("long")
        .alias("cu"),
        F.sum(F.when(F.col("pri") == "5-LOW", 1).otherwise(0))
        .cast("long")
        .alias("cl"),
    )
    r = multi_weighted_cumsum_two_pass(
        c, "lag", "lag", ["cu", "cl"], descending=False
    )
    t = c.agg(
        F.sum("cu").cast("double").alias("nu"),
        F.sum("cl").cast("double").alias("nl"),
    )
    d = r.crossJoin(F.broadcast(t)).select(
        F.floor(
            (
                F.col("cum_cu") / F.col("nu")
                - F.col("cum_cl") / F.col("nl")
            )
            * 1.0e9
            + 0.5
        )
        .cast("long")
        .alias("gap"),
        "nu",
        "nl",
    )
    return d.groupBy("nu", "nl").agg(
        (F.floor(F.min("gap").cast("double") / 1.0e3 + 0.5) / 1.0e6).alias(
            "min_cdf_gap"
        ),
        (F.floor(F.max("gap").cast("double") / 1.0e3 + 0.5) / 1.0e6).alias(
            "max_cdf_gap"
        ),
        (F.min("gap") >= 0).alias("urgent_dominates"),
    ).select(
        F.col("nu").cast("long").alias("n_urgent"),
        F.col("nl").cast("long").alias("n_low"),
        "min_cdf_gap",
        "max_cdf_gap",
        "urgent_dominates",
    )


# ===========================================================================
# Wave N — slate close-out part 2: CM width sweep, law-of-one-price
# dispersion, stock cover, discounted LTV, SRP bit independence.
# ===========================================================================
_CM_WIDTH_HEX = (1, 2, 3)  # 16 / 256 / 4096 buckets


def _cm_bucket_sql(key_sql: str, row: int, hex_chars: int) -> str:
    return f"substr(md5({key_sql} || '#cw{row}'), 1, {hex_chars})"


def _cm_width_oracle() -> str:
    per = []
    for h in _CM_WIDTH_HEX:
        sketch = "\n      UNION ALL\n".join(
            f"""      SELECT {r} AS r,
             {_cm_bucket_sql("CAST(user_id AS VARCHAR)", r, h)} AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 2"""
            for r in range(2)
        )
        probes = "\n      UNION ALL\n".join(
            f"""      SELECT e.user_id, e.exact_n, s.cnt
      FROM exact e JOIN sk{h} s
        ON s.bucket = {_cm_bucket_sql("CAST(e.user_id AS VARCHAR)", r, h)}
           AND s.r = {r}"""
            for r in range(2)
        )
        per.append(f"""
    sk{h} AS (
{sketch}
    ),
    est{h} AS (
      SELECT user_id, max(exact_n) AS exact_n,
             CAST(min(cnt) AS BIGINT) AS cm
      FROM (
{probes}
      ) GROUP BY user_id
    ),
    r{h} AS (
      SELECT {16 ** h} AS n_buckets,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(CAST(floor((cm - exact_n) * 1.0e6 / exact_n + 0.5)
                           AS HUGEINT)) AS DOUBLE) / count(*) / 1.0e6
               AS mean_rel_overestimate
      FROM est{h}
    )""")
    unions = " UNION ALL ".join(f"SELECT * FROM r{h}" for h in _CM_WIDTH_HEX)
    return f"""
    WITH exact AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
      FROM events GROUP BY 1
    ),
    {", ".join(p.strip() for p in per)}
    SELECT CAST(n_buckets AS BIGINT) AS n_buckets, n_keys,
           floor(mean_rel_overestimate * 1.0e6 + 0.5) / 1.0e6
             AS mean_rel_overestimate
    FROM ({unions}) ORDER BY n_buckets
    """


@register("sketch_cm_width_sweep", oracle=_cm_width_oracle())
def sketch_cm_width_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min width sweep: mean relative OVERestimate of per-user
    counts at 16/256/4096 buckets (2 hash rows) — the memory/accuracy
    curve of the one sketch whose error is one-sided (CM never
    undercounts; the expected overshoot scales ~N/width). Prices the
    width the registered heavy-hitters query hardcodes. Per-user
    relative errors quantize to 1e-6 before the exact mean; sketch
    builds are 2x|buckets|-row aggregates."""
    ev = _t(spark, sf_dir, "events")
    key = F.col("user_id").cast("string")
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )
    out = None
    for h in _CM_WIDTH_HEX:
        sketches = []
        for r in range(2):
            sketches.append(
                ev.groupBy(
                    F.substring(
                        F.md5(F.concat(key, F.lit(f"#cw{r}"))), 1, h
                    ).alias("bucket")
                )
                .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
                .select(F.lit(r).alias("r"), "bucket", "cnt")
            )
        sk = sketches[0].unionByName(sketches[1])
        probes = None
        for r in range(2):
            pb = exact.select(
                "user_id",
                "exact_n",
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"), F.lit(f"#cw{r}")
                        )
                    ),
                    1,
                    h,
                ).alias("bucket"),
                F.lit(r).alias("r"),
            ).join(F.broadcast(sk), ["r", "bucket"])
            probes = pb if probes is None else probes.unionByName(pb)
        est = probes.groupBy("user_id").agg(
            F.max("exact_n").alias("exact_n"),
            F.min("cnt").cast("long").alias("cm"),
        )
        row = est.agg(
            F.lit(16 ** h).cast("long").alias("n_buckets"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            (
                F.floor(
                    F.sum(
                        F.floor(
                            (F.col("cm") - F.col("exact_n"))
                            * 1.0e6
                            / F.col("exact_n")
                            + 0.5
                        ).cast("decimal(38,0)")
                    ).cast("double")
                    / F.count(F.lit(1))
                    / 1.0e6
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("mean_rel_overestimate"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("n_buckets")


@register(
    "part_unit_price_dispersion",
    oracle="""
    WITH u AS (
      SELECT l_partkey,
             CAST(floor(l_extendedprice / l_quantity * 100.0 + 0.5)
                  AS BIGINT) AS unit_cents
      FROM lineitem WHERE l_quantity > 0
    ),
    per AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
             CAST(min(unit_cents) AS BIGINT) AS mn,
             CAST(max(unit_cents) AS BIGINT) AS mx
      FROM u GROUP BY 1 HAVING count(*) >= 3
    ),
    d AS (
      SELECT CAST(floor(CAST(mx - mn AS DOUBLE) / mn * 1.0e6 + 0.5)
                  AS BIGINT) AS rel_u
      FROM per
    )
    SELECT CAST(count(*) AS BIGINT) AS n_parts,
           CAST(count(*) FILTER (rel_u = 0) AS BIGINT) AS n_one_price,
           floor(CAST(sum(rel_u) AS DOUBLE) / count(*) + 0.5) / 1.0e6
             AS mean_rel_spread,
           floor(CAST(max(rel_u) AS DOUBLE) + 0.5) / 1.0e6 AS max_rel_spread
    FROM d
    """,
)
def part_unit_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Law-of-one-price audit: per part (>= 3 line items), the relative
    spread (max−min)/min of realized UNIT prices (extendedprice /
    quantity) — zero spread means the price book is formulaic, wide
    spread means negotiated or time-varying pricing, which changes how
    elasticity queries should be read. Unit prices floor to integer
    cents per row; per-part spreads quantize before the exact mean."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    u = li.select(
        "l_partkey",
        F.floor(
            F.col("l_extendedprice") / F.col("l_quantity") * 100.0 + 0.5
        )
        .cast("long")
        .alias("unit_cents"),
    )
    per = (
        u.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("unit_cents").cast("long").alias("mn"),
            F.max("unit_cents").cast("long").alias("mx"),
        )
        .filter(F.col("n") >= 3)
    )
    d = per.select(
        F.floor(
            (F.col("mx") - F.col("mn")).cast("double")
            / F.col("mn")
            * 1.0e6
            + 0.5
        )
        .cast("long")
        .alias("rel_u")
    )
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(F.when(F.col("rel_u") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_one_price"),
        (
            F.floor(F.sum("rel_u").cast("double") / F.count(F.lit(1)) + 0.5)
            / 1.0e6
        ).alias("mean_rel_spread"),
        (F.floor(F.max("rel_u").cast("double") + 0.5) / 1.0e6).alias(
            "max_rel_spread"
        ),
    )


def _stock_cover_oracle() -> str:
    from cioos_siooc_data_transform_spark.sources.partsupp import PARTSUPP_CTE

    return f"""
    WITH {PARTSUPP_CTE},
    avail AS (
      SELECT ps_partkey, CAST(sum(ps_availqty) AS BIGINT) AS avail
      FROM partsupp GROUP BY 1
    ),
    demand AS (
      SELECT l_partkey, CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT))
                             AS BIGINT) AS demand
      FROM lineitem GROUP BY 1
    ),
    j AS (
      SELECT avail, demand FROM avail JOIN demand ON ps_partkey = l_partkey
    ),
    b AS (
      SELECT CASE WHEN avail < demand THEN 'a_under_1x'
                  WHEN avail < 10 * demand THEN 'b_1x_10x'
                  WHEN avail < 100 * demand THEN 'c_10x_100x'
                  ELSE 'd_over_100x' END AS cover_bucket
      FROM j
    ),
    t AS (SELECT CAST(count(*) AS DOUBLE) AS np FROM b)
    SELECT cover_bucket, CAST(count(*) AS BIGINT) AS n_parts,
           floor(CAST(count(*) AS DOUBLE) / np * 1.0e6 + 0.5) / 1.0e6
             AS share
    FROM b, t GROUP BY cover_bucket, np ORDER BY cover_bucket
    """


@register("partsupp_stock_cover_audit", oracle=_stock_cover_oracle())
def partsupp_stock_cover_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stock-cover audit over the derived partsupp: available quantity
    (summed across a part's suppliers) against the part's observed
    demand (total lineitem quantity) — cover < 1 flags stockout risk,
    huge cover flags dead stock; bucketed into the inventory-review
    bands. The lineitem⋈partsupp aggregate pair is the spec's Q9/Q20
    join topology put to an operations question. Integer quantities
    throughout."""
    from cioos_siooc_data_transform_spark.sources.partsupp import (
        ensure_partsupp,
    )

    ps = ensure_partsupp(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    avail = ps.groupBy("ps_partkey").agg(
        F.sum("ps_availqty").cast("long").alias("avail")
    )
    demand = li.groupBy("l_partkey").agg(
        F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long"))
        .cast("long")
        .alias("demand")
    )
    j = avail.join(
        demand, avail["ps_partkey"] == demand["l_partkey"]
    ).select("avail", "demand")
    bucket = (
        F.when(F.col("avail") < F.col("demand"), "a_under_1x")
        .when(F.col("avail") < 10 * F.col("demand"), "b_1x_10x")
        .when(F.col("avail") < 100 * F.col("demand"), "c_10x_100x")
        .otherwise("d_over_100x")
    )
    t = j.agg(F.count(F.lit(1)).cast("double").alias("np"))
    return (
        j.select(bucket.alias("cover_bucket"))
        .groupBy("cover_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
        .crossJoin(F.broadcast(t))
        .select(
            "cover_bucket",
            "n_parts",
            (
                F.floor(
                    F.col("n_parts").cast("double") / F.col("np") * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("share"),
        )
        .orderBy("cover_bucket")
    )


@register(
    "customer_discounted_ltv",
    oracle="""
    WITH f AS (
      SELECT o_custkey,
             min(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS m0
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT o.o_custkey, c.c_mktsegment,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
             year(o_orderdate) * 12 + month(o_orderdate) - 1 - m0 AS m
      FROM orders o
      JOIN f ON f.o_custkey = o.o_custkey
      JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    d AS (
      SELECT c_mktsegment,
             CAST(floor(cents * pow(0.99e0, m) + 0.5) AS HUGEINT) AS dv
      FROM r
    ),
    per AS (
      SELECT c_mktsegment, CAST(count(DISTINCT o_custkey) AS BIGINT)
               AS n_customers
      FROM r GROUP BY 1
    )
    SELECT d.c_mktsegment, per.n_customers,
           CAST(floor(CAST(sum(dv) AS DOUBLE) / 100.0e0 + 0.5) AS BIGINT)
             AS total_dltv_dollars,
           floor(CAST(sum(dv) AS DOUBLE) / per.n_customers / 100.0e0 * 1.0e2
                 + 0.5) / 1.0e2 AS mean_dltv_dollars
    FROM d JOIN per USING (c_mktsegment)
    GROUP BY d.c_mktsegment, per.n_customers
    ORDER BY d.c_mktsegment
    """,
)
def customer_discounted_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted lifetime value by segment: each order's revenue
    discounted at 1%/month from the customer's FIRST order month
    (dv = cents·0.99^m) — the time-value-adjusted LTV that the
    undiscounted cohort curve overstates for slow repeat buyers.
    Per-order discounted values floor to integer cents before the exact
    segment sums; pow with integer exponent is evaluated identically on
    both engines. One first-month aggregate joined back, one segment
    rollup."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    ym = F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
    f = o.groupBy("o_custkey").agg(F.min(ym).alias("m0"))
    r = (
        o.join(f, "o_custkey")
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            "o_custkey",
            "c_mktsegment",
            F.floor(F.col("o_totalprice") * 100.0 + 0.5)
            .cast("long")
            .alias("cents"),
            (ym - F.col("m0")).alias("m"),
        )
    )
    d = r.select(
        "c_mktsegment",
        "o_custkey",
        F.floor(
            F.col("cents") * F.pow(F.lit(0.99), F.col("m")) + 0.5
        )
        .cast("decimal(38,0)")
        .alias("dv"),
    )
    per = d.groupBy("c_mktsegment").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        F.sum("dv").alias("sdv"),
    )
    return per.select(
        "c_mktsegment",
        "n_customers",
        F.floor(F.col("sdv").cast("double") / 100.0 + 0.5)
        .cast("long")
        .alias("total_dltv_dollars"),
        (
            F.floor(
                F.col("sdv").cast("double")
                / F.col("n_customers")
                / 100.0
                * 1.0e2
                + 0.5
            )
            / 1.0e2
        ).alias("mean_dltv_dollars"),
    ).orderBy("c_mktsegment")


def _srp_bits_sql() -> str:
    from cioos_siooc_data_transform_spark.plans.dedup_queries import _EMB_HP

    bits = ", ".join(
        "CASE WHEN list_dot_product(e, ["
        + ", ".join(f"{v:.4f}" for v in _EMB_HP[i])
        + f"]) >= 0 THEN 1 ELSE 0 END AS b{i}"
        for i in range(len(_EMB_HP))
    )
    return f"SELECT {bits} FROM (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings)"


def _srp_independence_oracle() -> str:
    n_bits = 32
    pairs = ", ".join(
        f"{{'i': {i}, 'j': {j}}}" for i in range(n_bits) for j in range(i + 1, n_bits)
    )
    arr = "[" + ", ".join(f"b{i}" for i in range(n_bits)) + "]"
    return f"""
    WITH bits AS ({_srp_bits_sql()}),
    rows_ AS (SELECT {arr} AS ba FROM bits),
    pr AS (SELECT unnest([{pairs}]) AS p),
    c AS (
      SELECT p.i, p.j,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(ba[p.i + 1]) AS HUGEINT) AS si,
             CAST(sum(ba[p.j + 1]) AS HUGEINT) AS sj,
             CAST(sum(ba[p.i + 1] * ba[p.j + 1]) AS HUGEINT) AS sij
      FROM rows_, pr GROUP BY p.i, p.j
    ),
    phi AS (
      SELECT i, j,
             CAST(floor((CAST(n AS DOUBLE) * CAST(sij AS DOUBLE)
                         - CAST(si AS DOUBLE) * CAST(sj AS DOUBLE))
                        / sqrt(CAST(si AS DOUBLE)
                               * (CAST(n AS DOUBLE) - CAST(si AS DOUBLE))
                               * CAST(sj AS DOUBLE)
                               * (CAST(n AS DOUBLE) - CAST(sj AS DOUBLE)))
                        * 1.0e6 + 0.5) AS BIGINT) AS phi_u
      FROM c
    )
    SELECT CAST(i AS BIGINT) AS bit_i, CAST(j AS BIGINT) AS bit_j,
           phi_u / 1.0e6 AS phi
    FROM phi ORDER BY abs(phi_u) DESC, bit_i, bit_j LIMIT 10
    """


@register("similarity_srp_bit_independence", oracle=_srp_independence_oracle())
def similarity_srp_bit_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise phi correlation of the 32 sign-random-projection bits
    (the seed-42 hyperplane family behind dedup_embedding_cosine's LSH
    banding), top-10 by magnitude: band collision probabilities assume
    ~independent bits, and on ANISOTROPIC embeddings (which the
    anisotropy audit shows these are) correlated hyperplane pairs make
    bands collide more than the S-curve predicts — this names the
    worst offenders. One 496-pair aggregate over map-side-combinable
    integer sums; deterministic tie-broken top-10."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        double_matrix_sql,
    )
    from cioos_siooc_data_transform_spark.plans.dedup_queries import _EMB_HP

    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")

    # round-13 (same fix as hyperplane_lsh_buckets): one bank literal +
    # a single transform producing all 32 sign bits — same left-to-right
    # double accumulation, bit-identical output.
    n_bits = len(_EMB_HP)
    hmat = F.expr(double_matrix_sql(_EMB_HP))
    bits = emb.select(
        F.transform(
            hmat,
            lambda h: F.when(
                F.aggregate(
                    F.zip_with(e, h, lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                )
                >= 0,
                1,
            ).otherwise(0),
        ).alias("ba")
    )
    pairs = [(i, j) for i in range(n_bits) for j in range(i + 1, n_bits)]
    pr = spark.createDataFrame(pairs, "i INT, j INT")
    c = (
        bits.crossJoin(F.broadcast(pr))
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum(F.element_at("ba", F.col("i") + 1))
            .cast("decimal(38,0)")
            .alias("si"),
            F.sum(F.element_at("ba", F.col("j") + 1))
            .cast("decimal(38,0)")
            .alias("sj"),
            F.sum(
                F.element_at("ba", F.col("i") + 1)
                * F.element_at("ba", F.col("j") + 1)
            )
            .cast("decimal(38,0)")
            .alias("sij"),
        )
    )
    nd = F.col("n").cast("double")
    si = F.col("si").cast("double")
    sj = F.col("sj").cast("double")
    sij = F.col("sij").cast("double")
    phi_u = F.floor(
        (nd * sij - si * sj)
        / F.sqrt(si * (nd - si) * sj * (nd - sj))
        * 1.0e6
        + 0.5
    ).cast("long")
    return (
        c.select(
            F.col("i").cast("long").alias("bit_i"),
            F.col("j").cast("long").alias("bit_j"),
            phi_u.alias("phi_u"),
        )
        .orderBy(F.abs(F.col("phi_u")).desc(), "bit_i", "bit_j")
        .limit(10)
        .select("bit_i", "bit_j", (F.col("phi_u") / 1.0e6).alias("phi"))
    )


