"""Round-8 query slate: 50 live queries, each registered at import
with ``register``; strict-harness coverage in tests/test_staged_r8.py.

Content:
- Wave A — multi-lag autocorrelation function (the full ACF profile,
  one window pass), pairwise language JS-divergence matrix, basket-size
  distribution with exact moments, per-brand price dispersion (CV).
- Wave B — exact inter-purchase-gap quartiles per segment, hourly
  seasonality strength (eta-squared, quantized scatter terms), Tukey
  IQR-fence outliers in pure integer cents.
- Wave C — partial correlation of price and quantity controlling for
  discount (ten sums, one pass), per-user entropy-vs-volume
  correlation, and total-variation drift of the yearly priority mix
  (the categorical KS companion).
- Wave D — weekend revenue share, tax x discount interaction grid
  (Q1's charge expression as a two-factor table), segment repeat rate.
- Wave E — REAL-shape TPC-H Q2/Q9/Q11/Q16/Q20 over the derived
  deterministic partsupp table (sources/partsupp.py), including the
  lineitem x partsupp pair join the partsupp-free adaptations could
  not express.
- Wave H — GSW ice tranche: rho/entropy/cp/enthalpy of ice Ih as
  IAPWS-06 Gibbs derivatives (functions/ice.py; Table-6 check values
  pinned).
- Wave I — GSW energy tail: enthalpy_diff (shared a_K stages),
  CT_from_enthalpy Newton inversion, CT_freezing, the exact
  latentheat_melting composition, Henderson-Sellers evaporation heat.
- Wave J — pareto_share_two_pass: the range-bucket two-pass rank
  operator pinned equal to the live global-window query.
- Wave K — cabbeling/thermobaric from analytic 75-term derivatives.
- Wave L — Poisson rate CIs, peak-hour stability, run-length profiles.
- Wave M — degree-banded clustering coefficients, common-neighbor link
  prediction.
- Wave N — Yule's K, top covariance dimension pairs, bucket-sampled
  cosine histogram.
- Wave O — deterministic minority oversampling, cohort LTV curves,
  nation trade balance, Count-Min heavy-hitter audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cioos_siooc_data_transform_spark.session import checkpoint_df
from cioos_siooc_data_transform_spark.plans.staged_r6 import (
    _cents,
    pearson_r_from_sums,
)
from cioos_siooc_data_transform_spark.plans.registry import register
from cioos_siooc_data_transform_spark.session import read_table as _t


# ---------------------------------------------------------------------------
# Full autocorrelation profile: Pearson r at lags 1..5 per event type
# from ONE window pass (five lag columns share the sort) — extends the
# live single-lag autocorr to the ACF shape seasonality hunting needs.
# ---------------------------------------------------------------------------
def _acf_oracle() -> str:
    lag_selects = ",\n             ".join(
        f"lag(v, {k}) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS x{k}"
        for k in range(1, 6)
    )
    unions = "\n      UNION ALL\n".join(
        f"""      SELECT event_type, {k} AS lag, x{k} AS x, v AS y
      FROM lagged WHERE x{k} IS NOT NULL"""
        for k in range(1, 6)
    )
    return f"""
    WITH q AS (
      SELECT event_type, ts, event_id,
             CAST(floor(value * 1.0e6 + 0.5) AS HUGEINT) AS v
      FROM events
    ),
    lagged AS (
      SELECT event_type, v,
             {lag_selects}
      FROM q
    ),
    pairs AS (
{unions}
    ),
    s AS (
      SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
      FROM pairs GROUP BY 1, 2
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag, n AS n_pairs,
           floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                 / NULLIF(sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 0.0)
                 * 1.0e6 + 0.5) / 1.0e6 AS acf
    FROM s
    """


@register("events_acf_profile", oracle=_acf_oracle())
def events_acf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF at lags 1-5 per type: five lag columns from ONE sorted
    window pass (shared Exchange + sort), stacked long, then the shared
    exact-sum Pearson finisher per (type, lag)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    q = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") * 1.0e6 + 0.5).cast("decimal(19,0)").alias("v"),
    )
    lagged = q.select(
        "event_type",
        "v",
        *[F.lag("v", k).over(w).alias(f"x{k}") for k in range(1, 6)],
    )
    stacked = None
    for k in range(1, 6):
        part = lagged.filter(F.col(f"x{k}").isNotNull()).select(
            "event_type",
            F.lit(k).cast("long").alias("lag"),
            F.col(f"x{k}").alias("x"),
            F.col("v").alias("y"),
        )
        stacked = part if stacked is None else stacked.unionByName(part)
    s = stacked.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return s.select(
        "event_type",
        "lag",
        F.col("n").alias("n_pairs"),
        pearson_r_from_sums().alias("acf"),
    )


# ---------------------------------------------------------------------------
# Pairwise JS divergence between LANGUAGE vocabulary distributions (all
# 10 pairs) — the matrix generalization of the live two-cohort source
# JS divergence; per-term contributions pico-quantized as there.
# ---------------------------------------------------------------------------
@register(
    "lang_js_divergence_matrix",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    c AS (
      SELECT lang, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
    ),
    n AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
    pairs AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b FROM n a JOIN n b
      ON a.lang < b.lang
    ),
    grid AS (
      SELECT p.lang_a, p.lang_b, t.t,
             COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb,
             na.n AS na, nb.n AS nb
      FROM pairs p
      CROSS JOIN (SELECT DISTINCT t FROM c) t
      LEFT JOIN c ca ON ca.lang = p.lang_a AND ca.t = t.t
      LEFT JOIN c cb ON cb.lang = p.lang_b AND cb.t = t.t
      JOIN n na ON na.lang = p.lang_a
      JOIN n nb ON nb.lang = p.lang_b
      WHERE COALESCE(ca.c, 0) + COALESCE(cb.c, 0) > 0
    ),
    terms AS (
      SELECT lang_a, lang_b,
             CAST(floor((
               CASE WHEN ca > 0 THEN
                 0.5 * (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
                     * ln((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
                          / (0.5 * (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                                    + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))))
               ELSE 0.0 END
               +
               CASE WHEN cb > 0 THEN
                 0.5 * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
                     * ln((CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
                          / (0.5 * (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                                    + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))))
               ELSE 0.0 END) * 1.0e12 + 0.5) AS HUGEINT) AS tq
      FROM grid
    )
    SELECT lang_a, lang_b,
           floor(CAST(sum(tq) AS DOUBLE) / 1.0e6 + 0.5) / 1.0e6 AS js_nats
    FROM terms GROUP BY 1, 2
    """,
)
def lang_js_divergence_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JS divergence for every language pair over the shared vocabulary
    grid (absent terms contribute through the present side only). One
    (lang, term) count agg; the pair grid joins against the BOUNDED
    vocab; per-term contributions pico-quantized before the
    order-independent sums."""
    docs = _t(spark, sf_dir, "documents")
    from cioos_siooc_data_transform_spark.operators.dedup import words_expr

    tok = docs.select("lang", F.explode(words_expr(F.col("text"))).alias("t"))
    c = tok.groupBy("lang", "t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = c.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    na = n.select(F.col("lang").alias("lang_a"), F.col("n").alias("na"))
    nb = n.select(F.col("lang").alias("lang_b"), F.col("n").alias("nb"))
    pairs = na.crossJoin(nb).filter(F.col("lang_a") < F.col("lang_b"))
    terms_v = c.select("t").distinct()
    ca = c.select(
        F.col("lang").alias("lang_a"), F.col("t"), F.col("c").alias("ca")
    )
    cb = c.select(
        F.col("lang").alias("lang_b"), F.col("t"), F.col("c").alias("cb")
    )
    grid = (
        pairs.crossJoin(terms_v)
        .join(ca, ["lang_a", "t"], "left")
        .join(cb, ["lang_b", "t"], "left")
        .select(
            "lang_a",
            "lang_b",
            F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
            F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
            "na",
            "nb",
        )
        .filter(F.col("ca") + F.col("cb") > 0)
    )
    pa = F.col("ca").cast("double") / F.col("na").cast("double")
    pb = F.col("cb").cast("double") / F.col("nb").cast("double")
    m = 0.5 * (pa + pb)
    contrib = F.when(F.col("ca") > 0, 0.5 * pa * F.log(pa / m)).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("cb") > 0, 0.5 * pb * F.log(pb / m)).otherwise(F.lit(0.0))
    terms = grid.select(
        "lang_a",
        "lang_b",
        F.floor(contrib * 1.0e12 + 0.5).cast("decimal(38,0)").alias("tq"),
    )
    return terms.groupBy("lang_a", "lang_b").agg(
        (F.floor(F.sum("tq").cast("double") / 1.0e6 + 0.5) / 1.0e6).alias(
            "js_nats"
        )
    )


# ---------------------------------------------------------------------------
# Basket-size distribution: lines-per-order histogram plus exact mean.
# ---------------------------------------------------------------------------
@register(
    "orders_basket_size_distribution",
    oracle="""
    WITH b AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1
    )
    SELECT n_lines AS basket_size,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM b GROUP BY 1
    """,
)
def orders_basket_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lines-per-order histogram (1..7 in TPC-H-shaped data) — the
    basket-analysis base rate. Two map-side-combinable aggs."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("basket_size")
    )
    return b.groupBy("basket_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )


# ---------------------------------------------------------------------------
# Price dispersion per brand: coefficient of variation from exact sums.
# ---------------------------------------------------------------------------
@register(
    "part_brand_price_dispersion",
    oracle="""
    WITH q AS (
      SELECT p_brand, CAST(floor(p_retailprice * 100.0 + 0.5) AS HUGEINT) AS v
      FROM part
    ),
    s AS (
      SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
             sum(v) AS s1, sum(v*v) AS s2
      FROM q GROUP BY 1
    )
    SELECT p_brand AS brand, n AS n_parts,
           CAST(floor(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
             AS mean_cents,
           floor(sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                 / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * 1.0e6 + 0.5)
             / 1.0e6 AS coeff_variation
    FROM s
    """,
)
def part_brand_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coefficient of variation (sigma/mu) of retail price per brand —
    the scale-free dispersion gauge. One exact-sum agg per brand; the
    CV expression runs on bit-identical doubles."""
    p = _t(spark, sf_dir, "part")
    q = p.select(
        "p_brand", _cents(F.col("p_retailprice")).cast("decimal(19,0)").alias("v")
    )
    s = q.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    sd = F.sqrt(F.col("s2").cast("double") / nd - mean * mean)
    return s.select(
        F.col("p_brand").alias("brand"),
        F.col("n").alias("n_parts"),
        F.floor(mean).cast("long").alias("mean_cents"),
        (F.floor(sd / mean * 1.0e6 + 0.5) / 1.0e6).alias("coeff_variation"),
    )


# ===========================================================================
# Wave B — inter-purchase percentiles, seasonality strength, Tukey
# fences.
# ===========================================================================
@register(
    "orders_interpurchase_percentiles",
    oracle="""
    WITH g AS (
      SELECT c.c_mktsegment AS segment,
             CAST(date_diff('day',
               lag(o.o_orderdate) OVER (PARTITION BY o.o_custkey
                                        ORDER BY o.o_orderdate, o.o_orderkey),
               o.o_orderdate) AS BIGINT) AS gap_days
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    gg AS (SELECT segment, gap_days FROM g WHERE gap_days IS NOT NULL),
    ranked AS (
      SELECT segment, gap_days,
             row_number() OVER (PARTITION BY segment
                                ORDER BY gap_days, 1) AS rn,
             count(*) OVER (PARTITION BY segment) AS n
      FROM gg
    )
    SELECT segment,
           CAST(max(n) AS BIGINT) AS n_gaps,
           CAST(max(CASE WHEN rn = (n - 1) // 4 + 1 THEN gap_days END) AS BIGINT)
             AS p25_days,
           CAST(max(CASE WHEN rn = (n - 1) // 2 + 1 THEN gap_days END) AS BIGINT)
             AS p50_days,
           CAST(max(CASE WHEN rn = ((n - 1) * 3) // 4 + 1 THEN gap_days END)
                AS BIGINT) AS p75_days
    FROM ranked GROUP BY 1
    """,
)
def orders_interpurchase_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete quartiles of the inter-order gap (days between a
    customer's consecutive orders), rolled up per segment — the
    repurchase-cadence profile. One per-customer lag window over the
    fact table, then the exact order-statistic machinery per segment."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
            .cast("long")
            .alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    wr = Window.partitionBy("segment").orderBy("gap_days")
    wn = Window.partitionBy("segment")
    ranked = g.select(
        "segment",
        "gap_days",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def at(idx):
        return F.max(F.when(F.col("rn") == idx, F.col("gap_days"))).cast("long")

    i25 = ((F.col("n") - 1) / 4).cast("long") + 1
    i50 = ((F.col("n") - 1) / 2).cast("long") + 1
    i75 = ((F.col("n") - 1) * 3 / 4).cast("long") + 1
    return ranked.groupBy("segment").agg(
        F.max("n").cast("long").alias("n_gaps"),
        at(i25).alias("p25_days"),
        at(i50).alias("p50_days"),
        at(i75).alias("p75_days"),
    )


@register(
    "events_hourly_seasonality_strength",
    oracle="""
    WITH q AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
             CAST(floor(value * 1.0e6 + 0.5) AS HUGEINT) AS v
      FROM events
    ),
    per_h AS (
      SELECT event_type, h, CAST(count(*) AS BIGINT) AS n,
             sum(v) AS s1, sum(v*v) AS s2
      FROM q GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS nt, sum(s1) AS t1,
             sum(s2) AS t2
      FROM per_h GROUP BY 1
    ),
    ssw AS (
      SELECT p.event_type,
             CAST(sum(CAST(floor(CAST(p.s2 AS DOUBLE)
                 - CAST(p.s1 AS DOUBLE)*CAST(p.s1 AS DOUBLE)/CAST(p.n AS DOUBLE)
                 + 0.5) AS HUGEINT)) AS HUGEINT) AS w
      FROM per_h p GROUP BY 1
    )
    SELECT t.event_type,
           floor((1.0 - CAST(ssw.w AS DOUBLE)
                        / (CAST(t.t2 AS DOUBLE)
                           - CAST(t.t1 AS DOUBLE)*CAST(t.t1 AS DOUBLE)
                             /CAST(t.nt AS DOUBLE)))
                 * 1.0e6 + 0.5) / 1.0e6 AS seasonality_strength
    FROM tot t JOIN ssw USING (event_type)
    """,
)
def events_hourly_seasonality_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """How much of the value variance the hour-of-day explains:
    1 - SSW/SST over the 24 hour groups per type (the eta-squared of
    the hourly seasonality — ~0 means no diurnal structure). Same
    quantized scatter discipline as the ANOVA family; one (type, hour)
    exact agg, everything after is 24-row-bounded."""
    ev = _t(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.hour("ts").cast("long").alias("h"),
        F.floor(F.col("value") * 1.0e6 + 0.5).cast("decimal(19,0)").alias("v"),
    )
    per_h = q.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
    )
    tot = per_h.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s1").alias("t1"),
        F.sum("s2").alias("t2"),
    )
    ssw_term = F.floor(
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
        / F.col("n").cast("double")
        + 0.5
    ).cast("decimal(38,0)")
    ssw = per_h.groupBy("event_type").agg(F.sum(ssw_term).alias("w"))
    j = tot.join(ssw, "event_type")
    sst = F.col("t2").cast("double") - F.col("t1").cast("double") * F.col(
        "t1"
    ).cast("double") / F.col("nt").cast("double")
    strength = 1.0 - F.col("w").cast("double") / sst
    return j.select(
        "event_type",
        (F.floor(strength * 1.0e6 + 0.5) / 1.0e6).alias("seasonality_strength"),
    )


@register(
    "supplier_acctbal_tukey_outliers",
    oracle="""
    WITH q AS (
      SELECT s_suppkey,
             CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
      FROM supplier
    ),
    ranked AS (
      SELECT s_suppkey, cents,
             row_number() OVER (ORDER BY cents, s_suppkey) AS rn,
             count(*) OVER () AS n
      FROM q
    ),
    fences AS (
      SELECT max(CASE WHEN rn = (n - 1) // 4 + 1 THEN cents END) AS q1,
             max(CASE WHEN rn = ((n - 1) * 3) // 4 + 1 THEN cents END) AS q3
      FROM ranked
    )
    SELECT q.s_suppkey AS supp_key, q.cents AS acctbal_cents,
           CASE WHEN q.cents < f.q1 - 3 * (f.q3 - f.q1) // 2 THEN 'low'
                ELSE 'high' END AS fence_side
    FROM q CROSS JOIN fences f
    WHERE q.cents < f.q1 - 3 * (f.q3 - f.q1) // 2
       OR q.cents > f.q3 + 3 * (f.q3 - f.q1) // 2
    """,
)
def supplier_acctbal_tukey_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outliers (beyond Q1/Q3 -/+ 1.5*IQR) on supplier
    balances — the boxplot rule with everything in integer cents:
    1.5*IQR is computed as 3*IQR//2 so the fences are exact integers on
    both engines (no .5 float fence). Exact quartiles via the discrete
    order-statistic; 1-row fence broadcast. Round-9 migration: the rank
    comes from ranked_cumsum_two_pass (the supplier dim scales with SF;
    a global-order window would sort it in one task) and the total is a
    1-row broadcast aggregate instead of an unbounded count window."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    s = _t(spark, sf_dir, "supplier")
    q = s.select("s_suppkey", _cents(F.col("s_acctbal")).alias("cents"))
    tot = q.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = (
        ranked_cumsum_two_pass(
            q, "cents", "s_suppkey",
            out_rank="rn", out_cum="__cum_unused", ascending=True,
        )
        .crossJoin(F.broadcast(tot))
        .select("cents", "rn", "n")
    )
    i1 = ((F.col("n") - 1) / 4).cast("long") + 1
    i3 = ((F.col("n") - 1) * 3 / 4).cast("long") + 1
    fences = ranked.agg(
        F.max(F.when(F.col("rn") == i1, F.col("cents"))).alias("q1"),
        F.max(F.when(F.col("rn") == i3, F.col("cents"))).alias("q3"),
    )
    iqr15 = F.expr("3 * (q3 - q1) DIV 2")
    low = F.col("cents") < F.col("q1") - iqr15
    high = F.col("cents") > F.col("q3") + iqr15
    return (
        q.crossJoin(F.broadcast(fences))
        .filter(low | high)
        .select(
            F.col("s_suppkey").alias("supp_key"),
            F.col("cents").alias("acctbal_cents"),
            F.when(low, "low").otherwise("high").alias("fence_side"),
        )
    )


# ===========================================================================
# Wave C — partial correlation, entropy-vs-volume, categorical drift.
# ===========================================================================
@register(
    "lineitem_partial_corr_price_qty",
    oracle="""
    WITH q AS (
      SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS HUGEINT) AS x,
             CAST(floor(l_quantity + 0.5) AS HUGEINT) AS y,
             CAST(floor(l_discount * 100.0 + 0.5) AS HUGEINT) AS z
      FROM lineitem
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
             sum(x*x) AS sxx, sum(y*y) AS syy, sum(z*z) AS szz,
             sum(x*y) AS sxy, sum(x*z) AS sxz, sum(y*z) AS syz
      FROM q
    ),
    r AS (
      SELECT n,
             (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))) AS rxy,
             (CAST(n AS DOUBLE)*CAST(sxz AS DOUBLE)
              - CAST(sx AS DOUBLE)*CAST(sz AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE)*CAST(szz AS DOUBLE)
                       - CAST(sz AS DOUBLE)*CAST(sz AS DOUBLE))) AS rxz,
             (CAST(n AS DOUBLE)*CAST(syz AS DOUBLE)
              - CAST(sy AS DOUBLE)*CAST(sz AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))
                    * (CAST(n AS DOUBLE)*CAST(szz AS DOUBLE)
                       - CAST(sz AS DOUBLE)*CAST(sz AS DOUBLE))) AS ryz
      FROM s
    )
    SELECT n AS n_lines,
           floor(rxy * 1.0e6 + 0.5) / 1.0e6 AS r_price_qty,
           floor((rxy - rxz * ryz)
                 / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
                 * 1.0e6 + 0.5) / 1.0e6 AS r_price_qty_given_disc
    FROM r
    """,
)
def lineitem_partial_corr_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of price and quantity CONTROLLING for
    discount: r_xy.z = (r_xy - r_xz*r_yz)/sqrt((1-r_xz^2)(1-r_yz^2)),
    with all three pairwise r's coming from ONE pass of ten exact
    integer sums — the confounder-screen companion to the raw
    correlation matrix already staged."""
    li = _t(spark, sf_dir, "lineitem")
    q = li.select(
        _cents(F.col("l_extendedprice")).cast("decimal(19,0)").alias("x"),
        F.floor(F.col("l_quantity") + 0.5).cast("decimal(19,0)").alias("y"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("decimal(19,0)").alias("z"),
    )
    s = q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"), F.sum("z").alias("sz"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("z")).alias("sxz"),
        F.sum(F.col("y") * F.col("z")).alias("syz"),
    )
    nd = F.col("n").cast("double")

    def rr(sab, sa, sb, saa, sbb):
        num = nd * F.col(sab).cast("double") - F.col(sa).cast("double") * F.col(
            sb
        ).cast("double")
        den = F.sqrt(
            (nd * F.col(saa).cast("double")
             - F.col(sa).cast("double") * F.col(sa).cast("double"))
            * (nd * F.col(sbb).cast("double")
               - F.col(sb).cast("double") * F.col(sb).cast("double"))
        )
        return num / den

    rxy = rr("sxy", "sx", "sy", "sxx", "syy")
    rxz = rr("sxz", "sx", "sz", "sxx", "szz")
    ryz = rr("syz", "sy", "sz", "syy", "szz")
    partial = (rxy - rxz * ryz) / F.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
    return s.select(
        F.col("n").alias("n_lines"),
        (F.floor(rxy * 1.0e6 + 0.5) / 1.0e6).alias("r_price_qty"),
        (F.floor(partial * 1.0e6 + 0.5) / 1.0e6).alias("r_price_qty_given_disc"),
    )


@register(
    "events_user_entropy_vs_volume",
    oracle="""
    WITH tc AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    per_user AS (
      SELECT user_id,
             CAST(sum(c) AS BIGINT) AS total,
             CAST(sum(CAST(c AS HUGEINT)
                 * CAST(floor(ln(CAST(c AS DOUBLE)) * 1.0e6 + 0.5) AS HUGEINT))
               AS HUGEINT) AS wsum
      FROM tc GROUP BY 1
    ),
    q AS (
      SELECT CAST(total AS HUGEINT) AS x,
             CAST(floor((CAST(total AS DOUBLE)
                         * floor(ln(CAST(total AS DOUBLE)) * 1.0e6 + 0.5)
                         - CAST(wsum AS DOUBLE)) / CAST(total AS DOUBLE) + 0.5)
                  AS HUGEINT) AS y
      FROM per_user
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
      FROM q
    )
    SELECT n AS n_users,
           floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                 / NULLIF(sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 0.0)
                 * 1.0e6 + 0.5) / 1.0e6 AS corr_volume_entropy
    FROM s
    """,
)
def events_user_entropy_vs_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do heavier users spread across more event types? Pearson r
    between per-user event volume and per-user type-entropy (micro-nat
    quantized, the events_value_entropy recipe per user), through the
    shared finisher — a composition of the entropy and correlation
    primitives as one behavioral diagnostic."""
    ev = _t(spark, sf_dir, "events")
    tc = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    lnq = F.floor(F.log(F.col("c").cast("double")) * 1.0e6 + 0.5).cast(
        "decimal(19,0)"
    )
    per_user = tc.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("total"),
        F.sum(F.col("c").cast("decimal(19,0)") * lnq).alias("wsum"),
    )
    td = F.col("total").cast("double")
    ent_q = F.floor(
        (td * F.floor(F.log(td) * 1.0e6 + 0.5) - F.col("wsum").cast("double"))
        / td
        + 0.5
    )
    q = per_user.select(
        F.col("total").cast("decimal(19,0)").alias("x"),
        ent_q.cast("decimal(19,0)").alias("y"),
    )
    s = q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return s.select(
        F.col("n").alias("n_users"),
        pearson_r_from_sums().alias("corr_volume_entropy"),
    )


@register(
    "orders_priority_mix_drift",
    oracle="""
    WITH c AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority AS p,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ),
    tot AS (SELECT yr, CAST(sum(n) AS BIGINT) AS t FROM c GROUP BY 1),
    shares AS (
      SELECT c.yr, c.p, c.n, tot.t FROM c JOIN tot USING (yr)
    ),
    tv AS (
      SELECT a.yr,
             CAST(sum(CAST(floor(abs(
               CAST(a.n AS DOUBLE) / CAST(a.t AS DOUBLE)
               - CAST(COALESCE(b.n, 0) AS DOUBLE) / CAST(bt.t AS DOUBLE))
               * 1.0e12 + 0.5) AS HUGEINT)) AS HUGEINT) AS tvq
      FROM shares a
      JOIN tot bt ON bt.yr = a.yr - 1
      LEFT JOIN shares b ON b.yr = a.yr - 1 AND b.p = a.p
      GROUP BY a.yr
    )
    SELECT yr AS year,
           floor(CAST(tvq AS DOUBLE) * 0.5 / 1.0e6 + 0.5) / 1.0e6
             AS tv_distance_vs_prev
    FROM tv
    """,
)
def orders_priority_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift: total-variation distance between consecutive
    years' priority mixes (0.5 * sum |p_i - q_i|) — the categorical
    companion of the numeric KS drift already live. Per-priority terms
    pico-quantized before the order-independent sum; everything runs on
    the (year, priority) AGGREGATE."""
    o = _t(spark, sf_dir, "orders")
    c = o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.col("o_orderpriority").alias("p"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = c.groupBy("yr").agg(F.sum("n").cast("long").alias("t"))
    shares = c.join(tot, "yr")
    a = shares.select(
        "yr", "p", F.col("n").alias("na"), F.col("t").alias("ta")
    )
    bt = tot.select((F.col("yr") + 1).alias("yr"), F.col("t").alias("tb"))
    b = shares.select(
        (F.col("yr") + 1).alias("yr"), "p", F.col("n").alias("nb")
    )
    j = a.join(bt, "yr").join(b, ["yr", "p"], "left")
    term_q = F.floor(
        F.abs(
            F.col("na").cast("double") / F.col("ta").cast("double")
            - F.coalesce(F.col("nb"), F.lit(0)).cast("double")
            / F.col("tb").cast("double")
        )
        * 1.0e12
        + 0.5
    ).cast("decimal(38,0)")
    tv = j.groupBy("yr").agg(F.sum(term_q).alias("tvq"))
    return tv.select(
        F.col("yr").alias("year"),
        (
            F.floor(F.col("tvq").cast("double") * 0.5 / 1.0e6 + 0.5) / 1.0e6
        ).alias("tv_distance_vs_prev"),
    )


# ===========================================================================
# Wave D — weekend share, tax x discount interaction grid, repeat rate.
# ===========================================================================
@register(
    "orders_weekend_share",
    oracle="""
    WITH q AS (
      SELECT c.c_mktsegment AS segment,
             CASE WHEN isodow(o.o_orderdate) >= 6 THEN 1 ELSE 0 END AS wknd,
             CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT segment,
           CAST(sum(CASE WHEN wknd = 1 THEN cents ELSE 0 END) AS BIGINT)
             AS weekend_cents,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           floor(sum(CASE WHEN wknd = 1 THEN cents ELSE 0 END) * 1.0e6
                 / sum(cents) + 0.5) / 1.0e6 AS weekend_share
    FROM q GROUP BY 1
    """,
)
def orders_weekend_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend (ISO Sat/Sun) share of revenue per segment — one agg of
    exact integer cents with the established weekday()+1 == isodow
    parity mapping."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    wknd = F.when(F.weekday("o_orderdate") + 1 >= 6, 1).otherwise(0)
    q = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        wknd.alias("wknd"),
        _cents(F.col("o_totalprice")).alias("cents"),
    )
    wc = F.sum(F.when(F.col("wknd") == 1, F.col("cents")).otherwise(0)).cast("long")
    tc = F.sum("cents").cast("long")
    return q.groupBy("segment").agg(
        wc.alias("weekend_cents"),
        tc.alias("total_cents"),
        (F.floor(wc * 1.0e6 / tc + 0.5) / 1.0e6).alias("weekend_share"),
    )


@register(
    "lineitem_tax_discount_grid",
    oracle="""
    SELECT CAST(floor(l_tax * 100.0 + 0.5) AS BIGINT) AS tax_pct,
           CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS disc_pct,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                          * 100.0 + 0.5)) AS BIGINT) AS charged_cents
    FROM lineitem GROUP BY 1, 2
    """,
)
def lineitem_tax_discount_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-factor interaction grid: line counts and total charged
    amount (price x (1-disc) x (1+tax), floored per row) per
    (tax, discount) percent cell — the joint-effect table behind Q1's
    charge expression. One bounded-key agg."""
    li = _t(spark, sf_dir, "lineitem")
    charged = _cents(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    )
    return li.groupBy(
        F.floor(F.col("l_tax") * 100.0 + 0.5).cast("long").alias("tax_pct"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long").alias("disc_pct"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(charged).cast("long").alias("charged_cents"),
    )


@register(
    "customer_repeat_rate",
    oracle="""
    WITH pc AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeat,
           floor(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) * 1.0e6
                 / count(*) + 0.5) / 1.0e6 AS repeat_rate
    FROM pc GROUP BY 1
    """,
)
def customer_repeat_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of each segment's customers who ordered at least twice —
    the top-line retention number. Two map-side-combinable aggs."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    pc = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    rep = F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0)).cast("long")
    n = F.count(F.lit(1)).cast("long")
    return pc.groupBy("segment").agg(
        n.alias("n_customers"),
        rep.alias("n_repeat"),
        (F.floor(rep * 1.0e6 / n + 0.5) / 1.0e6).alias("repeat_rate"),
    )


# ===========================================================================
# Wave E — REAL-shape TPC-H Q2/Q9/Q11/Q16/Q20 over the derived
# deterministic partsupp table (sources/partsupp.py). The live
# q2/q9/q11/q16/q20 queries are partsupp-free adaptations; these five
# run the spec's actual join topology: partsupp⋈part/supplier dims and
# the lineitem⋈partsupp PAIR join (total by construction — partsupp
# includes the referential closure of observed trade pairs). Every
# oracle rebuilds the identical partsupp relation with PARTSUPP_CTE.
# ===========================================================================
from cioos_siooc_data_transform_spark.sources.partsupp import (  # noqa: E402
    PARTSUPP_CTE,
    ensure_partsupp,
)


@register(
    "q2_partsupp_min_cost",
    oracle=f"""
    WITH {PARTSUPP_CTE},
    eligible AS (
      SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost_cents,
             s.s_name, s.s_acctbal, n.n_name, p.p_brand
      FROM partsupp ps
      JOIN part p ON p.p_partkey = ps.ps_partkey
                 AND p.p_size <= 15 AND p.p_type = 'STANDARD'
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
    ),
    best AS (
      SELECT ps_partkey, min(ps_supplycost_cents) AS best_cents
      FROM eligible GROUP BY 1
    )
    SELECT e.s_acctbal, e.s_name, e.n_name,
           e.ps_partkey AS part_key, e.p_brand,
           e.ps_supplycost_cents AS supplycost_cents
    FROM eligible e
    JOIN best b ON e.ps_partkey = b.ps_partkey
               AND e.ps_supplycost_cents = b.best_cents
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, e.ps_partkey,
             e.ps_suppkey
    LIMIT 100
    """,
)
def q2_partsupp_min_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2, real shape (ref: TPC-H spec v3 §B.2): min-supplycost
    supplier per EUROPE part, size/type-sliced. partsupp⋈dims are all
    broadcast (part filter pushes to the scan); the per-part min is a
    groupBy + equi-join-back (never a window over an unpartitioned
    sort); top-100 ordering carries the full (acctbal, nation, name,
    partkey, suppkey) key so the LIMIT boundary is deterministic."""
    ps = ensure_partsupp(spark, sf_dir)
    p = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey", "p_brand")
    )
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    sn = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eligible = (
        ps.join(F.broadcast(p), ps["ps_partkey"] == p["p_partkey"])
        .join(F.broadcast(sn), ps["ps_suppkey"] == sn["s_suppkey"])
        .select(
            "ps_partkey", "ps_suppkey", "ps_supplycost_cents",
            "s_name", "s_acctbal", "n_name", "p_brand",
        )
    )
    best = eligible.groupBy("ps_partkey").agg(
        F.min("ps_supplycost_cents").alias("best_cents")
    )
    return (
        eligible.join(
            best.withColumnRenamed("ps_partkey", "bk"),
            (F.col("ps_partkey") == F.col("bk"))
            & (F.col("ps_supplycost_cents") == F.col("best_cents")),
        )
        .select(
            "s_acctbal", "s_name", "n_name",
            F.col("ps_partkey").alias("part_key"), "p_brand",
            F.col("ps_supplycost_cents").alias("supplycost_cents"),
            "ps_suppkey",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "part_key",
            "ps_suppkey",
        )
        .limit(100)
        .drop("ps_suppkey")
    )


@register(
    "q9_partsupp_profit",
    oracle=f"""
    WITH {PARTSUPP_CTE}
    SELECT n.n_name AS nation_name,
           CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                               * 100.0 + 0.5) AS BIGINT)
                    - ps.ps_supplycost_cents
                      * CAST(floor(l.l_quantity + 0.5) AS BIGINT))
                AS BIGINT) AS profit_cents
    FROM lineitem l
    JOIN partsupp ps ON ps.ps_partkey = l.l_partkey
                    AND ps.ps_suppkey = l.l_suppkey
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY 1, 2
    """,
)
def q9_partsupp_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9, real shape: profit = revenue − supply cost priced
    through the lineitem⋈partsupp PAIR join (total by construction).
    Plan: part filter broadcast; partsupp joins on the composite
    (partkey, suppkey) — it scales with part×4 + distinct trade pairs,
    so it is NOT broadcast (at 100 TB it shuffles once on the pair,
    same key the spec's layout would bucket by); orders⋈lineitem is
    the one big orderkey shuffle; final agg is map-side combinable on
    nations × years. Cents arithmetic end-to-end (exact integers in
    any order)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    ps = ensure_partsupp(spark, sf_dir).select(
        "ps_partkey", "ps_suppkey", "ps_supplycost_cents"
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey", "n_name"
    )
    profit = _cents(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ) - F.col("ps_supplycost_cents") * F.floor(
        F.col("l_quantity") + 0.5
    ).cast("long")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(
            ps,
            (li["l_partkey"] == ps["ps_partkey"])
            & (li["l_suppkey"] == ps["ps_suppkey"]),
        )
        .join(F.broadcast(sn), li["l_suppkey"] == sn["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).cast("long").alias("profit_cents"))
    )


@register(
    "q11_partsupp_important_stock",
    oracle=f"""
    WITH {PARTSUPP_CTE},
    scoped AS (
      SELECT ps.ps_partkey,
             ps.ps_supplycost_cents * ps.ps_availqty AS v
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
                   AND n.n_name = 'NATION_7'
    ),
    grouped AS (
      SELECT ps_partkey, CAST(sum(v) AS BIGINT) AS part_value_cents
      FROM scoped GROUP BY 1
    ),
    total AS (SELECT CAST(sum(v) AS BIGINT) AS tot FROM scoped)
    SELECT g.ps_partkey AS part_key, g.part_value_cents
    FROM grouped g, total t
    WHERE g.part_value_cents * 1000 > t.tot
    """,
)
def q11_partsupp_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11, real shape: stock value per part held by one
    nation's suppliers, kept when above 0.1% of that nation's total.
    The threshold compare is INTEGER (value·1000 > total) — no double
    fraction to disagree on. supplier⋈nation broadcast; the total is a
    1-row broadcast (scalar-assembly cross join); one shuffle on
    ps_partkey."""
    ps = ensure_partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    sn = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey"
    )
    scoped = ps.join(F.broadcast(sn), ps["ps_suppkey"] == sn["s_suppkey"]).select(
        "ps_partkey",
        (F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias("v"),
    )
    grouped = scoped.groupBy("ps_partkey").agg(
        F.sum("v").cast("long").alias("part_value_cents")
    )
    total = scoped.agg(F.sum("v").cast("long").alias("tot"))
    return (
        grouped.crossJoin(F.broadcast(total))
        .filter(F.col("part_value_cents") * 1000 > F.col("tot"))
        .select(F.col("ps_partkey").alias("part_key"), "part_value_cents")
    )


@register(
    "q16_partsupp_supplier_count",
    oracle=f"""
    WITH {PARTSUPP_CTE}
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
           CAST(count(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#13'
      AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (1, 4, 7, 10, 14, 23, 45)
      AND ps.ps_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY 1, 2, 3
    """,
)
def q16_partsupp_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16, real shape: distinct supplier count per
    (brand, type, size) slice, excluding one brand, a type prefix, and
    'complaint' suppliers (adapted to s_acctbal < 0 — the testdata has
    no comment column). The exclusion is a broadcast LEFT ANTI join
    (never NOT IN's null-trap semantics on the Spark side; the oracle's
    NOT IN is safe because s_suppkey is non-null). One shuffle for the
    distinct-count agg."""
    ps = ensure_partsupp(spark, sf_dir)
    p = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#13")
            & (~F.col("p_type").like("PROMO%"))
            & (F.col("p_size").isin(1, 4, 7, 10, 14, 23, 45))
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    complaints = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        ps.join(F.broadcast(p), ps["ps_partkey"] == p["p_partkey"])
        .join(
            F.broadcast(complaints),
            ps["ps_suppkey"] == complaints["s_suppkey"],
            "left_anti",
        )
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("ps_suppkey").cast("long").alias("supplier_cnt"))
    )


@register(
    "q20_partsupp_promotion",
    oracle=f"""
    WITH {PARTSUPP_CTE},
    shipped AS (
      SELECT l_partkey, l_suppkey,
             CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
               AS qty_sum
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate < TIMESTAMP '1999-01-01'
      GROUP BY 1, 2
    ),
    excess AS (
      SELECT DISTINCT ps.ps_suppkey
      FROM partsupp ps
      JOIN part p ON p.p_partkey = ps.ps_partkey
                 AND p.p_name LIKE 'small%'
      JOIN shipped sh ON sh.l_partkey = ps.ps_partkey
                     AND sh.l_suppkey = ps.ps_suppkey
      WHERE ps.ps_availqty * 2 > sh.qty_sum
    )
    SELECT s.s_suppkey AS supp_key, s.s_name
    FROM excess e
    JOIN supplier s ON s.s_suppkey = e.ps_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_3'
    """,
)
def q20_partsupp_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20, real shape: suppliers of name-sliced parts whose
    stock exceeds half of what they actually shipped in the window
    (availqty > 0.5·sum(qty), integerized as availqty·2 > qty_sum).
    The shipped-quantity subquery is the one lineitem pass (date filter
    pushes to the scan); its pair join against the part-sliced partsupp
    mirrors the spec's correlated subquery — an inner join, because a
    pair with no shipped rows makes the spec's comparison NULL/false.
    Supplier/nation close the query broadcast-side."""
    ps = ensure_partsupp(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long"))
            .cast("long")
            .alias("qty_sum")
        )
    )
    excess = (
        ps.join(F.broadcast(p), ps["ps_partkey"] == p["p_partkey"])
        .join(
            shipped,
            (ps["ps_partkey"] == shipped["l_partkey"])
            & (ps["ps_suppkey"] == shipped["l_suppkey"]),
        )
        .filter(F.col("ps_availqty") * 2 > F.col("qty_sum"))
        .select("ps_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        excess.join(F.broadcast(s), excess["ps_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(F.col("s_suppkey").alias("supp_key"), "s_name")
    )


# ===========================================================================
# Wave F — GSW energy/conversion tranche (round-5 verdict item 2):
# entropy, surface spiciness, internal energy, the t<-CT inversion, and
# the remaining high-traffic _from_ conversion pairs. References:
# GSW/_wrapped_ufuncs.py entropy_from_t/spiciness0/internal_energy/
# t_from_CT (capability surface); implementations are the published
# polynomials (Feistel 2008 / IOC et al. 2010 Gibbs -g_T; McDougall &
# Krzysik 2015 spiciness; Roquet et al. 2015 specvol) — check values
# pinned in tests/test_oceanography_checkvalues.py.
# ===========================================================================
from cioos_siooc_data_transform_spark.plans.staged_r5 import (  # noqa: E402
    _IN_SQL,
    _SA_SQL,
    _inputs,
)
from cioos_siooc_data_transform_spark.plans.staged_r6 import (  # noqa: E402
    _stage_sql,
    pt_from_ct_stages,
)


def _entropy_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        entropy_from_t_sql,
    )

    return f"""
    SELECT l_orderkey, l_linenumber,
           floor({entropy_from_t_sql(_SA_SQL, "t", "p")} * 1.0e6 + 0.5)
             / 1.0e6 AS eta
    FROM ({_IN_SQL})
    """


@register("gsw_entropy_from_t", oracle=_entropy_oracle())
def gsw_entropy_from_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Specific entropy η(SA, t, p) = −g_T of the TEOS-10 Gibbs
    function (Feistel 2008 coefficients; published check value
    η(35.7, 25.5, 1023) = 352.81879771528 J/(kg·K) pinned, plus the
    reference-state normalization η(SSO, 0, 0) = 0). One literal
    polynomial per row — pure whole-stage codegen, zero shuffle, both
    engines evaluate the identical IEEE tree so the 6-dp floor is
    exact. GSW twin: gsw_entropy_from_t (GSW/_wrapped_ufuncs.py)."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        entropy_from_t_sql,
    )

    return _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor(
                F.expr(entropy_from_t_sql(_SA_SQL, "t", "p")) * 1.0e6 + 0.5
            )
            / 1.0e6
        ).alias("eta"),
    )


def _spiciness_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        spiciness0_sql,
    )

    inner = f"""
    SELECT l_orderkey, l_linenumber, {_SA_SQL} AS sa,
           {ct_from_t_sql("s", "t", "p")} AS ct
    FROM ({_IN_SQL})
    """
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor({spiciness0_sql("sa", "ct")} * 1.0e6 + 0.5) / 1.0e6
             AS spiciness0
    FROM ({inner})
    """


@register("gsw_spiciness0", oracle=_spiciness_oracle())
def gsw_spiciness0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surface spiciness τ₀(SA, CT) — McDougall & Krzysik (2015) 49-term
    fit (normalization τ₀(SSO, 0) = 0 and monotonicity pinned in
    tests). The water-mass coordinate orthogonal-in-effect to density:
    at 100 TB this is a per-row codegen expression like sigma0, so
    spiciness/σ₀ scatter analyses stay shuffle-free until the final
    aggregation. GSW twin: gsw_spiciness0."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        spiciness0_sql,
    )

    staged = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    return staged.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor(F.expr(spiciness0_sql("sa", "ct")) * 1.0e6 + 0.5) / 1.0e6
        ).alias("spiciness0"),
    )


def _internal_energy_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        internal_energy_stages,
    )

    inner = f"""
    SELECT l_orderkey, l_linenumber, p, {_SA_SQL} AS sa,
           {ct_from_t_sql("s", "t", "p")} AS ct
    FROM ({_IN_SQL})
    """
    staged = _stage_sql(inner, internal_energy_stages("sa", "ct", "p"))
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(__u_out * 1.0e4 + 0.5) / 1.0e4 AS u
    FROM {staged}
    """


@register("gsw_internal_energy", oracle=_internal_energy_oracle())
def gsw_internal_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Specific internal energy u = h − (P₀ + 10⁴·p)·v (IOC et al.
    2010 eqn 3.25; P₀ = 101325 Pa): the definition composed from the
    already-check-valued enthalpy (cp0·CT + 75-term dynamic enthalpy)
    and specific volume — the identity is pinned in tests. u ~ 1e5
    J/kg, so the 4-dp floor sits ~1e-7 relative, far above double
    noise on an identical literal tree. GSW twin: gsw_internal_energy
    (GSW/energy.py). Staged form (internal_energy_stages) — the flat
    inline text trips janino's 64 KB limit and runs interpreted."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        internal_energy_stages,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "p",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    for name, expr in internal_energy_stages("sa", "ct", "p"):
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("__u_out") * 1.0e4 + 0.5) / 1.0e4).alias("u"),
    )


def _t_from_ct_stages() -> list:
    """pt = pt_from_CT(sa, ct) (two Newton steps), then integrate the
    UNESCO lapse rate from (pt, 0 dbar) down to p — the adiabatic
    inverse of pt0_from_t, giving in-situ temperature."""
    from cioos_siooc_data_transform_spark.functions.oceanography import (
        theta_rk4_stages,
    )

    return pt_from_ct_stages("sa", "ct") + theta_rk4_stages(
        "s", "pt_from_ct", "0.0e0", "p"
    )


def _t_from_ct_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import ct_from_t_sql

    inner = f"""
    SELECT l_orderkey, l_linenumber, s, p, {_SA_SQL} AS sa,
           {ct_from_t_sql("s", "t", "p")} AS ct
    FROM ({_IN_SQL})
    """
    staged = _stage_sql(inner, _t_from_ct_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(theta_rk4 * 1.0e6 + 0.5) / 1.0e6 AS t_insitu
    FROM {staged}
    """


@register("gsw_t_from_ct", oracle=_t_from_ct_oracle())
def gsw_t_from_ct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-situ temperature from Conservative Temperature (GSW twin:
    gsw_t_from_CT): Newton-invert CT→pt on the committed potential-
    enthalpy polynomial, then run the UNESCO RK4 integration BACKWARD
    (from 0 dbar to p) — the adiabatic inverse of pt0_from_t. Roundtrip
    |CT(t_insitu) − CT| < 2 mK is pinned in tests. Stage columns keep
    the ~13 polynomial evaluations linear; zero shuffle."""
    from cioos_siooc_data_transform_spark.functions.teos10 import ct_from_t_sql

    df = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "s",
        "p",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    for name, expr in _t_from_ct_stages():
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("theta_rk4") * 1.0e6 + 0.5) / 1.0e6).alias("t_insitu"),
    )


def _conversion_pairs_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_CP0,
        GSW_SSO,
        _lit,
        ct_from_t_sql,
        entropy_from_pt_sql,
        pt0_from_t_sql,
    )

    inner = f"""
    SELECT l_orderkey, l_linenumber, s, {_SA_SQL} AS sa,
           {pt0_from_t_sql("s", "t", "p")} AS pt,
           {ct_from_t_sql("s", "t", "p")} AS ct
    FROM ({_IN_SQL})
    """
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor((sa * (35.0e0/{_lit(GSW_SSO)})) * 1.0e10 + 0.5) / 1.0e10
             AS sp_roundtrip,
           floor(({_lit(GSW_CP0)} * ct) * 1.0e4 + 0.5) / 1.0e4
             AS pot_enthalpy,
           floor({entropy_from_pt_sql("sa", "pt")} * 1.0e6 + 0.5) / 1.0e6
             AS eta_pt
    FROM ({inner})
    """


@register("gsw_conversion_pairs", oracle=_conversion_pairs_oracle())
def gsw_conversion_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining high-traffic _from_ conversion pairs in one pass
    (GSW twins: gsw_SP_from_SA, gsw_pot_enthalpy_from_ct /
    pt0_from_t): SP recovered exactly from SA (the inverse
    reference-composition scaling — roundtrip == s), potential enthalpy
    h⁰ = cp0·CT (McDougall 2003, the quantity CT is DEFINED from), and
    entropy at (SA, pt) — the p = 0 entropy form whose agreement with
    η(SA, t, p) along the adiabat is pinned in tests. Zero shuffle."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_CP0,
        GSW_SSO,
        _lit,
        ct_from_t_sql,
        entropy_from_pt_sql,
        pt0_from_t_sql,
    )

    staged = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "s",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(pt0_from_t_sql("s", "t", "p")).alias("pt"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    return staged.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor(
                (F.col("sa") * F.expr(f"(35.0e0/{_lit(GSW_SSO)})")) * 1.0e10
                + 0.5
            )
            / 1.0e10
        ).alias("sp_roundtrip"),
        (
            F.floor((F.lit(GSW_CP0) * F.col("ct")) * 1.0e4 + 0.5) / 1.0e4
        ).alias("pot_enthalpy"),
        (
            F.floor(F.expr(entropy_from_pt_sql("sa", "pt")) * 1.0e6 + 0.5)
            / 1.0e6
        ).alias("eta_pt"),
    )


# ===========================================================================
# Wave G — engine depth: deep spiciness pair, SA-from-density inversion,
# and the composed IVF-PQ ANN (cell-restricted asymmetric-distance
# scan) — the remaining GSW _from_ surface + the production ANN shape.
# ===========================================================================
def _spiciness_deep_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        spiciness1_sql,
        spiciness2_sql,
    )

    inner = f"""
    SELECT l_orderkey, l_linenumber, {_SA_SQL} AS sa,
           {ct_from_t_sql("s", "t", "p")} AS ct
    FROM ({_IN_SQL})
    """
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor({spiciness1_sql("sa", "ct")} * 1.0e6 + 0.5) / 1.0e6
             AS spiciness1,
           floor({spiciness2_sql("sa", "ct")} * 1.0e6 + 0.5) / 1.0e6
             AS spiciness2
    FROM ({inner})
    """


@register("gsw_spiciness_deep", oracle=_spiciness_deep_oracle())
def gsw_spiciness_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """τ₁ (1000 dbar) and τ₂ (2000 dbar) — the deep references of the
    McDougall & Krzysik (2015) spiciness family (GSW twins:
    gsw_spiciness1/gsw_spiciness2), completing the fit family whose
    surface member is live in gsw_spiciness0. Same normalization
    anchors (τ(SSO, 0) = 0, pinned in tests); pure codegen, zero
    shuffle."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        spiciness1_sql,
        spiciness2_sql,
    )

    staged = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    return staged.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor(F.expr(spiciness1_sql("sa", "ct")) * 1.0e6 + 0.5) / 1.0e6
        ).alias("spiciness1"),
        (
            F.floor(F.expr(spiciness2_sql("sa", "ct")) * 1.0e6 + 0.5) / 1.0e6
        ).alias("spiciness2"),
    )


def _sa_from_rho_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        rho_sql,
        sa_from_rho_stages,
    )

    inner = f"""
    SELECT l_orderkey, l_linenumber, p, {_SA_SQL} AS sa,
           {ct_from_t_sql("s", "t", "p")} AS ct
    FROM ({_IN_SQL})
    """
    inner2 = f"""
    SELECT l_orderkey, l_linenumber, p, ct,
           {rho_sql("sa", "ct", "p")} AS rho
    FROM ({inner})
    """
    staged = _stage_sql(inner2, sa_from_rho_stages("rho", "ct", "p"))
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(sa_from_rho * 1.0e6 + 0.5) / 1.0e6 AS sa_rec
    FROM {staged}
    """


@register("gsw_sa_from_rho", oracle=_sa_from_rho_oracle())
def gsw_sa_from_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absolute Salinity recovered from in-situ density (GSW twin:
    gsw_SA_from_rho): two Newton steps on the 75-term ρ(SA, CT, p)
    with a central-difference derivative — ρ is near-linear in SA, so
    the roundtrip |SA_rec − SA| < 1e-9 g/kg (pinned in tests). Six
    staged polynomial evaluations, zero shuffle, identical IEEE tree
    both engines."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        rho_sql,
        sa_from_rho_stages,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "p",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    df = df.select(
        "l_orderkey",
        "l_linenumber",
        "p",
        "ct",
        F.expr(rho_sql("sa", "ct", "p")).alias("rho"),
    )
    for name, expr in sa_from_rho_stages("rho", "ct", "p"):
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("sa_from_rho") * 1.0e6 + 0.5) / 1.0e6).alias("sa_rec"),
    )


@register(
    "similarity_ivf_pq_topk",
    oracle="""
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
    cent AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
             FROM embeddings WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, cent.centroid_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(v.embedding, cent.cv), 4) DESC,
                          cent.centroid_id ASC
               ) AS rn
        FROM embeddings v, cent
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT query_id, list(dl ORDER BY j) AS lut
      FROM (
        SELECT vec_id AS query_id, j, list(d ORDER BY code) AS dl
        FROM dist WHERE vec_id < 3 GROUP BY 1, 2
      ) GROUP BY 1
    ),
    scored AS (
      SELECT l.query_id, ca.vec_id AS neighbor_id,
             round(list_reduce(list_transform(generate_series(1, 8),
                     j -> l.lut[j][c.codes[j] + 1]),
                   (a, b) -> a + b), 6) AS approx_dist2
      FROM lut l
      JOIN assigned qa ON qa.vec_id = l.query_id
      JOIN assigned ca ON ca.centroid_id = qa.centroid_id
      JOIN codes c ON c.vec_id = ca.vec_id
      WHERE ca.vec_id <> l.query_id
    )
    SELECT query_id, neighbor_id, approx_dist2, CAST(rn AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY approx_dist2, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def similarity_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed: the coarse quantizer restricts each query's
    scan to ITS cell (equi-join on centroid_id — candidates drop from
    |corpus| to |cell|) and PQ codes price each candidate with 8 LUT
    lookups — the production ANN memory/compute story (Jégou et al.
    2011 IVFADC) with zero Python in the scan path. Deterministic
    first-4-rows codebooks and first-8-rows centroids (a bounded 4-row
    driver fetch, same as similarity_pq_adc_topk; the trained KMeans
    path remains the operator default). At 100 TB: centroids broadcast,
    codes table is 32× smaller than the vectors, and the cell equi-join
    shuffles only the probed cells."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        ivf_assign,
        pq_adc_topk,
        pq_encode,
    )

    emb = _t(spark, sf_dir, "embeddings")
    seeds = (
        emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    books = [
        [[float(x) for x in row.v[j * 8 : j * 8 + 8]] for row in seeds]
        for j in range(8)
    ]
    cent = emb.filter(F.col("vec_id") < 8)
    assigned = ivf_assign(emb, cent, with_vector=False)
    codes = pq_encode(emb, books).join(assigned, "vec_id")
    queries = emb.filter(F.col("vec_id") < 3).join(assigned, "vec_id")
    return pq_adc_topk(
        queries, codes, books, k_top=5, round_dp=6, cell_col="centroid_id"
    )


# ===========================================================================
# Wave H — GSW ice tranche on the IAPWS-06 foundation (round-6 verdict
# item 3): rho / entropy / cp / enthalpy of ice Ih as Gibbs derivatives
# (GSW twins: gsw_rho_ice / gsw_entropy_ice / gsw_cp_ice /
# gsw_enthalpy_ice in GSW/_wrapped_ufuncs.py, re-exported via
# GSW/ice.py — capability surface only; the implementation is the
# published IAPWS-06 release expanded to real arithmetic in
# functions/ice.py, Table-6 check values pinned in
# tests/test_oceanography_checkvalues.py).
#
# Inputs derive sub-zero temperatures and shelf/mooring pressures from
# lineitem integer columns (exact in both engines): t in [-39.5, -0.5]
# degC, p in [300, 2100] dbar (absolute < 22 MPa, well inside the
# IAPWS-06 validity range). Zero shuffle, pure whole-stage codegen; the
# ~50 stage columns keep the expression tree linear on both engines.
# Quantization: 1e-6 for rho/entropy/cp (values ~1e3, transcendental
# noise << quantum); 1e-3 for enthalpy (~3.3e5 J/kg — the same
# coarser-floor argument as gsw_internal_energy's 1e-4).
# ===========================================================================
_ICE_IN_SQL = """
    SELECT l_orderkey, l_linenumber,
           -CAST(l_quantity % 39 AS DOUBLE) - 0.5 AS t,
           CAST(l_linenumber * 300.0 AS DOUBLE) AS p
    FROM lineitem
"""


def _ice_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (-(F.col("l_quantity") % 39).cast("double") - 0.5).alias("t"),
        (F.col("l_linenumber") * 300.0).cast("double").alias("p"),
    )


def _ice_query(out_col: str, scale: float):
    """Shared builder: run the gibbs_ice stage chain, emit one floored
    output column (Catalyst prunes the unused stages)."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from cioos_siooc_data_transform_spark.functions.ice import (
            gibbs_ice_stages,
        )

        df = _ice_inputs(spark, sf_dir)
        for name, expr in gibbs_ice_stages("t", "p"):
            df = df.withColumn(name, F.expr(expr))
        return df.select(
            "l_orderkey",
            "l_linenumber",
            (F.floor(F.col(out_col) * scale + 0.5) / scale).alias(out_col),
        )

    return fn


def _ice_oracle(out_col: str, scale: float) -> str:
    from cioos_siooc_data_transform_spark.functions.ice import gibbs_ice_stages

    staged = _stage_sql(_ICE_IN_SQL, gibbs_ice_stages("t", "p"))
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor({out_col} * {scale:.1e} + 0.5) / {scale:.1e} AS {out_col}
    FROM {staged}
    """


for _col, _scale, _doc in (
    ("rho_ice", 1.0e6, "density 1/g_p [kg/m3]"),
    ("entropy_ice", 1.0e6, "entropy -g_T [J/(kg K)]"),
    ("cp_ice", 1.0e6, "isobaric heat capacity -T*g_TT [J/(kg K)]"),
    ("enthalpy_ice", 1.0e3, "enthalpy g - T*g_T [J/kg]"),
):
    _fn = _ice_query(_col, _scale)
    _fn.__name__ = f"gsw_{_col}"
    _fn.__doc__ = f"Ice Ih {_doc} from the IAPWS-06 Gibbs potential."
    register(f"gsw_{_col}", oracle=_ice_oracle(_col, _scale))(_fn)


# ===========================================================================
# Wave I — GSW energy/conversion tail (round-6 verdict item 4):
# enthalpy_diff, the CT<-enthalpy Newton inversion, CT at freezing, the
# thermodynamically exact latent heat of melting (seawater enthalpy +
# partial-salinity term + IAPWS-06 ice enthalpy), and the published
# Henderson-Sellers (1984) evaporation-heat fit. GSW twins:
# gsw_enthalpy_diff / gsw_CT_from_enthalpy / gsw_CT_freezing /
# gsw_latentheat_melting / gsw_latentheat_evap_t (GSW/energy.py,
# GSW/conversions.py — capability surface; implementations are the
# published formulas cited in functions/teos10.py, anchors pinned in
# tests/test_oceanography_checkvalues.py).
# ===========================================================================
def _enthalpy_diff_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        enthalpy_diff_stages,
    )

    inner = f"""
    SELECT l_orderkey, l_linenumber, {_SA_SQL} AS sa,
           {ct_from_t_sql("s", "t", "p")} AS ct, p
    FROM ({_IN_SQL})
    """
    staged = _stage_sql(
        inner, enthalpy_diff_stages("sa", "ct", "p", "(p + 1000.0e0)")
    )
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(enthalpy_diff * 1.0e6 + 0.5) / 1.0e6 AS h_diff
    FROM {staged}
    """


@register("gsw_enthalpy_diff", oracle=_enthalpy_diff_oracle())
def gsw_enthalpy_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Specific-enthalpy difference between p and p+1000 dbar at fixed
    (SA, CT) — the isentropic lift energy (GSW twin: gsw_enthalpy_diff;
    the cp0*CT term cancels so this is pure 75-term dynamic enthalpy).
    Zero shuffle, whole-stage codegen, exact cross-engine parity (the
    tree is polynomial + sqrt only). The shared a_K stages evaluate the
    75-term coefficients ONCE for both pressures."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        enthalpy_diff_stages,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "p",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    for name, expr in enthalpy_diff_stages("sa", "ct", "p", "(p + 1000.0e0)"):
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("enthalpy_diff") * 1.0e6 + 0.5) / 1.0e6).alias("h_diff"),
    )


def _ct_from_enthalpy_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_enthalpy_stages,
        ct_from_t_sql,
        enthalpy_stages,
    )

    inner = f"""
      SELECT l_orderkey, l_linenumber, {_SA_SQL} AS sa,
             {ct_from_t_sql("s", "t", "p")} AS ct, p
      FROM ({_IN_SQL})
    """
    staged = _stage_sql(
        inner,
        enthalpy_stages("sa", "ct", "p", x="__hin_")
        + [("h", "__hin_out")]
        + ct_from_enthalpy_stages("h", "sa", "p"),
    )
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(ct_from_enthalpy * 1.0e6 + 0.5) / 1.0e6 AS ct_rec
    FROM {staged}
    """


@register("gsw_ct_from_enthalpy", oracle=_ct_from_enthalpy_oracle())
def gsw_ct_from_enthalpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CT recovered from h(SA, CT, p) by two Newton steps (GSW twin:
    gsw_CT_from_enthalpy) — the sa_from_rho stage pattern on the
    75-term enthalpy; roundtrip |CT_rec - CT| < 1e-6 K is pinned in
    tests. Stage columns keep the six enthalpy evaluations linear."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_enthalpy_stages,
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
    for name, expr in (
        enthalpy_stages("sa", "ct", "p", x="__hin_")
        + [("h", "__hin_out")]
        + ct_from_enthalpy_stages("h", "sa", "p")
    ):
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("ct_from_enthalpy") * 1.0e6 + 0.5) / 1.0e6).alias(
            "ct_rec"
        ),
    )


def _ct_freezing_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import ct_freezing_sql

    return f"""
    SELECT l_orderkey, l_linenumber,
           floor({ct_freezing_sql("s", "p")} * 1.0e6 + 0.5) / 1.0e6 AS ctf
    FROM ({_IN_SQL})
    """


@register("gsw_ct_freezing", oracle=_ct_freezing_oracle())
def gsw_ct_freezing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conservative Temperature at the freezing point (GSW twin:
    gsw_CT_freezing): Millero-1978 t_f composed with the committed
    t->CT conversion. Polynomial + sqrt only — exact parity."""
    from cioos_siooc_data_transform_spark.functions.teos10 import ct_freezing_sql

    return _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.expr(ct_freezing_sql("s", "p")) * 1.0e6 + 0.5) / 1.0e6).alias(
            "ctf"
        ),
    )


def _latentheat_melting_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        latentheat_melting_stages,
    )

    staged = _stage_sql(_IN_SQL, latentheat_melting_stages("s", "p"))
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(latentheat_melting * 1.0e3 + 0.5) / 1.0e3 AS lh_melting
    FROM {staged}
    """


@register("gsw_latentheat_melting", oracle=_latentheat_melting_oracle())
def gsw_latentheat_melting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thermodynamically exact latent heat of melting at (SP, p): the
    partial specific enthalpy of water in seawater minus the IAPWS-06
    ice enthalpy, both at the freezing temperature (GSW twin:
    gsw_latentheat_melting; pure-water anchor 333 426.5 J/kg pinned in
    tests). 1e-3 floor — the ice chain's ln/atan2 argument from the
    Wave-H docstring."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        latentheat_melting_stages,
    )

    df = _inputs(spark, sf_dir)
    for name, expr in latentheat_melting_stages("s", "p"):
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("latentheat_melting") * 1.0e3 + 0.5) / 1.0e3).alias(
            "lh_melting"
        ),
    )


def _latentheat_evap_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        latentheat_evap_hs84_sql,
    )

    return f"""
    SELECT l_orderkey, l_linenumber,
           floor({latentheat_evap_hs84_sql("t")} * 1.0e6 + 0.5) / 1.0e6
             AS lh_evap
    FROM ({_IN_SQL})
    """


@register("latentheat_evap_hs84", oracle=_latentheat_evap_oracle())
def latentheat_evap_hs84(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latent heat of evaporation (pure-water Henderson-Sellers 1984
    fit; GSW surface twin: gsw_latentheat_evap_t — see COVERAGE.md for
    the SA-term scope note). Rational expression only — exact parity,
    zero shuffle."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        latentheat_evap_hs84_sql,
    )

    return _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor(F.expr(latentheat_evap_hs84_sql("t")) * 1.0e6 + 0.5) / 1.0e6
        ).alias("lh_evap"),
    )


# ===========================================================================
# Wave J — scale-safe global ranking (round-6 verdict item 5): the
# two-pass range-bucket rank/cumsum operator
# (operators/windows.py::ranked_cumsum_two_pass), pinned EQUAL to the
# live single-window pareto_revenue_share by sharing its oracle text
# verbatim — the driver's hash compare proves the bucketed plan computes
# the identical answer with no single-partition window over the keys.
# ===========================================================================
_PARETO_ORACLE = """
    WITH cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT o_custkey, rev_cents,
             CAST(row_number() OVER (ORDER BY rev_cents DESC, o_custkey)
                  AS BIGINT) AS rnk,
             CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, o_custkey)
                  AS BIGINT) AS cum_cents,
             CAST(sum(rev_cents) OVER () AS BIGINT) AS total_cents,
             CAST(count(*) OVER () AS BIGINT) AS n_cust
      FROM cust
    )
    SELECT o_custkey, rev_cents, rnk,
           floor(cum_cents * 1000000.0 / total_cents + 0.5) / 1000000.0
             AS cum_share,
           rnk * 5 <= n_cust AS in_top_20pct
    FROM ranked
"""


@register("pareto_share_two_pass", oracle=_PARETO_ORACLE)
def pareto_share_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pareto_revenue_share recomputed through the two-pass range-bucket
    operator: no window runs over more rows than one value-range bucket
    (~|keys|/512), and the only ordered single-partition window touches
    the 512-row bucket table. The oracle is the LIVE query's global-
    window SQL verbatim — hash equality IS the correctness proof that
    bucket-and-offset == one ordered pass (exact integer cents make the
    running sums grouping-independent)."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    ranked = ranked_cumsum_two_pass(
        cust, "rev_cents", "o_custkey", out_rank="rnk", out_cum="cum_cents"
    )
    tot = cust.agg(
        F.sum("rev_cents").cast("long").alias("total_cents"),
        F.count(F.lit(1)).cast("long").alias("n_cust"),
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        "rev_cents",
        "rnk",
        (
            F.floor(F.col("cum_cents") * 1000000.0 / F.col("total_cents") + 0.5)
            / 1000000.0
        ).alias("cum_share"),
        (F.col("rnk") * 5 <= F.col("n_cust")).alias("in_top_20pct"),
    )


# ===========================================================================
# Wave K — second-order stability coefficients (GSW twins:
# gsw_cabbeling, gsw_thermobaric; McDougall 1987 definitions evaluated
# as ANALYTIC derivative polynomials of the committed 75-term specvol —
# functions/teos10.py::cabbeling_thermobaric_stages, FD-agreement
# pinned in tests). Divisions + sqrt only: exact cross-engine parity,
# zero shuffle, map-only.
# ===========================================================================
def _cbtb_oracle(out_col: str, alias: str, scale: str) -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        cabbeling_thermobaric_stages,
        ct_from_t_sql,
    )

    inner = f"""
    SELECT l_orderkey, l_linenumber, {_SA_SQL} AS sa,
           {ct_from_t_sql("s", "t", "p")} AS ct, p
    FROM ({_IN_SQL})
    """
    staged = _stage_sql(inner, cabbeling_thermobaric_stages("sa", "ct", "p"))
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor({out_col} * {scale} + 0.5) / {scale} AS {alias}
    FROM {staged}
    """


def _cbtb_query(out_col: str, alias: str, scale: float):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
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
            df = df.withColumn(name, F.expr(expr))
        return df.select(
            "l_orderkey",
            "l_linenumber",
            (F.floor(F.col(out_col) * scale + 0.5) / scale).alias(alias),
        )

    return fn


for _out, _alias, _scale in (
    ("cabbeling", "cab", 1.0e12),
    ("thermobaric", "tb", 1.0e18),
):
    _fn = _cbtb_query(_out, _alias, _scale)
    _fn.__name__ = f"gsw_{_out}"
    _fn.__doc__ = (
        f"{_out} coefficient from analytic 75-term derivatives "
        "(McDougall 1987; FD cross-check pinned in tests)."
    )
    register(f"gsw_{_out}", oracle=_cbtb_oracle(_out, _alias, f"{_scale:.1e}"))(_fn)


# ===========================================================================
# Wave L — event-stream operational analytics: Poisson rate intervals,
# peak-hour stability, and run-length profiles. All integer-exact until
# one final floored division/sqrt; windows key on user_id / event_type
# (high-cardinality, balanced); zero driver-side work.
# ===========================================================================
@register(
    "events_poisson_rate_ci",
    oracle="""
    WITH s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             epoch_us(max(ts)) - epoch_us(min(ts)) AS span_us
      FROM events GROUP BY event_type
    )
    SELECT event_type, n_events,
           floor(span_us / 3.6e9 * 1.0e6 + 0.5) / 1.0e6 AS hours_span,
           floor(n_events * 3.6e9 / span_us * 1.0e6 + 0.5) / 1.0e6
             AS rate_per_hour,
           floor((n_events - 1.959964e0*sqrt(CAST(n_events AS DOUBLE)))
                 * 3.6e9 / span_us * 1.0e6 + 0.5) / 1.0e6 AS ci_low,
           floor((n_events + 1.959964e0*sqrt(CAST(n_events AS DOUBLE)))
                 * 3.6e9 / span_us * 1.0e6 + 0.5) / 1.0e6 AS ci_high
    FROM s
    """,
)
def events_poisson_rate_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type arrival rate with a 95% normal-approximation Poisson CI
    (rate ± 1.96·sqrt(n)/T) — the monitoring primitive behind "is this
    event type arriving unusually fast today". One map-side-combinable
    agg; the span is exact integer microseconds so both engines divide
    the same longs."""
    e = _t(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "span_us"
        ),
    )
    z = 1.959964
    return s.select(
        "event_type",
        "n_events",
        (F.floor(F.col("span_us") / 3.6e9 * 1.0e6 + 0.5) / 1.0e6).alias(
            "hours_span"
        ),
        (
            F.floor(F.col("n_events") * 3.6e9 / F.col("span_us") * 1.0e6 + 0.5)
            / 1.0e6
        ).alias("rate_per_hour"),
        (
            F.floor(
                (F.col("n_events") - z * F.sqrt(F.col("n_events").cast("double")))
                * 3.6e9
                / F.col("span_us")
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("ci_low"),
        (
            F.floor(
                (F.col("n_events") + z * F.sqrt(F.col("n_events").cast("double")))
                * 3.6e9
                / F.col("span_us")
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("ci_high"),
    )


@register(
    "events_peak_hour_stability",
    oracle="""
    WITH h AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day_id,
             (epoch_us(ts) % 86400000000) // 3600000000 AS hour,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2, 3
    ), daily_peak AS (
      SELECT event_type, day_id, hour AS peak_hour
      FROM (
        SELECT event_type, day_id, hour,
               row_number() OVER (PARTITION BY event_type, day_id
                                  ORDER BY cnt DESC, hour) AS rn
        FROM h
      ) WHERE rn = 1
    ), global_peak AS (
      SELECT event_type, hour AS global_peak_hour
      FROM (
        SELECT event_type, hour,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY sum(cnt) DESC, hour) AS rn
        FROM h GROUP BY event_type, hour
      ) WHERE rn = 1
    )
    SELECT d.event_type, CAST(count(*) AS BIGINT) AS n_days,
           CAST(g.global_peak_hour AS BIGINT) AS global_peak_hour,
           floor(sum(CASE WHEN d.peak_hour = g.global_peak_hour
                          THEN 1 ELSE 0 END) * 1.0e6 / count(*) + 0.5)
             / 1.0e6 AS stability_share
    FROM daily_peak d JOIN global_peak g USING (event_type)
    GROUP BY d.event_type, g.global_peak_hour
    """,
)
def events_peak_hour_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How stable is each type's busiest hour: fraction of days whose
    within-day peak hour equals the all-time peak hour. Day/hour ids
    are exact integer epoch arithmetic (the date_trunc parity gotcha
    never appears); the per-day and global argmaxes are row_number
    windows over the small (type, day, hour) aggregate, and the final
    join broadcasts the |types|-row global peak."""
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    h = e.select(
        "event_type",
        (us / F.lit(86400000000)).cast("long").alias("day_id"),
        ((us % F.lit(86400000000)) / F.lit(3600000000)).cast("long").alias("hour"),
    ).groupBy("event_type", "day_id", "hour").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w_day = Window.partitionBy("event_type", "day_id").orderBy(
        F.col("cnt").desc(), F.col("hour")
    )
    daily = (
        h.withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") == 1)
        .select("event_type", "day_id", F.col("hour").alias("peak_hour"))
    )
    w_glob = Window.partitionBy("event_type").orderBy(
        F.col("total").desc(), F.col("hour")
    )
    glob = (
        h.groupBy("event_type", "hour")
        .agg(F.sum("cnt").alias("total"))
        .withColumn("rn", F.row_number().over(w_glob))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("hour").alias("global_peak_hour"))
    )
    return (
        daily.join(F.broadcast(glob), "event_type")
        .groupBy("event_type", "global_peak_hour")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            (
                F.floor(
                    F.sum(
                        F.when(
                            F.col("peak_hour") == F.col("global_peak_hour"), 1
                        ).otherwise(0)
                    )
                    * 1.0e6
                    / F.count(F.lit(1))
                    + 0.5
                )
                / 1.0e6
            ).alias("stability_share"),
        )
        .select("event_type", "n_days", "global_peak_hour", "stability_share")
    )


@register(
    "events_runlength_profile",
    oracle="""
    WITH isl AS (
      SELECT user_id, event_type,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(event_type)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS brk
        FROM events
      )
    ), runs AS (
      SELECT user_id, event_type, island,
             CAST(count(*) AS BIGINT) AS run_len
      FROM isl GROUP BY 1, 2, 3
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_runs,
           CAST(max(run_len) AS BIGINT) AS max_run_len,
           floor(sum(run_len) * 1.0e6 / count(*) + 0.5) / 1.0e6
             AS avg_run_len
    FROM runs GROUP BY event_type
    """,
)
def events_runlength_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral run-length distribution: consecutive same-type
    streaks per user (gap-islands over the per-user ordered stream),
    profiled per type — repetition structure that sessionization and
    bot-detection both key on. Both windows share the (user_id; ts,
    event_id) sort, so Spark plans ONE Exchange + sort; run lengths are
    exact integers."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    isl = e.withColumn("brk", brk).withColumn(
        "island",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    runs = isl.groupBy("user_id", "event_type", "island").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    return runs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.max("run_len").cast("long").alias("max_run_len"),
        (
            F.floor(F.sum("run_len") * 1.0e6 / F.count(F.lit(1)) + 0.5) / 1.0e6
        ).alias("avg_run_len"),
    )


# ===========================================================================
# Wave M — graph structure metrics on the co-purchase edge set (the
# market-basket support>=2 graph every live graph query shares):
# degree-banded clustering coefficients and common-neighbor link
# prediction. Both reuse the a<b oriented edge list; wedge joins are
# equi-keyed (never cartesian).
# ===========================================================================
_EDGES_SQL = """
      SELECT pa AS a, pb AS b FROM (
        SELECT x.l_partkey AS pa, y.l_partkey AS pb,
               count(*) AS support
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) x
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2
      ) WHERE support >= 2
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    "graph_clustering_coefficient",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    tri AS (
      SELECT e1.a, e1.b, e2.c
      FROM e e1
      JOIN (SELECT a AS b2a, b AS c FROM e) e2 ON e1.b = e2.b2a
      JOIN (SELECT a AS a3, b AS b3 FROM e) e3
        ON e1.a = e3.a3 AND e2.c = e3.b3
    ), tri_per_v AS (
      SELECT v, CAST(count(*) AS BIGINT) AS n_tri FROM (
        SELECT a AS v FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY v
    ), deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT a AS v FROM e UNION ALL SELECT b FROM e
      ) GROUP BY v
    ), loc AS (
      SELECT d.degree,
             CAST(floor(CAST(coalesce(t.n_tri, 0) AS DOUBLE) * 2.0e12
                        / (d.degree * (d.degree - 1)) + 0.5) AS BIGINT)
               AS cc_pico
      FROM deg d LEFT JOIN tri_per_v t ON d.v = t.v
      WHERE d.degree >= 2
    )
    SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes,
           floor(sum(cc_pico) / 1.0e12 * 1.0e6 / count(*) + 0.5) / 1.0e6
             AS avg_clustering
    FROM loc GROUP BY degree
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-banded local clustering coefficient: per node,
    2·tri(v)/(deg·(deg−1)), averaged within each degree band — the
    hierarchical-clustering spectrum curve, with bounded output (one
    row per distinct degree). Triangles reuse graph_triangle_count's
    a<b<c oriented two-hop enumeration (each triangle credits its three
    vertices via one union-all explode); degrees come from the same
    edge list. Order-independence: each node's cc quantizes to integer
    picounits (1e-12) BEFORE the group sum on both engines, so the sum
    is exact; the final mean floors at 1e-6, six decades above the
    quantum."""
    e = checkpoint_df(_copurchase_edges(spark, sf_dir), eager=False)
    e2 = e.select(F.col("a").alias("b2a"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("b3"))
    tri = e.join(e2, e.b == e2.b2a).join(
        e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("b3"))
    )
    tri_v = (
        tri.select(F.col("a").alias("v"))
        .unionAll(tri.select(F.col("b").alias("v")))
        .unionAll(tri.select(F.col("c").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    loc = (
        deg.join(tri_v, "v", "left")
        .filter(F.col("degree") >= 2)
        .select(
            "degree",
            F.floor(
                F.coalesce(F.col("n_tri"), F.lit(0)).cast("double")
                * 2.0e12
                / (F.col("degree") * (F.col("degree") - 1))
                + 0.5
            )
            .cast("long")
            .alias("cc_pico"),
        )
    )
    return loc.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (
            F.floor(
                F.sum("cc_pico") / 1.0e12 * 1.0e6 / F.count(F.lit(1)) + 0.5
            )
            / 1.0e6
        ).alias("avg_clustering"),
    )


@register(
    "graph_common_neighbors_linkpred",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    adj AS (
      SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
    ), wedge AS (
      SELECT x.u AS a, y.v AS c, CAST(count(*) AS BIGINT) AS common_n
      FROM adj x JOIN adj y ON x.v = y.u AND x.u < y.v
      GROUP BY 1, 2
    ), cand AS (
      SELECT w.a, w.c, w.common_n
      FROM wedge w
      ANTI JOIN e ON w.a = e.a AND w.c = e.b
    )
    SELECT a, c, common_n FROM cand
    ORDER BY common_n DESC, a, c LIMIT 20
    """,
)
def graph_common_neighbors_linkpred(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Common-neighbors link prediction: for node pairs NOT yet joined
    by an edge, count shared neighbors through the symmetrized
    adjacency (one equi-keyed wedge join + one anti join), return the
    top-20 candidates. The global top-k is a TakeOrdered (sort-limit),
    never a full sort; the wedge fan-out is bounded by the support>=2
    degree cap here — operators/graphs.py's degree-oriented machinery
    is the adversarial-hub escape hatch."""
    e = checkpoint_df(_copurchase_edges(spark, sf_dir), eager=False)
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    x = adj.select(F.col("u").alias("a"), F.col("v").alias("mid"))
    y = adj.select(F.col("u").alias("mid2"), F.col("v").alias("c"))
    wedge = (
        x.join(y, x.mid == y.mid2)
        .filter(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("common_n"))
    )
    cand = wedge.join(
        e, (wedge.a == e.a) & (wedge.c == e.b), "left_anti"
    )
    return cand.orderBy(
        F.col("common_n").desc(), F.col("a"), F.col("c")
    ).limit(20)


# ===========================================================================
# Wave N — corpus/embedding second-moment diagnostics: Yule's K
# vocabulary concentration, the strongest-covariance dimension pairs,
# and a bucket-sampled pairwise-cosine histogram. Integer-exact sums
# (micro/pico quantization) everywhere a rounded aggregate needs
# order-independence; the cosine fold is the committed zip_with ==
# list_dot_product parity pair.
# ===========================================================================
@register(
    "text_yule_k",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
    ), freq AS (
      SELECT lang, w, CAST(count(*) AS BIGINT) AS m
      FROM tok WHERE w <> '' GROUP BY 1, 2
    ), spectrum AS (
      SELECT lang, CAST(sum(m) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(m*m) AS BIGINT) AS sum_m2
      FROM freq GROUP BY lang
    )
    SELECT lang, n_tokens, n_types,
           floor(1.0e4 * (sum_m2 - n_tokens)
                 / (CAST(n_tokens AS DOUBLE) * n_tokens) * 1.0e6 + 0.5)
             / 1.0e6 AS yule_k
    FROM spectrum
    """,
)
def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K per language — the classic vocabulary-
    concentration statistic K = 1e4·(Σm² − N)/N² over the token
    frequency spectrum (repetitive corpora score high; K is
    length-invariant, unlike TTR). Explode → two map-side-combinable
    aggs; every sum is an exact integer, one floored division at the
    end."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    freq = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).cast("long").alias("m"))
    spec = freq.groupBy("lang").agg(
        F.sum("m").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("m") * F.col("m")).cast("long").alias("sum_m2"),
    )
    return spec.select(
        "lang",
        "n_tokens",
        "n_types",
        (
            F.floor(
                1.0e4
                * (F.col("sum_m2") - F.col("n_tokens"))
                / (F.col("n_tokens").cast("double") * F.col("n_tokens"))
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("yule_k"),
    )


@register(
    "embedding_covariance_top_pair",
    oracle="""
    WITH x AS (
      SELECT vec_id, i - 1 AS i,
             CAST(floor(xi * 1.0e9 + 0.5) AS BIGINT) AS q
      FROM (
        SELECT vec_id,
               unnest(CAST(embedding AS DOUBLE[])) AS xi,
               generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS i
        FROM embeddings
      )
    ), moments AS (
      SELECT a.i AS di, b.i AS dj,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a.q) AS HUGEINT) AS sx,
             CAST(sum(b.q) AS HUGEINT) AS sy,
             CAST(sum(a.q * b.q) AS HUGEINT) AS sxy
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i < b.i
      GROUP BY 1, 2
    ), cov AS (
      SELECT di, dj,
             (CAST(sxy AS DOUBLE)/1.0e18/n
              - (CAST(sx AS DOUBLE)/1.0e9/n)*(CAST(sy AS DOUBLE)/1.0e9/n))
               AS c
      FROM moments
    )
    SELECT CAST(di AS BIGINT) AS dim_i, CAST(dj AS BIGINT) AS dim_j,
           floor(c * 1.0e9 + 0.5) / 1.0e9 AS cov
    FROM cov
    ORDER BY abs(c) DESC, di, dj LIMIT 5
    """,
)
def embedding_covariance_top_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five dimension pairs with the strongest |covariance| across
    the embedding corpus — the redundancy diagnostic PCA/whitening
    starts from. Components quantize to integer nano-units per value
    BEFORE the sums (exact decimal sums, order-independent; products of
    nano-ints need the 128-bit sum → decimal/HUGEINT); covariance
    finishes in double on the exact moments. One self-join keyed by
    vec_id (64 rows per key), one (i, j) agg — 2016 output pairs before
    the TakeOrdered top-5."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select(
        "vec_id",
        F.col("pos").alias("i"),
        F.floor(F.col("col") * 1.0e9 + 0.5).cast("long").alias("q"),
    )
    a = x.select("vec_id", F.col("i").alias("di"), F.col("q").alias("qa"))
    b = x.select("vec_id", F.col("i").alias("dj"), F.col("q").alias("qb"))
    moments = (
        a.join(b, "vec_id")
        .filter(F.col("di") < F.col("dj"))
        .groupBy("di", "dj")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("qa").cast("decimal(38,0)")).alias("sx"),
            F.sum(F.col("qb").cast("decimal(38,0)")).alias("sy"),
            F.sum(
                (F.col("qa").cast("decimal(19,0)") * F.col("qb").cast("decimal(19,0)"))
            ).alias("sxy"),
        )
    )
    cov = moments.select(
        F.col("di").cast("long").alias("dim_i"),
        F.col("dj").cast("long").alias("dim_j"),
        (
            F.col("sxy").cast("double") / 1.0e18 / F.col("n")
            - (F.col("sx").cast("double") / 1.0e9 / F.col("n"))
            * (F.col("sy").cast("double") / 1.0e9 / F.col("n"))
        ).alias("c"),
    )
    return (
        cov.orderBy(F.abs(F.col("c")).desc(), "dim_i", "dim_j")
        .limit(5)
        .select(
            "dim_i",
            "dim_j",
            (F.floor(F.col("c") * 1.0e9 + 0.5) / 1.0e9).alias("cov"),
        )
    )


@register(
    "similarity_cosine_histogram",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding, vec_id % 10 AS bucket FROM embeddings
    ), pairs AS (
      SELECT list_dot_product(a.embedding, b.embedding) AS dot
      FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT CAST(floor(dot * 10.0) AS BIGINT) AS cos_bucket,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1
    """,
)
def similarity_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of pairwise cosines over a deterministic 10-bucket
    pair sample (vecs pair only within vec_id%10 cells — an equi-join,
    never a cartesian; 1/10th of all pairs, unbiased for the histogram
    shape). Embeddings are unit-normalized so cosine == dot; the fold
    is the committed zip_with == list_dot_product parity pair, and the
    bucket floor acts on bit-identical doubles."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        (F.col("vec_id") % 10).alias("bucket"),
    )
    a = emb.select(
        F.col("vec_id").alias("ida"), F.col("e").alias("ea"), "bucket"
    )
    b = emb.select(
        F.col("vec_id").alias("idb"), F.col("e").alias("eb"), "bucket"
    )
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("ida") < F.col("idb"))
        .select(
            F.aggregate(
                F.zip_with(F.col("ea"), F.col("eb"), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dot")
        )
    )
    return pairs.groupBy(
        F.floor(F.col("dot") * 10.0).cast("long").alias("cos_bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))


# ===========================================================================
# Wave O — pipeline balance / finance / sketch round-out:
# deterministic minority oversampling (training-mix balancing), cohort
# LTV curves, nation trade balance, and a Count-Min heavy-hitter
# audit (estimate vs exact, the sketch_* accuracy-audit pattern).
# ===========================================================================
@register(
    "stratified_oversample_balance",
    oracle="""
    WITH counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_before FROM documents
      GROUP BY lang
    ), factors AS (
      SELECT lang, n_before,
             CAST(max(n_before) OVER () // n_before AS BIGINT) AS rep_factor
      FROM counts
    ), replicated AS (
      SELECT d.lang
      FROM documents d
      JOIN factors f USING (lang),
      UNNEST(generate_series(1, f.rep_factor)) AS g(copy_idx)
    )
    SELECT f.lang, f.n_before, f.rep_factor,
           CAST(count(*) AS BIGINT) AS n_after,
           floor(count(*) * 1.0e6 / max(f.n_before * f.rep_factor) + 0.5)
             / 1.0e6 AS replication_check
    FROM replicated r JOIN factors f USING (lang)
    GROUP BY 1, 2, 3
    """,
)
def stratified_oversample_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic minority-class oversampling for training-mix
    balancing: each language replicates floor(max_count/count) times
    (explode of an integer sequence — executor-side row expansion, no
    randomness, reproducible shards), audited per class (n_after must
    equal n_before·factor exactly — the replication_check column pins
    the explode really happened). The factor table is |langs| rows,
    broadcast; sequence bounds are INTEGRAL and ≥ 1 (the sequence(0,-1)
    down-count gotcha cannot fire)."""
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_before"))
    w = Window.partitionBy()
    factors = counts.select(
        "lang",
        "n_before",
        (F.max("n_before").over(w) / F.col("n_before"))
        .cast("long")
        .alias("rep_factor"),
    )
    replicated = (
        d.join(F.broadcast(factors), "lang")
        .select(
            "lang",
            F.explode(
                F.sequence(F.lit(1), F.col("rep_factor").cast("int"))
            ).alias("copy_idx"),
        )
    )
    return (
        replicated.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_after"))
        .join(F.broadcast(factors), "lang")
        .select(
            "lang",
            "n_before",
            "rep_factor",
            "n_after",
            (
                F.floor(
                    F.col("n_after")
                    * 1.0e6
                    / (F.col("n_before") * F.col("rep_factor"))
                    + 0.5
                )
                / 1.0e6
            ).alias("replication_check"),
        )
    )


@register(
    "orders_cohort_ltv_curve",
    oracle="""
    WITH o AS (
      SELECT o_custkey,
             year(o_orderdate) * 12 + month(o_orderdate) AS month_id,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), firsts AS (
      SELECT o_custkey, min(month_id) AS cohort_id FROM o GROUP BY 1
    ), sizes AS (
      SELECT cohort_id, CAST(count(*) AS BIGINT) AS cohort_custs
      FROM firsts GROUP BY 1
    ), rev AS (
      SELECT f.cohort_id, o.month_id - f.cohort_id AS age,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(o.cents) AS BIGINT) AS rev_cents
      FROM o JOIN firsts f USING (o_custkey)
      GROUP BY 1, 2
    )
    SELECT CAST(r.cohort_id AS BIGINT) AS cohort_id,
           CAST(r.age AS BIGINT) AS age_months, r.n_orders,
           CAST(sum(r.rev_cents) OVER (PARTITION BY r.cohort_id ORDER BY r.age
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_rev_cents,
           floor(sum(r.rev_cents) OVER (PARTITION BY r.cohort_id ORDER BY r.age
                                        ROWS UNBOUNDED PRECEDING)
                 / 100.0 * 1.0e6 / s.cohort_custs + 0.5) / 1.0e6
             AS ltv_per_customer
    FROM rev r JOIN sizes s USING (cohort_id)
    """,
)
def orders_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers cohorted by first-order
    month, revenue accumulated by cohort age — the curve a training-mix
    ROI dashboard plots. Month ids are exact integers (year·12+month,
    no date_trunc parity trap); running sums are exact cents over a
    window partitioned by cohort (bounded partitions — ages ≤ months of
    history); per-customer LTV divides by the cohort census from the
    firsts table."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("month_id"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    firsts = o.groupBy("o_custkey").agg(F.min("month_id").alias("cohort_id"))
    sizes = firsts.groupBy("cohort_id").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_custs")
    )
    rev = (
        o.join(firsts, "o_custkey")
        .groupBy("cohort_id", (F.col("month_id") - F.col("cohort_id")).alias("age"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("rev_cents"),
        )
    )
    w = (
        Window.partitionBy("cohort_id")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.join(F.broadcast(sizes), "cohort_id")
        .select(
            F.col("cohort_id").cast("long").alias("cohort_id"),
            F.col("age").cast("long").alias("age_months"),
            "n_orders",
            F.sum("rev_cents").over(w).cast("long").alias("cum_rev_cents"),
            (
                F.floor(
                    F.sum("rev_cents").over(w)
                    / 100.0
                    * 1.0e6
                    / F.col("cohort_custs")
                    + 0.5
                )
                / 1.0e6
            ).alias("ltv_per_customer"),
        )
    )


@register(
    "nation_trade_balance",
    oracle="""
    WITH flows AS (
      SELECT cn.n_name AS nation,
             CASE WHEN c.c_nationkey = s.s_nationkey THEN 1 ELSE 0 END
               AS intra,
             CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100.0 + 0.5)
                  AS BIGINT) AS cents
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    )
    SELECT nation,
           CAST(sum(CASE WHEN intra = 1 THEN cents ELSE 0 END) AS BIGINT)
             AS intra_cents,
           CAST(sum(CASE WHEN intra = 0 THEN cents ELSE 0 END) AS BIGINT)
             AS cross_cents,
           floor(sum(CASE WHEN intra = 1 THEN cents ELSE 0 END) * 1.0e6
                 / sum(cents) + 0.5) / 1.0e6 AS intra_share
    FROM flows GROUP BY nation
    """,
)
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domestic-vs-imported revenue per customer nation (the Q7 join
    chain folded to a per-nation balance): how much of each nation's
    purchasing stays with same-nation suppliers. Supplier/customer/
    nation dims broadcast; one fact-side agg keyed by nation; exact
    integer cents (the per-row floor BEFORE the sum keeps both engines'
    sums identical longs)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    flows = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.when(F.col("c_nationkey") == F.col("s_nationkey"), 1)
            .otherwise(0)
            .alias("intra"),
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0
                + 0.5
            )
            .cast("long")
            .alias("cents"),
        )
    )
    return flows.groupBy("nation").agg(
        F.sum(F.when(F.col("intra") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("intra_cents"),
        F.sum(F.when(F.col("intra") == 0, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("cross_cents"),
        (
            F.floor(
                F.sum(F.when(F.col("intra") == 1, F.col("cents")).otherwise(0))
                * 1.0e6
                / F.sum("cents")
                + 0.5
            )
            / 1.0e6
        ).alias("intra_share"),
    )


def _cm_bucket(key_sql: str, row: int) -> str:
    """Count-Min row hash: the first two md5 hex chars of key||seed —
    256 buckets as a STRING key (no hex→int conversion, so the idiom is
    portable verbatim; md5 is the repo's committed cross-engine hash)."""
    return f"substr(md5({key_sql} || '#cm{row}'), 1, 2)"


_CM_ROWS = 4


def _cm_oracle() -> str:
    sketch_keys = "\n      UNION ALL\n".join(
        f"""      SELECT {r} AS r, {_cm_bucket("CAST(user_id AS VARCHAR)", r)}
             AS bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 2"""
        for r in range(_CM_ROWS)
    )
    return f"""
    WITH sketch AS (
{sketch_keys}
    ), exact AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
      FROM events GROUP BY 1
    ), probes AS (
      SELECT e.user_id, e.exact_n, s.r, s.cnt
      FROM exact e
      JOIN sketch s
        ON s.bucket = {_cm_bucket("CAST(e.user_id AS VARCHAR)", 0)}
           AND s.r = 0
      UNION ALL
      SELECT e.user_id, e.exact_n, s.r, s.cnt FROM exact e JOIN sketch s
        ON s.bucket = {_cm_bucket("CAST(e.user_id AS VARCHAR)", 1)} AND s.r = 1
      UNION ALL
      SELECT e.user_id, e.exact_n, s.r, s.cnt FROM exact e JOIN sketch s
        ON s.bucket = {_cm_bucket("CAST(e.user_id AS VARCHAR)", 2)} AND s.r = 2
      UNION ALL
      SELECT e.user_id, e.exact_n, s.r, s.cnt FROM exact e JOIN sketch s
        ON s.bucket = {_cm_bucket("CAST(e.user_id AS VARCHAR)", 3)} AND s.r = 3
    ), est AS (
      SELECT user_id, max(exact_n) AS exact_n,
             CAST(min(cnt) AS BIGINT) AS cm_estimate
      FROM probes GROUP BY user_id
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, exact_n, cm_estimate,
           cm_estimate >= exact_n AS never_underestimates
    FROM est
    ORDER BY cm_estimate DESC, user_id LIMIT 10
    """


@register("sketch_countmin_heavy_hitters", oracle=_cm_oracle())
def sketch_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters with an accuracy audit: a 4×256
    CM sketch of per-user event counts (4 md5-seeded rows, hex-prefix
    buckets — mergeable, fixed 1 KB memory regardless of user count),
    probed for every user; the estimate is the min over rows and can
    only OVERestimate (pinned per row in the output). Top-10 by
    estimate via TakeOrdered. The exact side exists to audit sketch
    error — the deployment pattern keeps only the sketch."""
    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("uid")
    )
    sketches = []
    for r in range(_CM_ROWS):
        sketches.append(
            e.groupBy(
                F.expr(_cm_bucket("uid", r)).alias("bucket")
            )
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .withColumn("r", F.lit(r))
        )
    sketch = sketches[0]
    for s_ in sketches[1:]:
        sketch = sketch.unionByName(s_)
    exact = e.groupBy("uid").agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
    probes = None
    for r in range(_CM_ROWS):
        p = exact.withColumn("bucket", F.expr(_cm_bucket("uid", r))).join(
            F.broadcast(sketch.filter(F.col("r") == r)), "bucket"
        )
        probes = p if probes is None else probes.unionByName(p)
    est = probes.groupBy("uid").agg(
        F.max("exact_n").alias("exact_n"),
        F.min("cnt").cast("long").alias("cm_estimate"),
    )
    return (
        est.select(
            F.col("uid").cast("long").alias("user_id"),
            "exact_n",
            "cm_estimate",
            (F.col("cm_estimate") >= F.col("exact_n")).alias(
                "never_underestimates"
            ),
        )
        .orderBy(F.col("cm_estimate").desc(), "user_id")
        .limit(10)
    )


