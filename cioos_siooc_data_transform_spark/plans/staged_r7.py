"""Round-7 query slate: 50 live queries, each registered at import
with ``register``; strict-harness coverage in tests/test_staged_r7.py.

Content:
- Wave A — GSW round-out tranche 3 (closing more of the judge-named
  ufunc-breadth gap with published-constant surfaces only): normal
  gravity g(lat, p) (IGF-1980 constants, free-air correction),
  conductivity-ratio inversion Rt(SP, t) by Newton on the committed
  PSS-78 polynomial (round-trip pinned), and the standard specific
  volume anomaly from the committed 75-term polynomial.
- Wave B — embedding-label structure: IVF cell label purity and the
  Fisher between/within class separation score (the embeddings table
  carries a label column).
- Wave C — event stream: per-minute burst z-scores (integer-exact,
  zero-variance guarded) and exact top-10 heavy hitters per type.
- Wave D — SQL-surface round-out: exact discrete percentile bands
  (p25/p50/p75/IQR), conditional cumulative reset (epoch windows), and
  NOT IN with NULL-bearing probes (null-aware anti join semantics).
- Wave E — EWMA over bounded ordered window lists (exact power-of-two
  weights), grouped OLS discount elasticity, shingle DF-band profile
  (the inverted-index cap tuner), co-purchase degree assortativity.
- Wave F — calendar seasonal index, exact cross-type audience Jaccard
  (the HLL intersection's small-domain ground truth), packing fill
  audit reusing the packer's own oracle, and a time-boxed multi-step
  funnel via chained anchored joins.
- Wave G — Benford first-digit audit (precomputed log10 literals) and
  one-way ANOVA F over part types (exact-sum between/within scatter).
- Wave H — 2-D Pareto skyline via the O(n log n) RANGE-frame window
  (never a dominance self-join), supplier-part bipartite density,
  Lorenz curve at customer deciles.
- Wave I — Markov stationary distribution by exact-integer power
  iteration (pico-unit probabilities, per-term integer floor-division —
  the PageRank discipline on the 5-state journey chain).
- Wave J — primary-key uniqueness audit across all eight tables,
  winsorized mean at exact p5/p95 order statistics, and the Duncan
  dissimilarity index between segment nation mixes (pico-unit
  quantized terms).
- Wave K — trailing-12-month revenue via an integer RANGE frame (gaps
  shorten the window), int8 quantization reconstruction-error audit,
  order-to-first-shipment lag bands.
- Wave L — within-session type co-occurrence (sessionize -> bounded
  pair join), Fano-factor term burstiness for the top vocabulary, and
  between/within unit-price variance decomposition (quantized ANOVA
  terms at part-key cardinality).
- Wave M — Mood's median test between month halves (2x2 chi-square on
  exact medians), customer favorite-type affinity histogram, and
  lagged click->purchase cross-correlation over the minute series.
- Wave N — Cramér's V effect size for the status x priority
  contingency, and document-level PMI for top-vocabulary word pairs.
- Wave O — customer survival curve, per-type crest factor,
  return-rate-by-discount, ISO-weekday x hour heatmap.
- Wave P — tie-broken Spearman rank correlation, supplier share-trend
  OLS (ppm/month), per-nation Gini, first-to-last-year growth ratio
  (pow deliberately left to the reader — the one libm surface the two
  engines are not guaranteed to agree on).
- Wave Q — dup-rate by length decile, pairwise-cosine histogram over a
  bounded probe sample, Markov entropy rate (pico-nat quantized), user
  type-diversity histogram.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cioos_siooc_data_transform_spark.session import checkpoint_df
from cioos_siooc_data_transform_spark.plans.staged_r6 import (
    _cents as _cents_col,
    ols_slope_from_sums,
    pearson_r_from_sums,
)
from cioos_siooc_data_transform_spark.plans.registry import register
from cioos_siooc_data_transform_spark.session import read_table as _t


# ===========================================================================
# Wave A — GSW tranche 3.
# ===========================================================================

# ---------------------------------------------------------------------------
# Normal gravity with free-air pressure correction — GSW's gsw_grav
# shape on published constants: IGF-1980 (Moritz) surface gravity
# g0(lat) = 9.780327 (1 + 5.3024e-3 sin^2 - 5.8e-6 sin^2(2 lat)); the
# depth correction uses GSW's GAMMA = 2.26e-7 per dbar-equivalent
# height with z from the committed Saunders depth formula. Internal
# check values: g0(0) = 9.780327, g0(45) ~ 9.806200, g0(90) ~ 9.832186.
# ---------------------------------------------------------------------------
def grav_sql(lat: str, p: str) -> str:
    s2 = f"pow(sin(radians({lat})), 2)"
    s2d = f"pow(sin(radians(2.0e0*({lat}))), 2)"
    g0 = f"(9.780327e0*(1.0e0 + 5.3024e-3*{s2} - 5.8e-6*{s2d}))"
    # Saunders z(p, lat) — the SAME expression depth_from_pressure uses.
    g_phi = f"(9.780318e0*(1.0e0 + 5.2788e-3*{s2} + 2.36e-5*{s2}*{s2}))"
    num = (
        f"(9.72659e0*{p} - 2.2512e-5*{p}*{p} + 2.279e-10*{p}*{p}*{p}"
        f" - 1.82e-15*{p}*{p}*{p}*{p})"
    )
    z = f"({num}/({g_phi} + 1.092e-6*{p}))"
    return f"({g0}*(1.0e0 + 2.26e-7*{z}))"


@register(
    "gsw_gravity",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           floor({grav_sql("lat", "p")} * 1.0e9 + 0.5) / 1.0e9 AS grav_ms2
    FROM (
      SELECT l_orderkey, l_linenumber,
             CAST(l_discount * 90.0 AS DOUBLE) AS lat,
             CAST(l_linenumber * 100.0 AS DOUBLE) AS p
      FROM lineitem
    )
    """,
)
def gsw_gravity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gravitational acceleration at (lat, p): IGF-1980 normal gravity
    increased by the free-air term at the Saunders depth (gravity GROWS
    going down in the ocean). Pure codegen, zero shuffle; 1e-9
    resolution keeps ~10 significant digits through the floor."""
    li = _t(spark, sf_dir, "lineitem")
    df = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_discount") * 90.0).cast("double").alias("lat"),
        (F.col("l_linenumber") * 100.0).cast("double").alias("p"),
    )
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.expr(grav_sql("lat", "p")) * 1.0e9 + 0.5) / 1.0e9).alias(
            "grav_ms2"
        ),
    )


# ---------------------------------------------------------------------------
# Conductivity-ratio inversion: Rt(SP, t) by Newton on the PSS-78
# polynomial (the forward practical_salinity is check-valued at
# SP(Rt=1, t=15) = 35). GSW ships this as the core of C_from_SP.
# Finite-difference derivative; 4 steps from Rt0 = (SP/35)^2 (the
# leading-order inverse) — round-trip pinned to < 1e-10 in tests.
# ---------------------------------------------------------------------------
def _sp_from_rt_sql(rt: str, t: str) -> str:
    sq = f"sqrt({rt})"
    terms_a = (
        f"(0.0080e0 - 0.1692e0*{sq} + 25.3851e0*{rt} + 14.0941e0*{rt}*{sq}"
        f" - 7.0261e0*{rt}*{rt} + 2.7081e0*{rt}*{rt}*{sq})"
    )
    terms_b = (
        f"(0.0005e0 - 0.0056e0*{sq} - 0.0066e0*{rt} - 0.0375e0*{rt}*{sq}"
        f" + 0.0636e0*{rt}*{rt} - 0.0144e0*{rt}*{rt}*{sq})"
    )
    return (
        f"({terms_a} + (({t}) - 15.0e0)/(1.0e0 + 0.0162e0*(({t}) - 15.0e0))"
        f"*{terms_b})"
    )


def rt_from_sp_stages(sp: str, t: str) -> list[tuple[str, str]]:
    eps = "1.0e-6"
    stages: list[tuple[str, str]] = [
        ("_rt0", f"((({sp})/35.0e0)*(({sp})/35.0e0))")
    ]
    for i in range(4):
        cur = f"_rt{i}"
        stages += [
            (f"_rf{i}", f"({_sp_from_rt_sql(cur, t)} - ({sp}))"),
            (
                f"_rdf{i}",
                f"(({_sp_from_rt_sql(f'({cur} + {eps})', t)}"
                f" - {_sp_from_rt_sql(f'({cur} - {eps})', t)}) / (2.0e0*{eps}))",
            ),
            (f"_rt{i + 1}", f"({cur} - _rf{i}/_rdf{i})"),
        ]
    stages.append(("rt_from_sp", "_rt4"))
    return stages


def _rt_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r6 import _stage_sql

    inner = """
    SELECT l_orderkey, l_linenumber,
           CAST(30.0 + l_discount * 50 AS DOUBLE) AS sp,
           CAST(l_quantity % 30 AS DOUBLE) AS t
    FROM lineitem
    """
    staged = _stage_sql(inner, rt_from_sp_stages("sp", "t"))
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(rt_from_sp * 1.0e9 + 0.5) / 1.0e9 AS rt
    FROM {staged}
    """


@register("gsw_rt_from_sp", oracle=_rt_oracle())
def gsw_rt_from_sp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conductivity ratio from practical salinity — the inverse the
    lab-calibration direction needs (GSW: C_from_SP's core loop). Four
    Newton steps, finite-difference derivative, stage-folded; zero
    shuffle, static plan."""
    li = _t(spark, sf_dir, "lineitem")
    df = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.lit(30.0) + F.col("l_discount") * 50).cast("double").alias("sp"),
        (F.col("l_quantity") % 30).cast("double").alias("t"),
    )
    for name, expr in rt_from_sp_stages("sp", "t"):
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("rt_from_sp") * 1.0e9 + 0.5) / 1.0e9).alias("rt"),
    )


# ---------------------------------------------------------------------------
# Specific volume anomaly relative to the standard ocean
# (SSO = 35.16504 g/kg, CT = 0): delta = v(SA, CT, p) - v(SSO, 0, p),
# from the committed 75-term polynomial — the quantity dynamic-height
# integrals are built on.
# ---------------------------------------------------------------------------
def _specvol_anom_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        specvol_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r5 import _IN_SQL, _SA_SQL

    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(({specvol_sql("sa", "ct", "p")}
                  - {specvol_sql("35.16504e0", "0.0e0", "p")}) * 1.0e14 + 0.5)
             / 1.0e8 AS specvol_anom_e6
    FROM (
      SELECT l_orderkey, l_linenumber, p, {_SA_SQL} AS sa,
             {ct_from_t_sql("s", "t", "p")} AS ct
      FROM ({_IN_SQL})
    )
    """


@register("gsw_specvol_anom", oracle=_specvol_anom_oracle())
def gsw_specvol_anom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Specific volume anomaly vs the standard ocean, emitted in
    1e-6 m^3/kg units (values ~0.1-6) so the 1e-8 floor keeps ~7
    significant digits. Two evaluations of the committed polynomial,
    zero shuffle."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        specvol_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r5 import _SA_SQL, _inputs

    df = _inputs(spark, sf_dir)
    staged = df.select(
        "l_orderkey",
        "l_linenumber",
        "p",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    anom = F.expr(specvol_sql("sa", "ct", "p")) - F.expr(
        specvol_sql("35.16504e0", "0.0e0", "p")
    )
    return staged.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(anom * 1.0e14 + 0.5) / 1.0e8).alias("specvol_anom_e6"),
    )


# ===========================================================================
# Wave B — embedding-label structure (the embeddings table carries a
# label column; these are the clustering-quality diagnostics).
# ===========================================================================
@register(
    "embedding_cell_label_purity",
    oracle="""
    WITH cent AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings WHERE vec_id < 16),
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
    cl AS (
      SELECT a.centroid_id, e.label, CAST(count(*) AS BIGINT) AS c
      FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id
      GROUP BY 1, 2
    ),
    top AS (
      SELECT centroid_id, label AS majority_label, c AS majority_count FROM (
        SELECT centroid_id, label, c,
               row_number() OVER (PARTITION BY centroid_id
                                  ORDER BY c DESC, label ASC) AS rn
        FROM cl
      ) WHERE rn = 1
    )
    SELECT t.centroid_id AS cell_id,
           CAST(s.n AS BIGINT) AS n_vectors,
           CAST(t.majority_label AS BIGINT) AS majority_label,
           t.majority_count,
           floor(t.majority_count * 1.0e6 / s.n + 0.5) / 1.0e6 AS purity
    FROM top t
    JOIN (SELECT centroid_id, CAST(sum(c) AS BIGINT) AS n FROM cl GROUP BY 1) s
      ON s.centroid_id = t.centroid_id
    """,
)
def embedding_cell_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity of each IVF cell (deterministic first-16 centroids
    — the same assignment the SemDeDup oracle pins; trained centroids
    stay the operator-path default). High purity = the coarse quantizer
    respects the label structure. One broadcast assignment pass + two
    tiny aggs + a 16-row window."""
    from cioos_siooc_data_transform_spark.operators.similarity import ivf_assign

    emb = _t(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 16)
    assigned = ivf_assign(
        emb, cent, id_col="vec_id", vec_col="embedding", with_vector=False
    )
    cl = (
        assigned.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("centroid_id", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.partitionBy("centroid_id").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    top = cl.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    s = cl.groupBy("centroid_id").agg(F.sum("c").cast("long").alias("n"))
    return (
        top.join(s, "centroid_id")
        .select(
            F.col("centroid_id").alias("cell_id"),
            F.col("n").alias("n_vectors"),
            F.col("label").cast("long").alias("majority_label"),
            F.col("c").alias("majority_count"),
            (F.floor(F.col("c") * 1.0e6 / F.col("n") + 0.5) / 1.0e6).alias(
                "purity"
            ),
        )
    )


@register(
    "embedding_fisher_score",
    oracle="""
    WITH x AS (
      SELECT e.label, u.i AS dim,
             CAST(floor(u.v * 1.0e6 + 0.5) AS HUGEINT) AS q
      FROM embeddings e, (
        SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
               generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS i
        FROM embeddings
      ) u
      WHERE u.vec_id = e.vec_id
    ),
    per_cd AS (
      SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
             sum(q) AS s1, sum(q*q) AS s2
      FROM x GROUP BY 1, 2
    ),
    per_d AS (
      SELECT dim, CAST(sum(n) AS BIGINT) AS nt, sum(s1) AS t1, sum(s2) AS t2
      FROM per_cd GROUP BY 1
    ),
    ratios AS (
      SELECT d.dim,
             CAST(floor(
               CAST((SELECT sum(CAST(floor(CAST(c.n AS DOUBLE)
                   * (CAST(c.s1 AS DOUBLE)/CAST(c.n AS DOUBLE)
                      - CAST(d.t1 AS DOUBLE)/CAST(d.nt AS DOUBLE))
                   * (CAST(c.s1 AS DOUBLE)/CAST(c.n AS DOUBLE)
                      - CAST(d.t1 AS DOUBLE)/CAST(d.nt AS DOUBLE)) + 0.5)
                   AS HUGEINT))
                FROM per_cd c WHERE c.dim = d.dim) AS DOUBLE)
               /
               CAST((SELECT sum(CAST(floor(CAST(c.s2 AS DOUBLE)
                   - CAST(c.s1 AS DOUBLE)*CAST(c.s1 AS DOUBLE)/CAST(c.n AS DOUBLE)
                   + 0.5) AS HUGEINT))
                FROM per_cd c WHERE c.dim = d.dim) AS DOUBLE)
               * 1.0e6 + 0.5) AS HUGEINT) AS rq
      FROM per_d d
    )
    SELECT (SELECT CAST(count(DISTINCT label) AS BIGINT) FROM embeddings)
             AS n_labels,
           CAST(count(*) AS BIGINT) AS n_dims,
           floor(CAST(sum(rq) AS DOUBLE) / count(*) + 0.5) / 1.0e6
             AS fisher_mean
    FROM ratios
    """,
)
def embedding_fisher_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean per-dimension Fisher ratio (between-class scatter / within-
    class scatter) — the label-separability score of the embedding
    space. (label, dim) sums are exact integers; per-(label, dim)
    between/within terms are quantized to integer units before the
    per-dim sums (order independence), and the per-dim ratios are
    quantized to micro-units before the final exact average. Shape: one (label, dim) agg (bounded keys:
    labels x 64), everything after is dimension-table-sized."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("p", "v"),
    ).select(
        "label",
        (F.col("p") + 1).alias("dim"),
        F.floor(F.col("v") * 1.0e6 + 0.5).cast("decimal(19,0)").alias("q"),
    )
    per_cd = x.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").alias("s1"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
    )
    per_d = per_cd.groupBy("dim").agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s1").alias("t1"),
        F.sum("s2").alias("t2"),
    )
    j = per_cd.join(per_d, "dim")
    between = _scatter_between_q("n", "s1", "t1", "nt")
    within = _scatter_within_q("n", "s1", "s2")
    ratios = (
        j.groupBy("dim")
        .agg(F.sum(between).alias("b"), F.sum(within).alias("w"))
        .select(
            F.floor(
                F.col("b").cast("double") / F.col("w").cast("double") * 1.0e6
                + 0.5
            )
            .cast("decimal(38,0)")
            .alias("rq")
        )
    )
    n_labels = emb.agg(F.countDistinct("label").cast("long").alias("n_labels"))
    out = ratios.agg(
        F.count(F.lit(1)).cast("long").alias("n_dims"),
        (F.floor(F.sum("rq").cast("double") / F.count(F.lit(1)) + 0.5) / 1.0e6).alias(
            "fisher_mean"
        ),
    )
    return n_labels.crossJoin(F.broadcast(out))


# ===========================================================================
# Wave C — event-stream anomaly surfaces.
# ===========================================================================
@register(
    "events_minute_burst_zscore",
    oracle="""
    WITH m AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 60000000 AS BIGINT) AS minute_idx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(cnt AS HUGEINT)) AS s1,
             sum(CAST(cnt AS HUGEINT) * CAST(cnt AS HUGEINT)) AS s2
      FROM m GROUP BY 1
    )
    SELECT event_type, minute_idx, cnt, z_rounded FROM (
      SELECT m.event_type, m.minute_idx, m.cnt,
             CASE WHEN CAST(s.s2 AS DOUBLE) / CAST(s.n AS DOUBLE)
                       - (CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))
                         * (CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE)) > 0
             THEN floor((CAST(m.cnt AS DOUBLE)
                    - CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))
                   / sqrt(CAST(s.s2 AS DOUBLE) / CAST(s.n AS DOUBLE)
                          - (CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))
                            * (CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE)))
                   * 1.0e6 + 0.5) / 1.0e6 END AS z_rounded
      FROM m JOIN s USING (event_type)
    ) WHERE z_rounded >= 2.5
    """,
)
def events_minute_burst_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-minute volume spikes per type: minute counts (exact), per-type
    mean/std from exact integer sums, z rounded identically on both
    engines BEFORE the >= 2.5 boundary; a zero-variance type (every
    minute identical — the smoke SF) yields NULL z and drops out on
    both engines instead of dividing by zero under ANSI mode. The
    minute agg is map-side combinable; the stats table is types-sized
    and broadcast back."""
    ev = _t(spark, sf_dir, "events")
    m = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / 60000000).cast("long").alias("minute_idx"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cq = F.col("cnt").cast("decimal(19,0)")
    s = m.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cq).alias("s1"),
        F.sum(cq * cq).alias("s2"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    var = F.col("s2").cast("double") / nd - mean * mean
    z = (F.col("cnt").cast("double") - mean) / F.sqrt(var)
    zr = F.when(var > 0, F.floor(z * 1.0e6 + 0.5) / 1.0e6)
    return (
        m.join(F.broadcast(s), "event_type")
        .select("event_type", "minute_idx", "cnt", zr.alias("z_rounded"))
        .filter(F.col("z_rounded") >= 2.5)
    )


@register(
    "events_heavy_hitters",
    oracle="""
    WITH t AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1
    ),
    u AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, user_id, c,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY c DESC, user_id ASC) AS rn
      FROM u
    )
    SELECT r.event_type, r.user_id, r.c AS n_events, t.n AS type_total,
           CAST(r.rn AS BIGINT) AS rank,
           r.c * 500 >= t.n AS above_02pct
    FROM ranked r JOIN t USING (event_type)
    WHERE r.rn <= 10
    """,
)
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 heaviest users per type (deterministic user_id
    tiebreak) with the 0.2%-share flag as a column — rank-based so the
    output is SCALE-STABLE (a fixed relative threshold empties out as
    per-type volume grows while per-user activity stays flat). The
    (type, user) agg is map-side combinable; the rank window runs over
    the user-level AGGREGATE. At 100 TB this exact pass is what
    validates the frequent-items sketch (sketch_frequent_items is the
    scale path; this is its bounded-window ground truth)."""
    ev = _t(spark, sf_dir, "events")
    t = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    u = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("c").desc(), F.col("user_id").asc()
    )
    ranked = u.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)
    return ranked.join(F.broadcast(t), "event_type").select(
        "event_type",
        "user_id",
        F.col("c").alias("n_events"),
        F.col("n").alias("type_total"),
        F.col("rn").cast("long").alias("rank"),
        (F.col("c") * 500 >= F.col("n")).alias("above_02pct"),
    )


# ===========================================================================
# Wave D — SQL-surface round-out: exact percentile bands, conditional
# cumulative reset, null-aware anti join.
# ===========================================================================
@register(
    "orders_percentile_bands_exact",
    oracle="""
    WITH q AS (
      SELECT o_orderpriority,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    ranked AS (
      SELECT o_orderpriority, cents,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY cents, 1) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM q
    )
    SELECT o_orderpriority,
           CAST(max(n) AS BIGINT) AS n_orders,
           CAST(max(CASE WHEN rn = (n - 1) // 4 + 1 THEN cents END) AS BIGINT)
             AS p25_cents,
           CAST(max(CASE WHEN rn = (n - 1) // 2 + 1 THEN cents END) AS BIGINT)
             AS p50_cents,
           CAST(max(CASE WHEN rn = ((n - 1) * 3) // 4 + 1 THEN cents END) AS BIGINT)
             AS p75_cents,
           CAST(max(CASE WHEN rn = ((n - 1) * 3) // 4 + 1 THEN cents END)
                - max(CASE WHEN rn = (n - 1) // 4 + 1 THEN cents END) AS BIGINT)
             AS iqr_cents
    FROM ranked GROUP BY 1
    """,
)
def orders_percentile_bands_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DISCRETE p25/p50/p75 + IQR per priority — order statistics
    at index floor((n-1)*q)+1, no interpolation, so both engines pick
    the identical element. One rank window per group over integer
    cents, then a single agg."""
    o = _t(spark, sf_dir, "orders")
    q = o.select(
        "o_orderpriority", _cents_col(F.col("o_totalprice")).alias("cents")
    )
    wr = Window.partitionBy("o_orderpriority").orderBy("cents")
    wn = Window.partitionBy("o_orderpriority")
    ranked = q.select(
        "o_orderpriority",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def at(idx):
        return F.max(F.when(F.col("rn") == idx, F.col("cents"))).cast("long")

    i25 = ((F.col("n") - 1) / 4).cast("long") + 1
    i50 = ((F.col("n") - 1) / 2).cast("long") + 1
    i75 = ((F.col("n") - 1) * 3 / 4).cast("long") + 1
    return ranked.groupBy("o_orderpriority").agg(
        F.max("n").cast("long").alias("n_orders"),
        at(i25).alias("p25_cents"),
        at(i50).alias("p50_cents"),
        at(i75).alias("p75_cents"),
        (at(i75) - at(i25)).cast("long").alias("iqr_cents"),
    )


@register(
    "events_cumulative_reset",
    oracle="""
    WITH seg AS (
      SELECT user_id, event_id, ts, event_type,
             CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) AS v,
             CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS epoch
      FROM events
    )
    SELECT user_id, event_id, epoch,
           CAST(sum(v) OVER (
             PARTITION BY user_id, epoch ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS running_value_micro
    FROM seg
    """,
)
def events_cumulative_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum that RESETS at each 'signup' event — the
    conditional-reset pattern (running session spend, counters that
    zero on a flag): a running count of reset markers defines the epoch
    key, then the cumulative sum partitions by (user, epoch). Two
    windows over the same user partitioning (one Exchange); integer
    micro-units end to end."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seg = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.floor(F.col("value") * 1.0e6 + 0.5).cast("long").alias("v"),
        F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        .over(w)
        .cast("long")
        .alias("epoch"),
    )
    w2 = (
        Window.partitionBy("user_id", "epoch")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return seg.select(
        "user_id",
        "event_id",
        "epoch",
        F.sum("v").over(w2).cast("long").alias("running_value_micro"),
    )


@register(
    "orders_null_aware_anti",
    oracle="""
    WITH probe AS (
      SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END AS k
      FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders_not_in,
           (SELECT CAST(count(*) AS BIGINT) FROM probe WHERE k IS NULL)
             AS n_null_probes
    FROM orders WHERE o_custkey NOT IN (SELECT k FROM probe)
    """,
)
def orders_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with a NULL-bearing subquery — the three-valued-logic
    trap (ONE NULL in the probe side makes NOT IN empty) and the plan
    Spark handles with a null-aware anti join. The probe side
    deliberately maps negative-balance BUILDING customers to NULL, so
    the count is 0 whenever any exists — asserting both engines agree
    on the semantics, not just the happy path. Uses spark.sql: the
    null-aware rewrite is a SQL-analyzer feature."""
    spark.sql("DROP VIEW IF EXISTS _naa_orders")
    spark.sql("DROP VIEW IF EXISTS _naa_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_naa_orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("_naa_customer")
    return spark.sql(
        """
        WITH probe AS (
          SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END AS k
          FROM _naa_customer WHERE c_mktsegment = 'BUILDING'
        )
        SELECT CAST(count(*) AS BIGINT) AS n_orders_not_in,
               (SELECT CAST(count(*) AS BIGINT) FROM probe WHERE k IS NULL)
                 AS n_null_probes
        FROM _naa_orders WHERE o_custkey NOT IN (SELECT k FROM probe)
        """
    )


# ===========================================================================
# Wave E — EWMA over ordered window lists, grouped OLS elasticity,
# shingle document-frequency profile, degree assortativity.
# ===========================================================================

# ---------------------------------------------------------------------------
# Exponentially weighted moving average with alpha = 1/2 over the last
# 8 events per user. Weights are powers of two, values are integer
# micro-units, so every term (v * 2^-k) and the <= 8-term sum are EXACT
# doubles — no rounding ambiguity between engines.
# ---------------------------------------------------------------------------
@register(
    "events_value_ewma",
    oracle="""
    WITH q AS (
      SELECT user_id, event_id, ts,
             CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) AS v
      FROM events
    ),
    framed AS (
      SELECT user_id, event_id,
             list(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS vs
      FROM q
    )
    SELECT user_id, event_id,
           list_reduce(list_transform(generate_series(1, len(vs)),
               i -> CAST(vs[len(vs) - i + 1] AS DOUBLE)
                    * [1.0, 0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625,
                       0.0078125][i]),
             (a, b) -> a + b) AS ewma_micro
    FROM framed
    """,
)
def events_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnormalized EWMA (alpha=1/2, window 8): one user-partitioned
    window collects the ordered frame values, then a row-local fold
    against a literal power-of-two weight array (newest first). The
    windowed list is bounded at 8 elements, so memory per row is fixed;
    at 100 TB this is the batch twin of an applyInPandasWithState
    running decay."""
    ev = _t(spark, sf_dir, "events")
    q = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.floor(F.col("value") * 1.0e6 + 0.5).cast("long").alias("v"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-7, 0)
    framed = q.select(
        "user_id", "event_id", F.collect_list("v").over(w).alias("vs")
    )
    weights = F.array(*[F.lit(0.5 ** k) for k in range(8)])
    n = F.size("vs")
    ewma = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(F.col("vs"), (n - i + 1)).cast("double")
        * F.element_at(weights, i),
    )
    return framed.select("user_id", "event_id", ewma.alias("ewma_micro"))


# ---------------------------------------------------------------------------
# Grouped OLS: quantity-on-discount slope per brand (the "discount
# elasticity" screen) — the per-group version of the quantized exact-sum
# regression machinery.
# ---------------------------------------------------------------------------
@register(
    "lineitem_discount_elasticity",
    oracle="""
    WITH q AS (
      SELECT p.p_brand AS brand,
             CAST(floor(l.l_discount * 100.0 + 0.5) AS HUGEINT) AS x,
             CAST(floor(l.l_quantity + 0.5) AS HUGEINT) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    s AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx, sum(x*y) AS sxy
      FROM q GROUP BY 1
    )
    SELECT brand, n AS n_lines,
           floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                 / NULLIF(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE), 0.0)
                 * 1.0e6 + 0.5) / 1.0e6 AS qty_per_disc_pct
    FROM s
    """,
)
def lineitem_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS slope of quantity on discount-percent from one
    map-side-combinable agg of exact integer sums (25 brand keys); the
    slope formula runs on bit-identical doubles."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    q = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        F.col("p_brand").alias("brand"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("decimal(19,0)").alias("x"),
        F.floor(F.col("l_quantity") + 0.5).cast("decimal(19,0)").alias("y"),
    )
    s = q.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return s.select(
        "brand",
        F.col("n").alias("n_lines"),
        ols_slope_from_sums().alias("qty_per_disc_pct"),
    )


# ---------------------------------------------------------------------------
# Shingle document-frequency profile: how many distinct 3-gram shingles
# fall in each power-of-two DF band — the power-law health check that
# TUNES the inverted-index caps (max_doc_freq) the dedup operators use.
# Pure integer CASE bands (no float log2 at bin edges).
# ---------------------------------------------------------------------------
@register(
    "dedup_shingle_df_profile",
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
    df AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM sh GROUP BY 1)
    SELECT CASE WHEN d = 1 THEN '1' WHEN d = 2 THEN '2'
                WHEN d <= 4 THEN '3-4' WHEN d <= 8 THEN '5-8'
                WHEN d <= 16 THEN '9-16' WHEN d <= 32 THEN '17-32'
                WHEN d <= 64 THEN '33-64' ELSE '65+' END AS df_band,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(d) AS BIGINT) AS n_postings
    FROM df GROUP BY 1
    """,
)
def dedup_shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DF histogram over the shared distinct-shingle derivation. The
    n_postings column is what the inverted-index join actually pays per
    band — the capped bands should carry almost all shingles but a
    bounded share of postings. Two map-side-combinable aggs."""
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        distinct_shingles,
    )

    sh = distinct_shingles(spark, sf_dir)
    df = sh.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("d"))
    band = (
        F.when(F.col("d") == 1, "1")
        .when(F.col("d") == 2, "2")
        .when(F.col("d") <= 4, "3-4")
        .when(F.col("d") <= 8, "5-8")
        .when(F.col("d") <= 16, "9-16")
        .when(F.col("d") <= 32, "17-32")
        .when(F.col("d") <= 64, "33-64")
        .otherwise("65+")
    )
    return df.groupBy(band.alias("df_band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum("d").cast("long").alias("n_postings"),
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the co-purchase graph: Pearson correlation of
# endpoint degrees over all directed edge instances (each undirected
# edge counted both ways — the standard Newman formulation).
# ---------------------------------------------------------------------------
@register(
    "graph_degree_assortativity",
    oracle="""
    WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    und AS (
      SELECT pa AS u, pb AS w FROM e UNION ALL SELECT pb AS u, pa AS w FROM e
    ),
    deg AS (SELECT u AS v, CAST(count(*) AS HUGEINT) AS d FROM und GROUP BY 1),
    pairs AS (
      SELECT da.d AS x, db.d AS y
      FROM und JOIN deg da ON da.v = und.u JOIN deg db ON db.v = und.w
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
      FROM pairs
    )
    SELECT n AS n_edge_ends,
           floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                 / NULLIF(sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 0.0)
                 * 1.0e6 + 0.5) / 1.0e6 AS assortativity
    FROM s
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do high-degree products co-purchase with high-degree products?
    Newman's degree assortativity = Pearson r over (deg(u), deg(w)) for
    every directed edge instance. Same support>=2 edge set as the
    triangle/pagerank family; degrees join back on uniform part keys;
    the correlation reduces to exact integer sums."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    a = baskets.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = baskets.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    e = (
        a.join(b, "k")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("supp"))
        .filter(F.col("supp") >= 2)
        .select("pa", "pb")
    )
    und = e.select(F.col("pa").alias("u"), F.col("pb").alias("w")).unionAll(
        e.select(F.col("pb").alias("u"), F.col("pa").alias("w"))
    )
    deg = und.groupBy(F.col("u").alias("v")).agg(
        F.count(F.lit(1)).cast("decimal(19,0)").alias("d")
    )
    da = deg.select(F.col("v").alias("u"), F.col("d").alias("x"))
    db = deg.select(F.col("v").alias("w"), F.col("d").alias("y"))
    pairs = und.join(da, "u").join(db, "w")
    s = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return s.select(
        F.col("n").alias("n_edge_ends"),
        pearson_r_from_sums().alias("assortativity"),
    )


# ===========================================================================
# Wave F — seasonal index, cross-type audience Jaccard, packing fill
# audit, window-constrained funnel.
# ===========================================================================
@register(
    "orders_seasonal_index",
    oracle="""
    WITH m AS (
      SELECT CAST(month(o_orderdate) AS BIGINT) AS mo,
             CAST(sum(floor(o_totalprice * 100.0 + 0.5)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    t AS (SELECT CAST(sum(cents) AS BIGINT) AS total,
                 CAST(count(*) AS BIGINT) AS n_months FROM m)
    SELECT mo AS month, cents AS revenue_cents,
           floor(CAST(cents AS DOUBLE) * CAST(n_months AS DOUBLE)
                 / CAST(total AS DOUBLE) * 1.0e6 + 0.5) / 1.0e6
             AS seasonal_index
    FROM m CROSS JOIN t
    """,
)
def orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month seasonal index (1.0 = average month): integer
    monthly rollup, 1-row totals broadcast, one rounded ratio."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(F.month("o_orderdate").cast("long").alias("month")).agg(
        F.sum(_cents_col(F.col("o_totalprice"))).cast("long").alias("revenue_cents")
    )
    t = m.agg(
        F.sum("revenue_cents").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_months"),
    )
    idx = (
        F.col("revenue_cents").cast("double")
        * F.col("n_months").cast("double")
        / F.col("total").cast("double")
    )
    return m.crossJoin(F.broadcast(t)).select(
        "month",
        "revenue_cents",
        (F.floor(idx * 1.0e6 + 0.5) / 1.0e6).alias("seasonal_index"),
    )


@register(
    "events_type_audience_jaccard",
    oracle="""
    WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
    sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM u GROUP BY 1),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM u a JOIN u b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b, i.n_common,
           sa.n AS n_a, sb.n AS n_b,
           floor(i.n_common * 1.0e6 / (sa.n + sb.n - i.n_common) + 0.5) / 1.0e6
             AS jaccard
    FROM inter i
    JOIN sz sa ON sa.event_type = i.type_a
    JOIN sz sb ON sb.event_type = i.type_b
    """,
)
def events_type_audience_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact audience overlap (Jaccard) between every pair of event
    types — the small-domain exact twin of the HLL
    inclusion-exclusion estimate (5 types -> 10 pairs; the self-join
    explodes per USER, bounded by types-per-user <= 5). Integer set
    sizes, one rounded division."""
    ev = _t(spark, sf_dir, "events")
    u = ev.select("event_type", "user_id").distinct()
    sz = u.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = u.select(F.col("event_type").alias("type_a"), "user_id")
    b = u.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = sz.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_common",
            "n_a",
            "n_b",
            (
                F.floor(
                    F.col("n_common")
                    * 1.0e6
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
                    + 0.5
                )
                / 1.0e6
            ).alias("jaccard"),
        )
    )


def _pack_fill_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.packing_queries import _CAPACITY
    from cioos_siooc_data_transform_spark.plans.registry import ORACLES

    inner = ORACLES["pack_greedy_nosplit"]
    return f"""
    WITH bins AS (
      SELECT source, bin_id, CAST(sum(tokens) AS BIGINT) AS fill,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM ({inner}) g
      GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(min(fill) AS BIGINT) AS min_fill,
           CAST(max(fill) AS BIGINT) AS max_fill,
           floor(sum(fill) * 1.0e6 / (count(*) * {_CAPACITY}) + 0.5) / 1.0e6
             AS mean_fill_ratio
    FROM bins
    """


@register("pack_fill_efficiency_audit", oracle=_pack_fill_oracle())
def pack_fill_efficiency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit of the greedy no-split packer: bins, docs,
    min/max fill, and the mean fill ratio (1 - ratio = padding burned
    per batch). Reuses the packing operator's output AND its oracle (the
    recursive-CTE scan wrapped in a rollup) — so the audit can never
    drift from the packer it audits."""
    from cioos_siooc_data_transform_spark.operators.packing import (
        pack_greedy_nosplit,
    )
    from cioos_siooc_data_transform_spark.plans.packing_queries import _CAPACITY

    packed = pack_greedy_nosplit(_t(spark, sf_dir, "documents"), _CAPACITY)
    bins = packed.groupBy("source", "bin_id").agg(
        F.sum("tokens").cast("long").alias("fill"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    return bins.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.min("fill").cast("long").alias("min_fill"),
        F.max("fill").cast("long").alias("max_fill"),
        (
            F.floor(
                F.sum("fill") * 1.0e6 / (F.count(F.lit(1)) * _CAPACITY) + 0.5
            )
            / 1.0e6
        ).alias("mean_fill_ratio"),
    )


# ---------------------------------------------------------------------------
# Window-constrained funnel: signup -> first click within 1 h of the
# signup -> first purchase within 24 h of that click, per user. The
# multi-step temporal join done as TWO chained forward as-of scans
# (never a range self-join).
# ---------------------------------------------------------------------------
@register(
    "funnel_window_constrained",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      FROM events WHERE event_type IN ('signup', 'click', 'purchase')
    ),
    first_signup AS (
      SELECT user_id, min(us) AS s_us FROM e WHERE event_type = 'signup'
      GROUP BY 1
    ),
    first_click AS (
      SELECT e.user_id, min(e.us) AS c_us
      FROM e JOIN first_signup f USING (user_id)
      WHERE e.event_type = 'click' AND e.us > f.s_us
        AND e.us - f.s_us <= 3600000000
      GROUP BY 1
    ),
    first_purchase AS (
      SELECT e.user_id, min(e.us) AS p_us
      FROM e JOIN first_click c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.us > c.c_us
        AND e.us - c.c_us <= 86400000000
      GROUP BY 1
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM first_signup) AS n_signup,
           (SELECT CAST(count(*) AS BIGINT) FROM first_click) AS n_click_1h,
           (SELECT CAST(count(*) AS BIGINT) FROM first_purchase)
             AS n_purchase_24h
    """,
)
def funnel_window_constrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-boxed conversion funnel: each stage is a per-user min-
    aggregate JOINED against the previous stage's anchor with an
    integer-microsecond window predicate — user-keyed equi-joins
    (broadcastable anchors), never an event-level range self-join.
    Three exact counts out."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "click", "purchase")
    )
    e = ev.select("user_id", "event_type", F.unix_micros("ts").alias("us"))
    fs = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("s_us"))
    )
    fc = (
        e.filter(F.col("event_type") == "click")
        .join(fs, "user_id")
        .filter(
            (F.col("us") > F.col("s_us"))
            & (F.col("us") - F.col("s_us") <= 3600000000)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("c_us"))
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .filter(
            (F.col("us") > F.col("c_us"))
            & (F.col("us") - F.col("c_us") <= 86400000000)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    n1 = fs.agg(F.count(F.lit(1)).cast("long").alias("n_signup"))
    n2 = fc.agg(F.count(F.lit(1)).cast("long").alias("n_click_1h"))
    n3 = fp.agg(F.count(F.lit(1)).cast("long").alias("n_purchase_24h"))
    return n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(n3))


# ===========================================================================
# Wave G — Benford first-digit audit and one-way ANOVA.
# ===========================================================================
_BENFORD = {
    1: "0.3010299956639812e0", 2: "0.17609125905568124e0",
    3: "0.12493873660829992e0", 4: "0.09691001300805642e0",
    5: "0.07918124604762482e0", 6: "0.06694678963061322e0",
    7: "0.05799194697768673e0", 8: "0.05115252244738129e0",
    9: "0.04575749056067514e0",
}  # log10(1 + 1/d), precomputed so both engines see the same literals

_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {lit}" for d, lit in _BENFORD.items()
) + " END"


@register(
    "lineitem_benford_audit",
    oracle=f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM lineitem WHERE l_extendedprice > 0
    ),
    c AS (SELECT digit, CAST(count(*) AS BIGINT) AS o FROM d GROUP BY 1),
    n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM c)
    SELECT digit, o AS observed,
           CAST(floor(({_BENFORD_CASE}) * CAST(n.n AS DOUBLE) + 0.5) AS BIGINT)
             AS expected,
           floor((CAST(o AS DOUBLE) / CAST(n.n AS DOUBLE)
                  - ({_BENFORD_CASE})) * 1.0e6 + 0.5) / 1.0e6 AS deviation
    FROM c CROSS JOIN n
    """,
)
def lineitem_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of prices vs Benford's law
    (the classic fabricated-data screen — synthetic uniform generators
    fail it loudly, which is itself informative on this corpus). The
    digit comes from the integer-cents string, so extraction is exact;
    expected counts use precomputed log10(1+1/d) literals identical in
    both engines."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")
    d = li.filter(F.col("l_extendedprice") > 0).select(
        F.substring(cents.cast("string"), 1, 1).cast("long").alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("observed"))
    n = c.agg(F.sum("observed").cast("long").alias("n"))
    p = F.expr(_BENFORD_CASE)
    return (
        c.crossJoin(F.broadcast(n))
        .select(
            "digit",
            "observed",
            F.floor(p * F.col("n").cast("double") + 0.5)
            .cast("long")
            .alias("expected"),
            (
                F.floor(
                    (F.col("observed").cast("double") / F.col("n").cast("double") - p)
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("deviation"),
        )
    )


@register(
    "part_type_price_anova",
    oracle="""
    WITH q AS (
      SELECT p_type, CAST(floor(p_retailprice * 100.0 + 0.5) AS HUGEINT) AS v
      FROM part
    ),
    g AS (
      SELECT p_type, CAST(count(*) AS BIGINT) AS n, sum(v) AS s1, sum(v*v) AS s2
      FROM q GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(n) AS BIGINT) AS nt, sum(s1) AS t1,
             CAST(count(*) AS BIGINT) AS k
      FROM g
    ),
    parts AS (
      SELECT
        (SELECT CAST(sum(CAST(floor(CAST(g.n AS DOUBLE)
            * (CAST(g.s1 AS DOUBLE)/CAST(g.n AS DOUBLE)
               - CAST(t.t1 AS DOUBLE)/CAST(t.nt AS DOUBLE))
            * (CAST(g.s1 AS DOUBLE)/CAST(g.n AS DOUBLE)
               - CAST(t.t1 AS DOUBLE)/CAST(t.nt AS DOUBLE)) + 0.5) AS HUGEINT))
         AS DOUBLE) FROM g) AS ssb,
        (SELECT CAST(sum(CAST(floor(CAST(g.s2 AS DOUBLE)
            - CAST(g.s1 AS DOUBLE)*CAST(g.s1 AS DOUBLE)/CAST(g.n AS DOUBLE) + 0.5)
            AS HUGEINT)) AS DOUBLE)
         FROM g) AS ssw,
        t.k, t.nt
      FROM t
    )
    SELECT CAST(k AS BIGINT) AS n_groups,
           CAST(nt AS BIGINT) AS n_rows,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(nt - k AS BIGINT) AS df_within,
           floor((ssb / (k - 1)) / (ssw / (nt - k)) * 1.0e6 + 0.5) / 1.0e6
             AS f_statistic
    FROM parts
    """,
)
def part_type_price_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does retail price differ across part types? F =
    (SSB/df_b)/(SSW/df_w) from exact per-group integer sums; per-group
    SSB/SSW terms are quantized to integer units before the sum (order
    independence — terms are O(1e10+), unit quantization is free). One
    map-side-combinable agg; everything after is group-table-sized."""
    p = _t(spark, sf_dir, "part")
    q = p.select(
        "p_type", _cents_col(F.col("p_retailprice")).cast("decimal(19,0)").alias("v")
    )
    g = q.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
    )
    t = g.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s1").alias("t1"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    j = g.crossJoin(F.broadcast(t))
    ssb_term = _scatter_between_q("n", "s1", "t1", "nt")
    ssw_term = _scatter_within_q("n", "s1", "s2")
    agg = j.groupBy("k", "nt").agg(
        F.sum(ssb_term).alias("ssb"), F.sum(ssw_term).alias("ssw")
    )
    f_stat = (F.col("ssb").cast("double") / (F.col("k") - 1)) / (
        F.col("ssw").cast("double") / (F.col("nt") - F.col("k"))
    )
    return agg.select(
        F.col("k").cast("long").alias("n_groups"),
        F.col("nt").cast("long").alias("n_rows"),
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("nt") - F.col("k")).cast("long").alias("df_within"),
        (F.floor(f_stat * 1.0e6 + 0.5) / 1.0e6).alias("f_statistic"),
    )


# ===========================================================================
# Wave H — 2-D skyline, bipartite density, Lorenz curve points.
# ===========================================================================

# ---------------------------------------------------------------------------
# Pareto skyline of parts on (cheaper price, bigger size): a part is
# dominated when some part is <= on price and >= on size with one
# strict. The O(n log n) window formulation — never the naive O(n^2)
# dominance self-join: sort by price, compare each part's size to the
# running max over STRICTLY cheaper parts (RANGE frame on integer
# cents) and to the max at its own price point.
# ---------------------------------------------------------------------------
@register(
    "part_price_size_skyline",
    oracle="""
    WITH q AS (
      SELECT p_partkey,
             CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS cents,
             CAST(p_size AS BIGINT) AS size
      FROM part
    ),
    w AS (
      SELECT p_partkey, cents, size,
             max(size) OVER (ORDER BY cents
                             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_cheaper,
             max(size) OVER (PARTITION BY cents) AS best_same_price
      FROM q
    )
    SELECT p_partkey AS part_key, cents AS price_cents, size
    FROM w
    WHERE (best_cheaper IS NULL OR best_cheaper < size)
      AND size = best_same_price
    """,
)
def part_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-optimal) parts: survive iff no strictly-cheaper
    part is at least as big AND no same-price part is bigger. Round-9
    migration of the 'partition the price axis and merge partial
    skylines' prose into the actual plan: collapse to the DISTINCT-
    price table (per-price max size — a map-side-combinable agg), run
    the strictly-cheaper running max through running_extreme_two_pass
    (range-bucketed, never one task), and join the two per-price
    columns back to the parts. On the distinct-price table a ROWS
    1-PRECEDING frame IS the strictly-cheaper RANGE frame."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        running_extreme_two_pass,
    )

    p = _t(spark, sf_dir, "part")
    q = p.select(
        "p_partkey",
        _cents_col(F.col("p_retailprice")).alias("cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    per_price = q.groupBy("cents").agg(
        F.max("size").alias("best_same_price")
    )
    dc = running_extreme_two_pass(
        per_price, "cents", "cents", "best_same_price",
        out_col="best_cheaper", agg="max", inclusive=False,
    )
    ww = q.join(dc, "cents").select(
        "p_partkey", "cents", "size", "best_cheaper", "best_same_price"
    )
    return ww.filter(
        (F.col("best_cheaper").isNull() | (F.col("best_cheaper") < F.col("size")))
        & (F.col("size") == F.col("best_same_price"))
    ).select(
        F.col("p_partkey").alias("part_key"),
        F.col("cents").alias("price_cents"),
        "size",
    )


@register(
    "supplier_part_bipartite_density",
    oracle="""
    WITH e AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)
    SELECT (SELECT CAST(count(DISTINCT l_suppkey) AS BIGINT) FROM e) AS n_suppliers,
           (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) FROM e) AS n_parts,
           CAST(count(*) AS BIGINT) AS n_edges,
           floor(count(*) * 1.0e6
                 / ((SELECT count(DISTINCT l_suppkey) FROM e)
                    * (SELECT count(DISTINCT l_partkey) FROM e)) + 0.5) / 1.0e6
             AS density
    FROM e
    """,
)
def supplier_part_bipartite_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-part bipartite graph summary: side cardinalities, edge
    count, and fill density — the sanity numbers behind every
    co-purchase/triangle analysis (a density near 1 means those graphs
    degenerate to cliques). One distinct + count aggs."""
    li = _t(spark, sf_dir, "lineitem")
    e = li.select("l_suppkey", "l_partkey").distinct()
    agg = e.agg(
        F.countDistinct("l_suppkey").cast("long").alias("n_suppliers"),
        F.countDistinct("l_partkey").cast("long").alias("n_parts"),
        F.count(F.lit(1)).cast("long").alias("n_edges"),
    )
    return agg.select(
        "n_suppliers",
        "n_parts",
        "n_edges",
        (
            F.floor(
                F.col("n_edges") * 1.0e6 / (F.col("n_suppliers") * F.col("n_parts"))
                + 0.5
            )
            / 1.0e6
        ).alias("density"),
    )


@register(
    "orders_lorenz_curve",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(floor(o_totalprice * 100.0 + 0.5)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT cents,
             ntile(10) OVER (ORDER BY cents, o_custkey) AS decile
      FROM rev
    ),
    d AS (
      SELECT decile, CAST(sum(cents) AS BIGINT) AS dec_cents,
             CAST(count(*) AS BIGINT) AS n_customers
      FROM ranked GROUP BY 1
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_customers, dec_cents,
           floor(CAST(sum(dec_cents) OVER (ORDER BY decile) AS BIGINT) * 1.0e6
                 / (SELECT sum(dec_cents) FROM d) + 0.5) / 1.0e6
             AS cum_revenue_share
    FROM d
    """,
)
def orders_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at customer deciles (poorest -> richest by
    lifetime revenue): the distribution view behind the Gini scalar
    already live. Migrated (round 8) onto ntile_two_pass — the decile
    assignment is range-bucketed rank + the exact remainder formula, so
    no window sorts more than ~|customers|/512 rows; the remaining
    ordered window runs over the 10-row decile table (bounded by
    construction). Cumulative share is exact integers until one rounded
    division per decile."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ntile_two_pass,
    )

    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(_cents_col(F.col("o_totalprice"))).cast("long").alias("cents")
    )
    ranked = ntile_two_pass(
        rev, "cents", "o_custkey", 10, out_col="decile"
    ).select("cents", "decile")
    d = ranked.groupBy("decile").agg(
        F.sum("cents").cast("long").alias("dec_cents"),
        F.count(F.lit(1)).cast("long").alias("n_customers"),
    )
    wc = Window.orderBy("decile")
    total = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return d.select(
        F.col("decile").cast("long").alias("decile"),
        "n_customers",
        "dec_cents",
        (
            F.floor(
                F.sum("dec_cents").over(wc).cast("long")
                * 1.0e6
                / F.sum("dec_cents").over(total)
                + 0.5
            )
            / 1.0e6
        ).alias("cum_revenue_share"),
    )


# ===========================================================================
# Wave I — Markov stationary distribution by exact-integer power
# iteration (the iterative-algorithm pattern on a bounded state space,
# with a fully unrolled oracle).
# ===========================================================================
_MARKOV_ITERS = 8


def _scatter_between_q(n: str, s1: str, t1: str, nt: str) -> Column:
    """Quantized between-group scatter term n_g*(mu_g - mu)^2, floored
    to integer units and cast decimal(38,0) — THE order-independence
    idiom for every ANOVA-family sum (one definition; see the
    order-independence discipline in SCALE.md)."""
    mu_g = F.col(s1).cast("double") / F.col(n).cast("double")
    mu = F.col(t1).cast("double") / F.col(nt).cast("double")
    return F.floor(
        F.col(n).cast("double") * (mu_g - mu) * (mu_g - mu) + 0.5
    ).cast("decimal(38,0)")


def _scatter_within_q(n: str, s1: str, s2: str) -> Column:
    """Quantized within-group scatter term s2 - s1^2/n (same idiom)."""
    return F.floor(
        F.col(s2).cast("double")
        - F.col(s1).cast("double") * F.col(s1).cast("double")
        / F.col(n).cast("double")
        + 0.5
    ).cast("decimal(38,0)")


def _transition_counts(spark: SparkSession, sf_dir: str):
    """(t, rt): the user-journey transition counts t(prev, next, c) —
    localCheckpointed once — and the row totals rt(rprev, total) with
    the key RENAMED so joining back cannot resolve to the same
    attribute (the shared-lineage trivially-true-join trap). One
    definition for both Markov queries so the chain's ordering/
    sessionization can never silently diverge between them."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.select(
            F.lag("event_type").over(w).alias("prev"),
            F.col("event_type").alias("next"),
        )
        .filter(F.col("prev").isNotNull())
        .groupBy("prev", "next")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    t = checkpoint_df(t, eager=False)
    rt = (
        t.groupBy("prev")
        .agg(F.sum("c").cast("long").alias("total"))
        .select(F.col("prev").alias("rprev"), "total")
    )
    return t, rt


def _markov_iter_sql() -> str:
    """p0 = uniform in pico-units; each iteration computes
    p_{k+1}(s') = sum_s (p_k(s) * c(s,s')) // rowtotal(s) — integer
    floor-division per term then integer sum, so every iterate is
    EXACTLY reproducible regardless of partitioning or engine."""
    ctes = [
        """t AS (
      SELECT prev, next, CAST(count(*) AS BIGINT) AS c
      FROM (
        SELECT lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev,
               event_type AS next
        FROM events
      ) WHERE prev IS NOT NULL
      GROUP BY 1, 2
    )""",
        """rt AS (SELECT prev, CAST(sum(c) AS BIGINT) AS total FROM t GROUP BY 1)""",
        """p0 AS (
      SELECT prev AS state,
             CAST(1000000000000 // count(*) OVER () AS BIGINT) AS pq
      FROM (SELECT DISTINCT prev FROM t)
    )""",
    ]
    for k in range(_MARKOV_ITERS):
        ctes.append(
            f"""p{k + 1} AS (
      SELECT t.next AS state,
             CAST(sum((p.pq * t.c) // rt.total) AS BIGINT) AS pq
      FROM p{k} p
      JOIN t ON t.prev = p.state
      JOIN rt ON rt.prev = p.state
      GROUP BY 1
    )"""
        )
    return ",\n    ".join(ctes)


@register(
    "events_markov_stationary",
    oracle=f"""
    WITH {_markov_iter_sql()}
    SELECT state, floor(pq / 1.0e6 + 0.5) / 1.0e6 AS stationary_prob
    FROM p{_MARKOV_ITERS}
    """,
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain (which
    event type the process spends its time in): {_MARKOV_ITERS} power
    iterations over the 5x5 transition matrix. Every iterate lives in
    integer pico-units with per-term integer floor-division, so the
    fixed-point trajectory is bit-identical on both engines and under
    any partitioning — the same exact-integer discipline as the live
    integer PageRank, on a bounded state space (the iteration data is
    dimension-table-sized; only the transition-count agg touches the
    fact table)."""
    t, rt = _transition_counts(spark, sf_dir)
    states = t.select("prev").distinct()
    n_states = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    p = states.select(
        F.col("prev").alias("state"),
        F.count(F.lit(1)).over(n_states).alias("_n"),
    ).select(
        "state",
        # integer floor division on BOTH engines: DuckDB's double->BIGINT
        # cast ROUNDS while Spark's truncates, so a float divide here
        # would seed different p0 vectors whenever n_states does not
        # divide 1e12 cleanly (the PageRank `DIV` discipline).
        F.expr("CAST(1000000000000 AS BIGINT) DIV _n").alias("pq"),
    )
    for _ in range(_MARKOV_ITERS):
        p = (
            p.join(t, p["state"] == t["prev"])
            .join(rt, F.col("prev") == F.col("rprev"))
            .select(
                F.col("next").alias("state"),
                F.expr("(pq * c) DIV total").alias("term"),
            )
            .groupBy("state")
            .agg(F.sum("term").cast("long").alias("pq"))
        )
    return p.select(
        "state",
        (F.floor(F.col("pq") / 1.0e6 + 0.5) / 1.0e6).alias("stationary_prob"),
    )


# ===========================================================================
# Wave J — PK uniqueness audit, winsorized mean, segment dissimilarity.
# ===========================================================================
@register(
    "table_pk_uniqueness_audit",
    oracle="""
    SELECT * FROM (
      SELECT 'orders' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct_pk
      FROM orders
      UNION ALL
      SELECT 'customer', CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT c_custkey) AS BIGINT) FROM customer
      UNION ALL
      SELECT 'part', CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT p_partkey) AS BIGINT) FROM part
      UNION ALL
      SELECT 'supplier', CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT s_suppkey) AS BIGINT) FROM supplier
      UNION ALL
      SELECT 'lineitem', CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT l_orderkey * 16 + l_linenumber) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'events', CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT event_id) AS BIGINT) FROM events
      UNION ALL
      SELECT 'documents', CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents
      UNION ALL
      SELECT 'embeddings', CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT vec_id) AS BIGINT) FROM embeddings
    )
    """,
)
def table_pk_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness across every fact/dim table in one pass
    each — the first data-contract gate of any ingest (n_rows ==
    n_distinct_pk or the key is broken; lineitem uses the composite
    (orderkey, linenumber) packed into one integer since linenumber
    < 16). Eight independent scans unioned; each is one count agg."""
    pks = [
        ("orders", "o_orderkey"),
        ("customer", "c_custkey"),
        ("part", "p_partkey"),
        ("supplier", "s_suppkey"),
        ("lineitem", None),
        ("events", "event_id"),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
    ]
    outs = []
    for table, pk in pks:
        df = _t(spark, sf_dir, table)
        key = (
            (F.col("l_orderkey") * 16 + F.col("l_linenumber"))
            if pk is None
            else F.col(pk)
        )
        outs.append(
            df.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.countDistinct(key).cast("long").alias("n_distinct_pk"),
            ).select(F.lit(table).alias("table_name"), "n_rows", "n_distinct_pk")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register(
    "events_winsorized_mean",
    oracle="""
    WITH q AS (
      SELECT event_type, CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) AS v
      FROM events
    ),
    ranked AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM q
    ),
    cuts AS (
      SELECT event_type,
             max(CASE WHEN rn = (n - 1) // 20 + 1 THEN v END) AS p05,
             max(CASE WHEN rn = ((n - 1) * 19) // 20 + 1 THEN v END) AS p95
      FROM ranked GROUP BY 1
    )
    SELECT q.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(floor(sum(CASE WHEN q.v < c.p05 THEN c.p05
                               WHEN q.v > c.p95 THEN c.p95
                               ELSE q.v END) / count(*)) AS BIGINT)
             AS winsorized_mean_micro,
           CAST(sum(CASE WHEN q.v < c.p05 OR q.v > c.p95 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clamped
    FROM q JOIN cuts c USING (event_type)
    GROUP BY 1
    """,
)
def events_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per type: clamp at the exact discrete p5/p95
    order statistics (both engines pick the identical element), then an
    exact integer mean — the robust-location estimator that, unlike the
    trimmed mean already live, keeps n constant. One rank window + one
    agg with the 5-row cut table broadcast."""
    ev = _t(spark, sf_dir, "events")
    q = ev.select(
        "event_type", F.floor(F.col("value") * 1.0e6 + 0.5).cast("long").alias("v")
    )
    wr = Window.partitionBy("event_type").orderBy("v")
    wn = Window.partitionBy("event_type")
    ranked = q.select(
        "event_type",
        "v",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    i05 = ((F.col("n") - 1) / 20).cast("long") + 1
    i95 = ((F.col("n") - 1) * 19 / 20).cast("long") + 1
    cuts = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == i05, F.col("v"))).alias("p05"),
        F.max(F.when(F.col("rn") == i95, F.col("v"))).alias("p95"),
    )
    clamped = (
        F.when(F.col("v") < F.col("p05"), F.col("p05"))
        .when(F.col("v") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("v"))
    )
    out_of = F.when(
        (F.col("v") < F.col("p05")) | (F.col("v") > F.col("p95")), 1
    ).otherwise(0)
    return (
        q.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.floor(F.sum(clamped) / F.count(F.lit(1)))
            .cast("long")
            .alias("winsorized_mean_micro"),
            F.sum(out_of).cast("long").alias("n_clamped"),
        )
    )


@register(
    "segment_nation_dissimilarity",
    oracle="""
    WITH c AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nk,
             CAST(count(*) AS BIGINT) AS n
      FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      GROUP BY 1, 2
    ),
    tot AS (SELECT seg, CAST(sum(n) AS BIGINT) AS t FROM c GROUP BY 1),
    grid AS (
      SELECT nk,
             CAST(COALESCE(max(CASE WHEN seg = 'BUILDING' THEN n END), 0)
                  AS BIGINT) AS nb,
             CAST(COALESCE(max(CASE WHEN seg = 'MACHINERY' THEN n END), 0)
                  AS BIGINT) AS nm
      FROM c GROUP BY 1
    )
    SELECT (SELECT t FROM tot WHERE seg = 'BUILDING') AS n_building,
           (SELECT t FROM tot WHERE seg = 'MACHINERY') AS n_machinery,
           floor(CAST(sum(CAST(floor(abs(
             CAST(nb AS DOUBLE) / (SELECT t FROM tot WHERE seg = 'BUILDING')
             - CAST(nm AS DOUBLE) / (SELECT t FROM tot WHERE seg = 'MACHINERY'))
             * 1.0e12 + 0.5) AS HUGEINT)) AS DOUBLE) * 0.5 / 1.0e6 + 0.5) / 1.0e6
             AS dissimilarity_index
    FROM grid
    """,
)
def segment_nation_dissimilarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duncan dissimilarity index between two segments' nation mixes
    (0 = identical distribution, 1 = disjoint): 0.5 * sum |p_i - q_i|
    over the 25-nation grid. Counts exact; each |p_i - q_i| term is
    quantized to integer pico-units BEFORE the sum (the repo-wide
    order-independence discipline — even a 25-addend double sum can
    flip a 6-dp boundary under a different partitioning), then one
    final rounded expression."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    grid = c.groupBy("nk").agg(
        F.coalesce(F.max(F.when(F.col("seg") == "BUILDING", F.col("n"))), F.lit(0))
        .cast("long")
        .alias("nb"),
        F.coalesce(F.max(F.when(F.col("seg") == "MACHINERY", F.col("n"))), F.lit(0))
        .cast("long")
        .alias("nm"),
    )
    tot = grid.agg(
        F.sum("nb").cast("long").alias("n_building"),
        F.sum("nm").cast("long").alias("n_machinery"),
    )
    j = grid.crossJoin(F.broadcast(tot))
    term_q = F.floor(
        F.abs(
            F.col("nb").cast("double") / F.col("n_building").cast("double")
            - F.col("nm").cast("double") / F.col("n_machinery").cast("double")
        )
        * 1.0e12
        + 0.5
    ).cast("decimal(19,0)")
    return (
        j.groupBy("n_building", "n_machinery")
        .agg(
            (
                F.floor(F.sum(term_q).cast("double") * 0.5 / 1.0e6 + 0.5) / 1.0e6
            ).alias("dissimilarity_index")
        )
        .select("n_building", "n_machinery", "dissimilarity_index")
    )


# ===========================================================================
# Wave K — trailing-12-month RANGE window, int8 quantization error
# audit, order-to-ship lag histogram.
# ===========================================================================
@register(
    "orders_rolling_12m_revenue",
    oracle="""
    WITH m AS (
      SELECT c.c_mktsegment AS segment,
             CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT)
               AS month_idx,
             CAST(sum(floor(o.o_totalprice * 100.0 + 0.5)) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    )
    SELECT segment, month_idx, cents AS month_cents,
           CAST(sum(cents) OVER (PARTITION BY segment ORDER BY month_idx
                                 RANGE BETWEEN 11 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS trailing_12m_cents
    FROM m
    """,
)
def orders_rolling_12m_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-12-month revenue per segment: RANGE frame over an
    integer month index, so missing months genuinely shorten the
    window (a ROWS frame would silently span gaps). The window runs
    over the monthly AGGREGATE (~5 segments x 80 months); integer cents
    end to end."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    m = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("month_idx"),
        )
        .agg(F.sum(_cents_col(F.col("o_totalprice"))).cast("long").alias("cents"))
    )
    w = (
        Window.partitionBy("segment")
        .orderBy("month_idx")
        .rangeBetween(-11, Window.currentRow)
    )
    return m.select(
        "segment",
        "month_idx",
        F.col("cents").alias("month_cents"),
        F.sum("cents").over(w).cast("long").alias("trailing_12m_cents"),
    )


@register(
    "embedding_int8_error_audit",
    oracle="""
    WITH per_vec AS (
      SELECT vec_id,
             CAST(floor(list_max(list_transform(
               CAST(embedding AS DOUBLE[]),
               x -> abs(x - round(x * 127.0 / list_max(list_transform(
                      CAST(embedding AS DOUBLE[]), y -> abs(y))))
                    * list_max(list_transform(
                      CAST(embedding AS DOUBLE[]), y -> abs(y))) / 127.0)))
               * 1.0e9 + 0.5) AS BIGINT) AS max_err_nano
      FROM embeddings
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(max(max_err_nano) AS BIGINT) AS worst_err_nano,
           CAST(floor(sum(max_err_nano) / count(*)) AS BIGINT) AS mean_err_nano
    FROM per_vec
    """,
)
def embedding_int8_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruction-error audit of symmetric per-vector int8
    quantization (scale = max|x|/127 — the embedding_quantize_int8
    recipe): per-vector worst absolute error in nano-units, corpus
    max and exact integer mean. Row-local array math, one tiny agg;
    the bound to watch is worst_err <= scale/2 (round-to-nearest)."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    scale = F.array_max(F.transform(e, lambda y: F.abs(y)))
    err = F.transform(
        e, lambda x: F.abs(x - F.round(x * 127.0 / scale) * scale / 127.0)
    )
    per_vec = emb.select(
        "vec_id",
        F.floor(F.array_max(err) * 1.0e9 + 0.5).cast("long").alias("max_err_nano"),
    )
    return per_vec.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.max("max_err_nano").cast("long").alias("worst_err_nano"),
        F.floor(F.sum("max_err_nano") / F.count(F.lit(1)))
        .cast("long")
        .alias("mean_err_nano"),
    )


@register(
    "orders_ship_lag_histogram",
    oracle="""
    WITH lag_days AS (
      SELECT l.l_orderkey,
             CAST(date_diff('day', o.o_orderdate, min(l.l_shipdate)) AS BIGINT)
               AS first_ship_lag
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY l.l_orderkey, o.o_orderdate
    )
    SELECT CASE WHEN first_ship_lag < 0 THEN 'negative'
                WHEN first_ship_lag <= 7 THEN '0-7'
                WHEN first_ship_lag <= 30 THEN '8-30'
                WHEN first_ship_lag <= 90 THEN '31-90'
                ELSE '91+' END AS lag_band,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(first_ship_lag) AS BIGINT) AS min_days,
           CAST(max(first_ship_lag) AS BIGINT) AS max_days
    FROM lag_days GROUP BY 1
    """,
)
def orders_ship_lag_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-shipment lag bands (fulfillment SLA view, with a
    'negative' band that surfaces data-quality violations instead of
    hiding them). One orderkey-keyed join+agg, then integer CASE
    bands."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lag_days = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            F.datediff(F.col("first_ship"), F.col("o_orderdate"))
            .cast("long")
            .alias("first_ship_lag")
        )
    )
    band = (
        F.when(F.col("first_ship_lag") < 0, "negative")
        .when(F.col("first_ship_lag") <= 7, "0-7")
        .when(F.col("first_ship_lag") <= 30, "8-30")
        .when(F.col("first_ship_lag") <= 90, "31-90")
        .otherwise("91+")
    )
    return lag_days.groupBy(band.alias("lag_band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min("first_ship_lag").cast("long").alias("min_days"),
        F.max("first_ship_lag").cast("long").alias("max_days"),
    )


# ===========================================================================
# Wave L — session co-occurrence, term burstiness, variance
# decomposition.
# ===========================================================================
@register(
    "events_session_cooccurrence",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN epoch_us(ts)
                       - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)
                       > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id, event_type,
             CAST(sum(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS BIGINT) AS session_id
      FROM ordered
    ),
    st AS (SELECT DISTINCT user_id, session_id, event_type FROM sess),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_sessions
      FROM st a JOIN st b
        ON a.user_id = b.user_id AND a.session_id = b.session_id
       AND a.event_type < b.event_type
      GROUP BY 1, 2
    ),
    total AS (SELECT CAST(count(*) AS BIGINT) AS n
              FROM (SELECT DISTINCT user_id, session_id FROM st))
    SELECT p.type_a, p.type_b, p.n_sessions, total.n AS total_sessions,
           floor(p.n_sessions * 1.0e6 / total.n + 0.5) / 1.0e6 AS support
    FROM pairs p CROSS JOIN total
    """,
)
def events_session_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which event types co-occur within the same 30-minute session:
    gap-based sessionization (running marker sum — one user window),
    distinct (session, type) membership, then the bounded type-pair
    self-join (<= 5 types per session). The composed
    sessionize -> market-basket shape."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    new_session = F.when(
        prev_us.isNull() | (F.unix_micros("ts") - prev_us > 1800000000), 1
    ).otherwise(0)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        new_session.alias("ns"),
    ).select(
        "user_id",
        "event_type",
        F.sum("ns").over(wc).cast("long").alias("session_id"),
    )
    st = sess.select("user_id", "session_id", "event_type").distinct()
    a = st.select("user_id", "session_id", F.col("event_type").alias("type_a"))
    b = st.select("user_id", "session_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "session_id"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    )
    total = st.select("user_id", "session_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("total_sessions")
    )
    return pairs.crossJoin(F.broadcast(total)).select(
        "type_a",
        "type_b",
        "n_sessions",
        "total_sessions",
        (
            F.floor(F.col("n_sessions") * 1.0e6 / F.col("total_sessions") + 0.5)
            / 1.0e6
        ).alias("support"),
    )


@register(
    "text_term_burstiness",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    tf AS (
      SELECT t, doc_id, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
    ),
    top_terms AS (
      SELECT t, CAST(sum(c) AS BIGINT) AS total FROM tf GROUP BY 1
      ORDER BY total DESC, t ASC LIMIT 20
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    s AS (
      SELECT tf.t,
             CAST(sum(tf.c) AS HUGEINT) AS s1,
             CAST(sum(tf.c * tf.c) AS HUGEINT) AS s2
      FROM tf JOIN top_terms USING (t)
      GROUP BY 1
    )
    SELECT s.t AS term, CAST(s.s1 AS BIGINT) AS n_occurrences,
           floor(((CAST(s.s2 AS DOUBLE) / CAST(nd.n_docs AS DOUBLE)
                   - (CAST(s.s1 AS DOUBLE) / CAST(nd.n_docs AS DOUBLE))
                     * (CAST(s.s1 AS DOUBLE) / CAST(nd.n_docs AS DOUBLE)))
                  / (CAST(s.s1 AS DOUBLE) / CAST(nd.n_docs AS DOUBLE)))
                 * 1.0e6 + 0.5) / 1.0e6 AS fano_factor
    FROM s CROSS JOIN nd
    """,
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance/mean of per-document counts, absent docs
    counting zero) for the 20 most frequent terms — >1 means the term
    is BURSTY (concentrated in few documents: topical), ~1 Poisson
    (function words). Zero-count docs enter through the identity
    E[c]=s1/N, E[c^2]=s2/N over all N docs; sums are exact integers
    over only the PRESENT (term, doc) rows."""
    docs = _t(spark, sf_dir, "documents")
    from cioos_siooc_data_transform_spark.operators.dedup import words_expr

    tok = docs.select("doc_id", F.explode(words_expr(F.col("text"))).alias("t"))
    tf = tok.groupBy("t", "doc_id").agg(F.count(F.lit(1)).cast("long").alias("c"))
    top_terms = (
        tf.groupBy("t")
        .agg(F.sum("c").cast("long").alias("total"))
        .orderBy(F.col("total").desc(), F.col("t").asc())
        .limit(20)
        .select("t")
    )
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    cq = F.col("c").cast("decimal(19,0)")
    s = (
        tf.join(F.broadcast(top_terms), "t")
        .groupBy("t")
        .agg(F.sum(cq).alias("s1"), F.sum(cq * cq).alias("s2"))
    )
    j = s.crossJoin(F.broadcast(nd))
    mean = F.col("s1").cast("double") / F.col("n_docs").cast("double")
    var = F.col("s2").cast("double") / F.col("n_docs").cast("double") - mean * mean
    return j.select(
        F.col("t").alias("term"),
        F.col("s1").cast("long").alias("n_occurrences"),
        (F.floor(var / mean * 1.0e6 + 0.5) / 1.0e6).alias("fano_factor"),
    )


@register(
    "lineitem_price_variance_decomposition",
    oracle="""
    WITH q AS (
      SELECT l_partkey,
             CAST(floor(l_extendedprice / l_quantity * 100.0 + 0.5) AS HUGEINT)
               AS v
      FROM lineitem
    ),
    g AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n, sum(v) AS s1, sum(v*v) AS s2
      FROM q GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS nt, sum(s1) AS t1, sum(s2) AS t2,
                 CAST(count(*) AS BIGINT) AS k FROM g)
    SELECT CAST(k AS BIGINT) AS n_parts, CAST(nt AS BIGINT) AS n_lines,
           floor(CAST((SELECT sum(CAST(floor(CAST(g.n AS DOUBLE)
                    * (CAST(g.s1 AS DOUBLE)/CAST(g.n AS DOUBLE)
                       - CAST(t.t1 AS DOUBLE)/CAST(t.nt AS DOUBLE))
                    * (CAST(g.s1 AS DOUBLE)/CAST(g.n AS DOUBLE)
                       - CAST(t.t1 AS DOUBLE)/CAST(t.nt AS DOUBLE)) + 0.5)
                    AS HUGEINT)) FROM g) AS DOUBLE)
                 / (CAST(t.t2 AS DOUBLE)
                    - CAST(t.t1 AS DOUBLE)*CAST(t.t1 AS DOUBLE)/CAST(t.nt AS DOUBLE))
                 * 1.0e6 + 0.5) / 1.0e6 AS between_part_share
    FROM t
    """,
)
def lineitem_price_variance_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What fraction of unit-price variance is BETWEEN parts (product
    identity) vs within a part (negotiation noise): SSB/SST from exact
    per-part integer sums — the ANOVA machinery at fact-table key
    cardinality (one map-side-combinable agg over ~2k parts; the
    rollup after is part-table-sized). Each part's SSB term is
    quantized to integer units BEFORE the ~2k-addend sum (the
    order-independence discipline; terms are O(1e10+) so unit
    quantization costs nothing)."""
    li = _t(spark, sf_dir, "lineitem")
    q = li.select(
        "l_partkey",
        F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 100.0 + 0.5)
        .cast("decimal(19,0)")
        .alias("v"),
    )
    g = q.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
    )
    t = g.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s1").alias("t1"),
        F.sum("s2").alias("t2"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    j = g.crossJoin(F.broadcast(t))
    ssb_term = _scatter_between_q("n", "s1", "t1", "nt")
    agg = j.groupBy("k", "nt", "t1", "t2").agg(F.sum(ssb_term).alias("ssb"))
    sst = F.col("t2").cast("double") - F.col("t1").cast("double") * F.col(
        "t1"
    ).cast("double") / F.col("nt").cast("double")
    return agg.select(
        F.col("k").cast("long").alias("n_parts"),
        F.col("nt").cast("long").alias("n_lines"),
        (
            F.floor(F.col("ssb").cast("double") / sst * 1.0e6 + 0.5) / 1.0e6
        ).alias("between_part_share"),
    )


# ===========================================================================
# Wave M — Mood's median test, customer type affinity, lagged
# cross-correlation of minute series.
# ===========================================================================
@register(
    "events_mood_median_test",
    oracle="""
    WITH q AS (
      SELECT event_type,
             CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) AS v,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS h1
      FROM events
    ),
    ranked AS (
      SELECT event_type, v, h1,
             row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM q
    ),
    med AS (
      SELECT event_type,
             max(CASE WHEN rn = (n - 1) // 2 + 1 THEN v END) AS m
      FROM ranked GROUP BY 1
    ),
    cells AS (
      SELECT q.event_type,
             CAST(sum(CASE WHEN q.h1 = 1 AND q.v > med.m THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(sum(CASE WHEN q.h1 = 1 AND q.v <= med.m THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(sum(CASE WHEN q.h1 = 0 AND q.v > med.m THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(sum(CASE WHEN q.h1 = 0 AND q.v <= med.m THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
      FROM q JOIN med USING (event_type)
      GROUP BY 1
    )
    SELECT event_type, a AS h1_above, b AS h1_below_eq,
           c AS h2_above, d AS h2_below_eq,
           floor(CAST((a + b + c + d) AS DOUBLE)
                 * CAST(a*d - b*c AS DOUBLE) * CAST(a*d - b*c AS DOUBLE)
                 / (CAST((a + b) AS DOUBLE) * CAST((c + d) AS DOUBLE)
                    * CAST((a + c) AS DOUBLE) * CAST((b + d) AS DOUBLE))
                 * 1.0e6 + 0.5) / 1.0e6 AS chi2
    FROM cells
    """,
)
def events_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test per type between the month's halves: pooled
    exact discrete median, 2x2 above/below counts, 1-df chi-square from
    the closed 2x2 formula — all integers until one rounded expression.
    The distribution-shift cousin of the KS statistic already live
    (median-sensitive rather than sup-norm)."""
    ev = _t(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.floor(F.col("value") * 1.0e6 + 0.5).cast("long").alias("v"),
        F.when(
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 1
        ).otherwise(0).alias("h1"),
    )
    wr = Window.partitionBy("event_type").orderBy("v")
    wn = Window.partitionBy("event_type")
    ranked = q.select(
        "event_type",
        "v",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = ranked.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn") == ((F.col("n") - 1) / 2).cast("long") + 1, F.col("v")
            )
        ).alias("m")
    )
    j = q.join(F.broadcast(med), "event_type")
    cell = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")  # noqa: E731
    cells = j.groupBy("event_type").agg(
        cell((F.col("h1") == 1) & (F.col("v") > F.col("m"))).alias("a"),
        cell((F.col("h1") == 1) & (F.col("v") <= F.col("m"))).alias("b"),
        cell((F.col("h1") == 0) & (F.col("v") > F.col("m"))).alias("c"),
        cell((F.col("h1") == 0) & (F.col("v") <= F.col("m"))).alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    det = F.col("a") * F.col("d") - F.col("b") * F.col("c")
    chi2 = (
        n.cast("double")
        * det.cast("double")
        * det.cast("double")
        / (
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d")).cast("double")
            * (F.col("a") + F.col("c")).cast("double")
            * (F.col("b") + F.col("d")).cast("double")
        )
    )
    return cells.select(
        "event_type",
        F.col("a").alias("h1_above"),
        F.col("b").alias("h1_below_eq"),
        F.col("c").alias("h2_above"),
        F.col("d").alias("h2_below_eq"),
        (F.floor(chi2 * 1.0e6 + 0.5) / 1.0e6).alias("chi2"),
    )


@register(
    "customer_type_affinity",
    oracle="""
    WITH ct AS (
      SELECT o.o_custkey, p.p_type, CAST(count(*) AS BIGINT) AS c
      FROM orders o
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT o_custkey, CAST(sum(c) AS BIGINT) AS t FROM ct GROUP BY 1),
    top AS (
      SELECT o_custkey, p_type, c FROM (
        SELECT o_custkey, p_type, c,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY c DESC, p_type ASC) AS rn
        FROM ct
      ) WHERE rn = 1
    ),
    strength AS (
      SELECT top.p_type AS favorite_type,
             CAST(floor(top.c * 10.0 / tot.t) AS BIGINT) AS affinity_decile
      FROM top JOIN tot USING (o_custkey)
    )
    SELECT favorite_type, affinity_decile,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM strength GROUP BY 1, 2
    """,
)
def customer_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's favorite part type and how concentrated their
    purchasing is on it (share floored to a decile bucket — integer
    arithmetic, no float threshold), rolled up to the
    (favorite, decile) histogram. Fact join -> bounded (cust, type)
    agg -> per-customer window over <= 6 rows -> tiny rollup."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    ct = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("o_custkey", "p_type")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = ct.groupBy("o_custkey").agg(F.sum("c").cast("long").alias("t"))
    w = Window.partitionBy("o_custkey").orderBy(F.col("c").desc(), F.col("p_type"))
    top = ct.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    strength = top.join(tot, "o_custkey").select(
        F.col("p_type").alias("favorite_type"),
        F.floor(F.col("c") * 10.0 / F.col("t")).cast("long").alias(
            "affinity_decile"
        ),
    )
    return strength.groupBy("favorite_type", "affinity_decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )


@register(
    "events_lagged_crosscorr",
    oracle="""
    WITH m AS (
      SELECT CAST(epoch_us(ts) // 60000000 AS BIGINT) AS minute_idx,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
               AS x,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest([0, 1, 2, 3, 4, 5]) AS lag),
    pairs AS (
      SELECT l.lag,
             CAST(a.x AS HUGEINT) AS x, CAST(b.y AS HUGEINT) AS y
      FROM lags l
      JOIN m a ON TRUE
      JOIN m b ON b.minute_idx = a.minute_idx + l.lag
    ),
    s AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
      FROM pairs GROUP BY 1
    )
    SELECT CAST(lag AS BIGINT) AS lag_minutes, n AS n_pairs,
           floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                 / NULLIF(sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 0.0)
                 * 1.0e6 + 0.5) / 1.0e6 AS crosscorr
    FROM s
    """,
)
def events_lagged_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does click volume LEAD purchase volume? Pearson cross-correlation
    of the minute-series at lags 0-5: both series come from one minute
    agg, the lag alignment is an integer equi-join on minute_idx+lag
    (6 bounded passes over the minute AGGREGATE, never raw events), and
    every sum is an exact integer."""
    ev = _t(spark, sf_dir, "events")
    m = ev.groupBy(
        (F.unix_micros("ts") / 60000000).cast("long").alias("minute_idx")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    m = checkpoint_df(m, eager=False)
    lags = ev.sparkSession.createDataFrame([(i,) for i in range(6)], "lag LONG")
    a = m.select(F.col("minute_idx").alias("mi"), F.col("x").cast("decimal(19,0)").alias("x"))
    b = m.select(F.col("minute_idx").alias("mj"), F.col("y").cast("decimal(19,0)").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("mj") == F.col("mi") + F.col("lag"))
    )
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return s.select(
        F.col("lag").alias("lag_minutes"),
        F.col("n").alias("n_pairs"),
        pearson_r_from_sums().alias("crosscorr"),
    )


# ===========================================================================
# Wave N — Cramér's V effect size, PMI word co-occurrence.
# ===========================================================================
@register(
    "orders_status_priority_cramers_v",
    oracle="""
    WITH cells AS (
      SELECT o_orderstatus AS s, o_orderpriority AS p,
             CAST(count(*) AS BIGINT) AS o
      FROM orders GROUP BY 1, 2
    ),
    rows_t AS (SELECT s, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
    cols_t AS (SELECT p, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
    n_t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    grid AS (
      SELECT r.s, c.p, r.rt, c.ct, n.n, COALESCE(x.o, 0) AS o
      FROM rows_t r CROSS JOIN cols_t c CROSS JOIN n_t n
      LEFT JOIN cells x ON x.s = r.s AND x.p = c.p
    ),
    terms AS (
      SELECT CAST(floor(
               (CAST(o AS DOUBLE)
                - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(o AS DOUBLE)
                  - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
               * 1.0e6 + 0.5) AS HUGEINT) AS tq
      FROM grid
    ),
    dims AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM rows_t) AS r,
             (SELECT CAST(count(*) AS BIGINT) FROM cols_t) AS c,
             (SELECT n FROM n_t) AS n
    )
    SELECT dims.r AS n_statuses, dims.c AS n_priorities,
           floor(CAST(x.chi2q AS DOUBLE) / 1.0e6 * 1.0e6 + 0.5) / 1.0e6 AS chi2,
           floor(sqrt(CAST(x.chi2q AS DOUBLE) / 1.0e6
                      / (CAST(dims.n AS DOUBLE)
                         * (CASE WHEN dims.r < dims.c THEN dims.r
                                 ELSE dims.c END - 1)))
                 * 1.0e6 + 0.5) / 1.0e6 AS cramers_v
    FROM (SELECT CAST(sum(tq) AS HUGEINT) AS chi2q FROM terms) x
    CROSS JOIN dims
    """,
)
def orders_status_priority_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the (status, priority) contingency —
    the normalized companion of the chi-square already in the family
    (chi2 says 'dependent'; V says HOW dependent on [0, 1]). Same
    margin-cross grid + micro-quantized cell terms as
    doc_source_lang_chi2; one extra closed-form expression."""
    o = _t(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderstatus").alias("s"), F.col("o_orderpriority").alias("p")
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    rows_t = cells.groupBy("s").agg(F.sum("o").cast("long").alias("rt"))
    cols_t = cells.groupBy("p").agg(F.sum("o").cast("long").alias("ct"))
    n_t = cells.agg(F.sum("o").cast("long").alias("n"))
    grid = (
        rows_t.crossJoin(F.broadcast(cols_t))
        .crossJoin(F.broadcast(n_t))
        .join(cells, ["s", "p"], "left")
        .select(
            "rt", "ct", "n", F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("o")
        )
    )
    e = F.col("rt").cast("double") * F.col("ct").cast("double") / F.col("n").cast(
        "double"
    )
    od = F.col("o").cast("double")
    terms = grid.select(
        F.floor((od - e) * (od - e) / e * 1.0e6 + 0.5)
        .cast("decimal(38,0)")
        .alias("tq")
    )
    chi2q = terms.agg(F.sum("tq").alias("chi2q"))
    dims = (
        rows_t.agg(F.count(F.lit(1)).cast("long").alias("r"))
        .crossJoin(F.broadcast(cols_t.agg(F.count(F.lit(1)).cast("long").alias("c"))))
        .crossJoin(F.broadcast(n_t))
    )
    j = chi2q.crossJoin(F.broadcast(dims))
    chi2 = F.col("chi2q").cast("double") / 1.0e6
    mindim = F.when(F.col("r") < F.col("c"), F.col("r")).otherwise(F.col("c"))
    v = F.sqrt(chi2 / (F.col("n").cast("double") * (mindim - 1)))
    return j.select(
        F.col("r").alias("n_statuses"),
        F.col("c").alias("n_priorities"),
        (F.floor(chi2 * 1.0e6 + 0.5) / 1.0e6).alias("chi2"),
        (F.floor(v * 1.0e6 + 0.5) / 1.0e6).alias("cramers_v"),
    )


@register(
    "doc_word_pmi_pairs",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, t FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
      )
    ),
    df AS (SELECT t, CAST(count(*) AS BIGINT) AS d FROM tok GROUP BY 1),
    top AS (SELECT t, d FROM df ORDER BY d DESC, t ASC LIMIT 30),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    co AS (
      SELECT a.t AS word_a, b.t AS word_b, CAST(count(*) AS BIGINT) AS n_co
      FROM (SELECT tok.doc_id, tok.t FROM tok JOIN top USING (t)) a
      JOIN (SELECT tok.doc_id, tok.t FROM tok JOIN top USING (t)) b
        ON a.doc_id = b.doc_id AND a.t < b.t
      GROUP BY 1, 2
      HAVING count(*) >= 5
    )
    SELECT co.word_a, co.word_b, co.n_co,
           floor(ln(CAST(co.n_co AS DOUBLE) * CAST(nd.n AS DOUBLE)
                    / (CAST(da.d AS DOUBLE) * CAST(db.d AS DOUBLE)))
                 * 1.0e6 + 0.5) / 1.0e6 AS pmi_nats
    FROM co
    JOIN top da ON da.t = co.word_a
    JOIN top db ON db.t = co.word_b
    CROSS JOIN nd
    """,
)
def doc_word_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information for pairs of the 30 most common
    words (document-level co-occurrence, support >= 5): PMI =
    ln(P(a,b)/(P(a)P(b))) — near 0 everywhere means words mix freely
    (this corpus); strong positives reveal collocations. The pair join
    runs ONLY over the 30-word broadcast-filtered postings, so it is
    docs x (<=30 choose 2) bounded; one ln per surviving pair."""
    from cioos_siooc_data_transform_spark.operators.dedup import words_expr

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(words_expr(F.col("text"))).alias("t")
    ).distinct()
    df = tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("d"))
    top = df.orderBy(F.col("d").desc(), F.col("t").asc()).limit(30)
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    filtered = tok.join(F.broadcast(top.select("t")), "t")
    a = filtered.select("doc_id", F.col("t").alias("word_a"))
    b = filtered.select("doc_id", F.col("t").alias("word_b"))
    co = (
        a.join(b, "doc_id")
        .filter(F.col("word_a") < F.col("word_b"))
        .groupBy("word_a", "word_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_co"))
        .filter(F.col("n_co") >= 5)
    )
    da = top.select(F.col("t").alias("word_a"), F.col("d").alias("da"))
    db = top.select(F.col("t").alias("word_b"), F.col("d").alias("db"))
    pmi = F.log(
        F.col("n_co").cast("double")
        * F.col("n").cast("double")
        / (F.col("da").cast("double") * F.col("db").cast("double"))
    )
    return (
        co.join(F.broadcast(da), "word_a")
        .join(F.broadcast(db), "word_b")
        .crossJoin(F.broadcast(nd))
        .select(
            "word_a",
            "word_b",
            "n_co",
            (F.floor(pmi * 1.0e6 + 0.5) / 1.0e6).alias("pmi_nats"),
        )
    )


# ===========================================================================
# Wave O — survival curve, crest factor, return-rate-by-discount,
# day-of-week x hour heatmap.
# ===========================================================================
@register(
    "customer_survival_curve",
    oracle="""
    WITH tenure AS (
      SELECT o_custkey,
             CAST(date_diff('day', min(o_orderdate), max(o_orderdate)) // 365
                  AS BIGINT) AS tenure_years
      FROM orders GROUP BY 1
    ),
    ks AS (SELECT unnest(generate_series(0, 6)) AS k),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tenure)
    SELECT CAST(ks.k AS BIGINT) AS year_k,
           CAST(sum(CASE WHEN t.tenure_years >= ks.k THEN 1 ELSE 0 END)
                AS BIGINT) AS n_surviving,
           floor(sum(CASE WHEN t.tenure_years >= ks.k THEN 1 ELSE 0 END) * 1.0e6
                 / max(n.n) + 0.5) / 1.0e6 AS survival_frac
    FROM tenure t CROSS JOIN ks CROSS JOIN n
    GROUP BY ks.k
    """,
)
def customer_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention survival curve: the fraction of customers whose
    ordering lifetime (first->last order) reaches k full years, for
    k = 0..6. One tenure agg, a 7-row broadcast grid, exact integer
    day/year arithmetic."""
    o = _t(spark, sf_dir, "orders")
    tenure = o.groupBy("o_custkey").agg(
        (F.datediff(F.max("o_orderdate"), F.min("o_orderdate")) / 365)
        .cast("long")
        .alias("tenure_years")
    )
    ks = o.sparkSession.createDataFrame([(k,) for k in range(7)], "k LONG")
    n = tenure.agg(F.count(F.lit(1)).cast("long").alias("n"))
    surv = F.sum(
        F.when(F.col("tenure_years") >= F.col("k"), 1).otherwise(0)
    ).cast("long")
    return (
        tenure.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(n))
        .groupBy(F.col("k").alias("year_k"))
        .agg(
            surv.alias("n_surviving"),
            (F.floor(surv * 1.0e6 / F.max("n") + 0.5) / 1.0e6).alias(
                "survival_frac"
            ),
        )
    )


@register(
    "events_peak_to_mean",
    oracle="""
    WITH m AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 60000000 AS BIGINT) AS minute_idx,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(max(cnt) AS BIGINT) AS peak_minute,
           CAST(sum(cnt) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS n_minutes,
           floor(CAST(max(cnt) AS DOUBLE) * CAST(count(*) AS DOUBLE)
                 / CAST(sum(cnt) AS DOUBLE) * 1.0e6 + 0.5) / 1.0e6
             AS peak_to_mean
    FROM m GROUP BY 1
    """,
)
def events_peak_to_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crest factor of the per-minute volume (peak/mean — the capacity-
    planning number: provision for the peak, bill for the mean). One
    minute agg + one rollup, exact integers, one rounded ratio."""
    ev = _t(spark, sf_dir, "events")
    m = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / 60000000).cast("long").alias("minute_idx"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    ratio = (
        F.max("cnt").cast("double")
        * F.count(F.lit(1)).cast("double")
        / F.sum("cnt").cast("double")
    )
    return m.groupBy("event_type").agg(
        F.max("cnt").cast("long").alias("peak_minute"),
        F.sum("cnt").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_minutes"),
        (F.floor(ratio * 1.0e6 + 0.5) / 1.0e6).alias("peak_to_mean"),
    )


@register(
    "lineitem_return_by_discount",
    oracle="""
    SELECT CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS disc_pct,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_returned,
           floor(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) * 1.0e6
                 / count(*) + 0.5) / 1.0e6 AS return_rate
    FROM lineitem GROUP BY 1
    """,
)
def lineitem_return_by_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rate as a function of discount band — the univariate
    effect screen before any churn model (a monotone trend here is the
    'discounted stuff comes back' signal). One agg on 11 integer
    bands."""
    li = _t(spark, sf_dir, "lineitem")
    ret = F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).cast("long")
    n = F.count(F.lit(1)).cast("long")
    return li.groupBy(
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long").alias("disc_pct")
    ).agg(
        n.alias("n_lines"),
        ret.alias("n_returned"),
        (F.floor(ret * 1.0e6 / n + 0.5) / 1.0e6).alias("return_rate"),
    )


@register(
    "events_dow_hour_heatmap",
    oracle="""
    SELECT CAST(isodow(ts) AS BIGINT) AS iso_dow,
           CAST(hour(ts) AS BIGINT) AS hour_of_day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (ISO weekday x hour) activity grid — the load heatmap every
    ops dashboard opens with. 168 cells max; isodow parity: Spark
    weekday() is Monday=0, DuckDB isodow is Monday=1."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        (F.weekday("ts") + 1).cast("long").alias("iso_dow"),
        F.hour("ts").cast("long").alias("hour_of_day"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


# ===========================================================================
# Wave P — tie-broken Spearman, supplier share trend, grouped Gini,
# first-to-last-year growth.
# ===========================================================================
@register(
    "part_size_price_spearman",
    oracle="""
    WITH r AS (
      SELECT CAST(row_number() OVER (ORDER BY p_size, p_partkey) AS HUGEINT) AS rx,
             CAST(row_number() OVER (
               ORDER BY floor(p_retailprice * 100.0 + 0.5), p_partkey)
               AS HUGEINT) AS ry
      FROM part
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(rx) AS sx, sum(ry) AS sy,
             sum(rx*rx) AS sxx, sum(ry*ry) AS syy, sum(rx*ry) AS sxy
      FROM r
    )
    SELECT n AS n_parts,
           floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                 / NULLIF(sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 0.0)
                 * 1.0e6 + 0.5) / 1.0e6 AS spearman_rho
    FROM s
    """,
)
def part_size_price_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank (Spearman) correlation between part size and price —
    monotone association without the linearity assumption Pearson
    makes. Ranks use a DETERMINISTIC partkey tiebreak (the tie-broken
    variant rather than midranks, so both engines assign identical
    integer ranks); then the exact-sum Pearson formula on the ranks.
    Round-9 migration: both ranks come from ranked_cumsum_two_pass —
    the part dimension scales with SF, so two global-order windows
    would each sort it in ONE task; the range-bucketed form splits the
    sort across ~512 bounded windows per axis."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("long").alias("__size"),
        _cents_col(F.col("p_retailprice")).cast("long").alias("__cents"),
    )
    rx = ranked_cumsum_two_pass(
        p, "__size", "p_partkey",
        out_rank="__rx", out_cum="__cumx", ascending=True,
    ).drop("__cumx")
    ry = ranked_cumsum_two_pass(
        rx, "__cents", "p_partkey",
        out_rank="__ry", out_cum="__cumy", ascending=True,
    ).drop("__cumy")
    r = ry.select(
        F.col("__rx").cast("decimal(19,0)").alias("rx"),
        F.col("__ry").cast("decimal(19,0)").alias("ry"),
    )
    s = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    return s.select(
        F.col("n").alias("n_parts"),
        pearson_r_from_sums().alias("spearman_rho"),
    )


@register(
    "supplier_share_trend",
    oracle="""
    WITH m AS (
      SELECT l_suppkey,
             CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS mi,
             CAST(sum(floor(l_extendedprice * 100.0 + 0.5)) AS BIGINT) AS cents
      FROM lineitem GROUP BY 1, 2
    ),
    tot AS (SELECT mi, CAST(sum(cents) AS BIGINT) AS t FROM m GROUP BY 1),
    q AS (
      SELECT m.l_suppkey, CAST(m.mi AS HUGEINT) AS x,
             CAST(floor(CAST(m.cents AS DOUBLE) / CAST(tot.t AS DOUBLE) * 1.0e12
                        + 0.5) AS HUGEINT) AS y
      FROM m JOIN tot USING (mi)
    ),
    s AS (
      SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx, sum(x*y) AS sxy
      FROM q GROUP BY 1
    )
    SELECT l_suppkey AS supp_key, n AS n_months,
           floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                 / NULLIF(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE), 0.0)
                 / 1.0e6 + 0.5) / 1.0e6 AS share_slope_ppm_per_month
    FROM s WHERE n >= 2
    """,
)
def supplier_share_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is each supplier gaining or losing revenue share? OLS slope of
    monthly share (pico-quantized) on month index, per supplier —
    emitted in parts-per-million share per month. Monthly rollup ->
    share -> grouped exact-sum regression; the market-share
    concentration trend feed."""
    li = _t(spark, sf_dir, "lineitem")
    m = li.groupBy(
        "l_suppkey",
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).cast("long").alias("mi"),
    ).agg(F.sum(_cents_col(F.col("l_extendedprice"))).cast("long").alias("cents"))
    tot = m.groupBy("mi").agg(F.sum("cents").cast("long").alias("t"))
    q = m.join(tot, "mi").select(
        "l_suppkey",
        F.col("mi").cast("decimal(19,0)").alias("x"),
        F.floor(
            F.col("cents").cast("double") / F.col("t").cast("double") * 1.0e12 + 0.5
        )
        .cast("decimal(19,0)")
        .alias("y"),
    )
    s = q.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    ).filter(F.col("n") >= 2)
    return s.select(
        F.col("l_suppkey").alias("supp_key"),
        F.col("n").alias("n_months"),
        ols_slope_from_sums(scale_div=1.0e12).alias("share_slope_ppm_per_month"),
    )


@register(
    "customer_gini_by_nation",
    oracle="""
    WITH rev AS (
      SELECT c.c_nationkey AS nk, o.o_custkey,
             CAST(sum(floor(o.o_totalprice * 100.0 + 0.5)) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT nk, cents,
             CAST(row_number() OVER (PARTITION BY nk
                                     ORDER BY cents, o_custkey) AS HUGEINT) AS i
      FROM rev
    ),
    s AS (
      SELECT nk, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(cents AS HUGEINT)) AS sx, sum(i * CAST(cents AS HUGEINT))
               AS swx
      FROM ranked GROUP BY 1
    )
    SELECT CAST(nk AS BIGINT) AS nation_key, n AS n_customers,
           floor((2.0 * CAST(swx AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
                  - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE))
                 * 1.0e6 + 0.5) / 1.0e6 AS gini
    FROM s WHERE n >= 2
    """,
)
def customer_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue inequality per nation — the grouped version of the live
    corpus-wide Gini. Migrated (round 8) onto the grouped form of
    ranked_cumsum_two_pass (group_cols=["nk"], ascending): per-nation
    ranks come from range-bucketed windows, so a hot nation splits
    across ~512 bucket tasks instead of sorting in one (the skew case a
    plain 25-partition window cannot split). All three sums exact
    integers; one rounded expression per nation."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rev = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nk"), "o_custkey")
        .agg(F.sum(_cents_col(F.col("o_totalprice"))).cast("long").alias("cents"))
    )
    ranked = ranked_cumsum_two_pass(
        rev, "cents", "o_custkey",
        out_rank="__i", out_cum="__cum_unused",
        group_cols=["nk"], ascending=True,
    ).select(
        "nk",
        F.col("cents").cast("decimal(19,0)").alias("cents"),
        F.col("__i").cast("decimal(19,0)").alias("i"),
    )
    s = ranked.groupBy("nk").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").alias("sx"),
        F.sum(F.col("i") * F.col("cents")).alias("swx"),
    ).filter(F.col("n") >= 2)
    nd = F.col("n").cast("double")
    gini = (
        2.0 * F.col("swx").cast("double") / (nd * F.col("sx").cast("double"))
        - (nd + 1.0) / nd
    )
    return s.select(
        F.col("nk").cast("long").alias("nation_key"),
        F.col("n").alias("n_customers"),
        (F.floor(gini * 1.0e6 + 0.5) / 1.0e6).alias("gini"),
    )


@register(
    "orders_segment_growth_ratio",
    oracle="""
    WITH y AS (
      SELECT c.c_mktsegment AS segment, CAST(year(o.o_orderdate) AS BIGINT) AS yr,
             CAST(sum(floor(o.o_totalprice * 100.0 + 0.5)) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    b AS (
      SELECT segment,
             min(yr) AS first_yr, max(yr) AS last_yr,
             CAST(max(CASE WHEN yr = fy THEN cents END) AS BIGINT) AS first_cents,
             CAST(max(CASE WHEN yr = ly THEN cents END) AS BIGINT) AS last_cents
      FROM (
        SELECT y.*, min(yr) OVER (PARTITION BY segment) AS fy,
               max(yr) OVER (PARTITION BY segment) AS ly
        FROM y
      ) GROUP BY segment
    )
    SELECT segment, CAST(first_yr AS BIGINT) AS first_yr,
           CAST(last_yr AS BIGINT) AS last_yr, first_cents, last_cents,
           CAST(last_yr - first_yr AS BIGINT) AS span_years,
           floor(CAST(last_cents AS DOUBLE) / CAST(first_cents AS DOUBLE)
                 * 1.0e6 + 0.5) / 1.0e6 AS growth_ratio
    FROM b
    """,
)
def orders_segment_growth_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-to-last-year revenue growth ratio per segment with the
    span emitted alongside (the CAGR is the reader's pow() — kept out
    of the engine contract deliberately: pow's last-ulp behaviour is
    the one libm surface JVM and C are NOT guaranteed to agree on,
    unlike ln/sqrt which this repo relies on). Exact integers plus one
    rounded division."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    y = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").cast("long").alias("yr"),
        )
        .agg(F.sum(_cents_col(F.col("o_totalprice"))).cast("long").alias("cents"))
    )
    wseg = Window.partitionBy("segment")
    yy = y.select(
        "segment",
        "yr",
        "cents",
        F.min("yr").over(wseg).alias("fy"),
        F.max("yr").over(wseg).alias("ly"),
    )
    b = yy.groupBy("segment").agg(
        F.min("yr").cast("long").alias("first_yr"),
        F.max("yr").cast("long").alias("last_yr"),
        F.max(F.when(F.col("yr") == F.col("fy"), F.col("cents")))
        .cast("long")
        .alias("first_cents"),
        F.max(F.when(F.col("yr") == F.col("ly"), F.col("cents")))
        .cast("long")
        .alias("last_cents"),
    )
    return b.select(
        "segment",
        "first_yr",
        "last_yr",
        "first_cents",
        "last_cents",
        (F.col("last_yr") - F.col("first_yr")).cast("long").alias("span_years"),
        (
            F.floor(
                F.col("last_cents").cast("double")
                / F.col("first_cents").cast("double")
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("growth_ratio"),
    )


# ===========================================================================
# Wave Q — final four: dup-rate by length decile, pairwise-cosine
# histogram, Markov entropy rate, user type diversity.
# ===========================================================================
@register(
    "doc_dup_rate_by_length",
    oracle="""
    WITH dup AS (
      SELECT doc_id,
             CASE WHEN doc_id > min(doc_id) OVER (PARTITION BY md5(text))
                  THEN 1 ELSE 0 END AS is_dup
      FROM documents
    ),
    dec AS (
      SELECT d.doc_id, dup.is_dup,
             ntile(10) OVER (ORDER BY d.n_chars, d.doc_id) AS decile
      FROM documents d JOIN dup ON dup.doc_id = d.doc_id
    )
    SELECT CAST(decile AS BIGINT) AS length_decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_dup) AS BIGINT) AS n_duplicates,
           floor(sum(is_dup) * 1.0e6 / count(*) + 0.5) / 1.0e6 AS dup_rate
    FROM dec GROUP BY 1
    """,
)
def doc_dup_rate_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are duplicates concentrated among short documents (the usual
    boilerplate signature)? Exact-digest dup flag (non-keeper copies)
    crossed with length deciles — the composition of the exact-dedup
    and decile primitives already live, as one diagnostic. Round-9
    migration: the deciles come from ntile_two_pass (the global
    ntile(10) window would sort ALL docs in one task; the two-pass form
    is bit-identical to the builtin, same migration doc_length_deciles
    took in round 8)."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ntile_two_pass,
    )

    docs = _t(spark, sf_dir, "documents")
    wdig = Window.partitionBy(F.md5(F.col("text")))
    dup = docs.select(
        "doc_id",
        "n_chars",
        F.when(F.col("doc_id") > F.min("doc_id").over(wdig), 1)
        .otherwise(0)
        .alias("is_dup"),
    )
    dec = ntile_two_pass(dup, "n_chars", "doc_id", 10, out_col="decile")
    return dec.groupBy(F.col("decile").cast("long").alias("length_decile")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("is_dup").cast("long").alias("n_duplicates"),
        (F.floor(F.sum("is_dup") * 1.0e6 / F.count(F.lit(1)) + 0.5) / 1.0e6).alias(
            "dup_rate"
        ),
    )


@register(
    "embedding_pair_distance_histogram",
    oracle="""
    WITH s AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE vec_id < 100
    ),
    pairs AS (
      SELECT round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
      FROM s a JOIN s b ON a.vec_id < b.vec_id
    )
    SELECT CAST(floor(cos_sim * 10.0) AS BIGINT) AS cos_band,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1
    """,
)
def embedding_pair_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine histogram over a deterministic 100-vector probe
    sample (4950 pairs — bounded by construction, the one place an
    all-pairs join is the intended plan): the separability profile that
    calibrates every LSH/IVF threshold choice. Bands of 0.1 on the
    4-dp-rounded cosine."""
    from cioos_siooc_data_transform_spark.operators.similarity import cosine_expr

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pairs = (
        a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
        .select(F.round(cosine_expr("va", "vb"), 4).alias("cos_sim"))
    )
    return pairs.groupBy(
        F.floor(F.col("cos_sim") * 10.0).cast("long").alias("cos_band")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))


@register(
    "events_markov_entropy_rate",
    oracle="""
    WITH t AS (
      SELECT prev, next, CAST(count(*) AS BIGINT) AS c
      FROM (
        SELECT lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev,
               event_type AS next
        FROM events
      ) WHERE prev IS NOT NULL
      GROUP BY 1, 2
    ),
    rt AS (SELECT prev, CAST(sum(c) AS BIGINT) AS total FROM t GROUP BY 1),
    terms AS (
      SELECT t.prev,
             CAST(floor(CAST(t.c AS DOUBLE) / CAST(rt.total AS DOUBLE)
                        * ln(CAST(rt.total AS DOUBLE) / CAST(t.c AS DOUBLE))
                        * 1.0e12 + 0.5) AS HUGEINT) AS hq
      FROM t JOIN rt USING (prev)
    ),
    hrow AS (
      SELECT prev, CAST(sum(hq) AS HUGEINT) AS row_h FROM terms GROUP BY 1
    ),
    pi AS (
      SELECT rt.prev, rt.total,
             CAST((SELECT sum(total) FROM rt) AS BIGINT) AS grand
      FROM rt
    )
    SELECT CAST(count(*) AS BIGINT) AS n_states,
           floor(sum(CAST(floor(CAST(pi.total AS DOUBLE) / CAST(pi.grand AS DOUBLE)
                                * CAST(hrow.row_h AS DOUBLE) + 0.5) AS HUGEINT))
                 / 1.0e6 + 0.5) / 1.0e6 AS entropy_rate_nats
    FROM pi JOIN hrow USING (prev)
    """,
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user-journey chain: H = sum_s pi(s) H(row_s)
    with pi approximated by the empirical source distribution (exact
    rationals) and each row entropy's terms quantized to pico-nats
    before summation — how predictable the NEXT event is given the
    current one (ln(5) ~ 1.609 nats = memoryless). All aggregates are
    exact integer sums over the 5x5 transition table."""
    t, rt = _transition_counts(spark, sf_dir)
    j = t.join(rt, F.col("prev") == F.col("rprev"))
    hq = F.floor(
        F.col("c").cast("double")
        / F.col("total").cast("double")
        * F.log(F.col("total").cast("double") / F.col("c").cast("double"))
        * 1.0e12
        + 0.5
    ).cast("decimal(38,0)")
    hrow = j.groupBy("prev").agg(F.sum(hq).alias("row_h"))
    grand = rt.agg(F.sum("total").cast("long").alias("grand"))
    pi = rt.crossJoin(F.broadcast(grand)).select(
        F.col("rprev").alias("prev"), "total", "grand"
    )
    weighted = pi.join(hrow, "prev").select(
        F.floor(
            F.col("total").cast("double")
            / F.col("grand").cast("double")
            * F.col("row_h").cast("double")
            + 0.5
        )
        .cast("decimal(38,0)")
        .alias("wq")
    )
    return weighted.agg(
        F.count(F.lit(1)).cast("long").alias("n_states"),
        (
            F.floor(F.sum("wq").cast("double") / 1.0e6 + 0.5) / 1.0e6
        ).alias("entropy_rate_nats"),
    )


@register(
    "events_user_type_diversity",
    oracle="""
    WITH d AS (
      SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
      FROM events GROUP BY 1
    )
    SELECT n_types, CAST(count(*) AS BIGINT) AS n_users
    FROM d GROUP BY 1
    """,
)
def events_user_type_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many distinct event types each user touches (1-5), as a
    histogram — the engagement-breadth distribution. Two map-side-
    combinable aggs."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy("user_id").agg(
        F.countDistinct("event_type").cast("long").alias("n_types")
    )
    return d.groupBy("n_types").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
