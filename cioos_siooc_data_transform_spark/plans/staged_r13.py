"""Round-13 query slate: 50 live queries, each registered at import
with ``register``; strict-harness coverage in tests/test_staged_r13.py.

Content:
- Wave A — CT-from-rho Newton inversion, Atkinson index, seasonal
  Mann-Kendall, kNN mutuality.
- Wave B — malformed-file error-isolation audit (third self-authored
  IOS sample — the reference's exit() crash case survives as an error
  row), Neyman allocation, partsupp margin audit, lead-time
  consistency.
- Wave C — Page-Hinkley sequential drift, Friedman DOW test, LSH
  precision audit, multilingual-doc audit.
- Wave D — residual Ljung-Box (backtest adequacy), langid
  stopword-budget sweep, churn-window sweep, shingle-size sweep.
- Wave E — purchase clumpiness, cosine-label AUC (Mann-Whitney
  identity), semantic tau sweep, truncation-loss audit.
- Wave F — Weibull shape from the probability plot, near-dup quality
  association, header completeness, potential enthalpy of ice at
  freezing.
- Wave G — nation rank-stability tau, seasonal-amplitude growth,
  char-trigram language affinity.
- Wave H — PSI drift, hub-removal percolation robustness,
  sampled-pair quadratic bias.
- Wave I — exact-Gibbs (IAPWS-08/Feistel-2008) *_t_exact surfaces:
  specvol/rho, sound speed, isothermal compressibility, thermal/haline
  expansion wrt in-situ t, enthalpy, potential density, chemical
  potential of water + dilution coefficient — all symbolic derivatives
  of the ONE published Gibbs table (functions/teos10.py::gibbs_sw_sql).
- Wave J — PSS-78 battery: SP↔conductivity (modified-Newton inverse),
  Hill ratio at SP = 2, Reference/Knudsen salinity scale conversions.
- Wave K — freezing polynomial family: CT_freezing_poly (± air
  saturation), t_freezing_poly (Newton on ct_from_t),
  SA_freezing_from_CT_poly (Newton on the polynomial), first
  derivatives via symdiff.
- Wave L — Saunders-1981 height/pressure conversions (z_from_p,
  p_from_z with the standard-ocean enthalpy/specvol integrals).
- Wave M — CT/entropy from pt, ice-melt equilibrium SA/CT ratio
  (75-term enthalpy + IAPWS-06 ice composition), adiabatic lapse rate
  from CT.

Plan audit (plan_guards.find_unpartitioned_windows at sf0.001): ONE
bounded hit — events_page_hinkley_drift ("runs over the per-DAY rollup
crossed with 1-row broadcast scalars (calendar-bounded axis)"),
allowlisted in tests/test_plans.py; everything else is detector-clean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cioos_siooc_data_transform_spark.plans.staged_r11 import _stage_sql_cte
from cioos_siooc_data_transform_spark.plans.registry import register
from cioos_siooc_data_transform_spark.session import read_table as _t


# ===========================================================================
# Wave A — density inversion in CT, welfare inequality, seasonal
# Mann-Kendall, kNN mutuality.
# ===========================================================================
def _ct_from_rho_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.teos10 import rho_sql

    x = "__cfr_"
    stages: list[tuple[str, str]] = [
        # roundtrip target: rho at the grid (sa, ct, p)
        (f"{x}target", rho_sql("sa", "ct", "p")),
        (f"{x}ct0", "15.0e0"),
    ]
    for k in (1, 2, 3):
        prev = f"{x}ct{k - 1}"
        stages += [
            (f"{x}r{k}", rho_sql("sa", prev, "p")),
            (f"{x}rp{k}", rho_sql("sa", f"({prev} + 0.01e0)", "p")),
            (f"{x}rm{k}", rho_sql("sa", f"({prev} - 0.01e0)", "p")),
            (
                f"{x}ct{k}",
                f"({prev} - ({x}r{k} - {x}target)"
                f" / (({x}rp{k} - {x}rm{k}) / 0.02e0))",
            ),
        ]
    stages.append(("ct_from_rho", f"{x}ct3"))
    return stages


def _ct_from_rho_oracle() -> str:
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
    staged = _stage_sql_cte(inner, _ct_from_rho_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(ct_from_rho * 1.0e9 + 0.5) / 1.0e9 AS ct_from_rho
    FROM ({staged})
    """


@register("gsw_ct_from_rho", oracle=_ct_from_rho_oracle())
def gsw_ct_from_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conservative Temperature from in-situ density (GSW twin:
    gsw_CT_from_rho): Newton on the 75-term rho(SA, CT, p) with a
    central-FD derivative (eps = 0.01 K, the sa_from_rho recipe), three
    steps from CT0 = 15 °C — drho/dCT = −rho·alpha is smaller and more
    variable than the SA slope, hence one extra step; the target rho
    comes from the forward polynomial at the grid (roundtrip contract).
    NOTE: in the warm low-density regime rho(CT) is non-monotone near
    the temperature of maximum density, but the synthetic envelope
    (CT >= ~0.3 °C, SA >= 30) stays on the monotone branch — the same
    envelope statement the other inversions carry. Twelve small Horner
    evaluations, zero shuffle."""
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
    for name, expr in _ct_from_rho_stages():
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("ct_from_rho") * 1.0e9 + 0.5) / 1.0e9).alias(
            "ct_from_rho"
        ),
    )


@register(
    "customer_spend_atkinson_index",
    oracle="""
    WITH s AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS HUGEINT) AS cents
      FROM orders GROUP BY 1
    ),
    a AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, sum(cents) AS tot,
             CAST(sum(CAST(floor(ln(CAST(cents AS DOUBLE)) * 1.0e9 + 0.5)
                           AS HUGEINT)) AS DOUBLE) / 1.0e9 AS sum_ln
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           floor(CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) / 100.0e0 * 1.0e2
                 + 0.5) / 1.0e2 AS mean_spend_dollars,
           floor(exp(sum_ln / CAST(n AS DOUBLE)) / 100.0e0 * 1.0e2 + 0.5)
             / 1.0e2 AS geomean_spend_dollars,
           floor((1.0e0 - exp(sum_ln / CAST(n AS DOUBLE))
                  / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)))
                 * 1.0e6 + 0.5) / 1.0e6 AS atkinson_eps1
    FROM a
    """,
)
def customer_spend_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index at inequality-aversion ε = 1:
    A = 1 − geomean/mean of per-customer total spend — the welfare-
    economics member of the inequality battery (Gini weights transfers
    uniformly, Theil is entropy-based, Atkinson makes the social
    trade-off explicit: A = 0.3 means society would give up 30% of
    total spend for perfect equality). Per-customer ln(spend) quantizes
    to 1e-9 before the exact sum (the geomean is exp of an exact-sum
    mean). Spend > 0 by construction (every customer has >= 1 priced
    order)."""
    o = _t(spark, sf_dir, "orders")
    s = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("decimal(38,0)")
        .alias("cents")
    )
    a = s.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").alias("tot"),
        (
            F.sum(
                F.floor(F.log(F.col("cents").cast("double")) * 1.0e9 + 0.5)
                .cast("decimal(38,0)")
            ).cast("double")
            / 1.0e9
        ).alias("sum_ln"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("tot").cast("double") / nd
    geo = F.exp(F.col("sum_ln") / nd)
    return a.select(
        F.col("n").cast("long").alias("n_customers"),
        (F.floor(mean / 100.0 * 1.0e2 + 0.5) / 1.0e2).alias(
            "mean_spend_dollars"
        ),
        (F.floor(geo / 100.0 * 1.0e2 + 0.5) / 1.0e2).alias(
            "geomean_spend_dollars"
        ),
        (F.floor((F.lit(1.0) - geo / mean) * 1.0e6 + 0.5) / 1.0e6).alias(
            "atkinson_eps1"
        ),
    )


@register(
    "orders_seasonal_mann_kendall",
    oracle="""
    WITH m AS (
      SELECT year(o_orderdate) AS yr, month(o_orderdate) AS moy,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.moy,
             CASE WHEN b.rev > a.rev THEN 1
                  WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn
      FROM m a JOIN m b ON a.moy = b.moy AND a.yr < b.yr
    ),
    per AS (
      SELECT moy, CAST(sum(sgn) AS BIGINT) AS s_m,
             CAST(count(*) AS BIGINT) AS n_pairs,
             (SELECT CAST(count(*) AS DOUBLE) FROM m mm
              WHERE mm.moy = pairs.moy) AS n_m
      FROM pairs GROUP BY moy
    ),
    t AS (
      SELECT CAST(sum(s_m) AS BIGINT) AS s,
             sum(n_m * (n_m - 1.0e0) * (2.0e0 * n_m + 5.0e0) / 18.0e0)
               AS var_s,
             CAST(sum(n_pairs) AS BIGINT) AS n_pairs
      FROM per
    )
    SELECT s AS mk_s, n_pairs,
           floor(var_s * 1.0e3 + 0.5) / 1.0e3 AS var_s,
           floor((CASE WHEN s > 0 THEN s - 1.0e0
                       WHEN s < 0 THEN s + 1.0e0 ELSE 0.0e0 END)
                 / sqrt(var_s) * 1.0e6 + 0.5) / 1.0e6 AS z_stat
    FROM t
    """,
)
def orders_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann–Kendall trend test (Hirsch & Slack 1984): the MK S
    statistic computed WITHIN each month-of-year series (so the annual
    cycle cannot masquerade as trend) and summed, with the no-ties
    variance Σ n(n−1)(2n+5)/18 and the continuity-corrected z — the
    nonparametric trend test hydrology standardized on, complementing
    Theil–Sen (which estimates the slope this tests). Pairwise sign
    comparisons are within-month across years: quadratic in YEARS, not
    rows; all counts exact."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("moy")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("rev")
    )
    a = m.select("moy", F.col("yr").alias("ya"), F.col("rev").alias("ra"))
    b = m.select(
        F.col("moy").alias("moy2"), F.col("yr").alias("yb"), F.col("rev").alias("rb")
    )
    pairs = a.join(
        b, (F.col("moy") == F.col("moy2")) & (F.col("ya") < F.col("yb"))
    ).select(
        "moy",
        F.when(F.col("rb") > F.col("ra"), 1)
        .when(F.col("rb") < F.col("ra"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    nm = m.groupBy("moy").agg(F.count(F.lit(1)).cast("double").alias("n_m"))
    per = (
        pairs.groupBy("moy")
        .agg(
            F.sum("sgn").cast("long").alias("s_m"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
        .join(F.broadcast(nm), "moy")
    )
    t = per.agg(
        F.sum("s_m").cast("long").alias("s"),
        F.sum(
            F.col("n_m")
            * (F.col("n_m") - F.lit(1.0))
            * (F.lit(2.0) * F.col("n_m") + F.lit(5.0))
            / F.lit(18.0)
        ).alias("var_s"),
        F.sum("n_pairs").cast("long").alias("n_pairs"),
    )
    s = F.col("s")
    corr = (
        F.when(s > 0, s - F.lit(1.0))
        .when(s < 0, s + F.lit(1.0))
        .otherwise(F.lit(0.0))
    )
    return t.select(
        s.alias("mk_s"),
        "n_pairs",
        (F.floor(F.col("var_s") * 1.0e3 + 0.5) / 1.0e3).alias("var_s"),
        (
            F.floor(corr / F.sqrt(F.col("var_s")) * 1.0e6 + 0.5) / 1.0e6
        ).alias("z_stat"),
    )


@register(
    "embedding_knn_mutuality",
    oracle="""
    WITH sub AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 500
    ),
    nn AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.v, c.v), 4) DESC,
                          c.vec_id ASC
               ) AS rank
        FROM sub q, sub c WHERE c.vec_id != q.vec_id
      ) WHERE rank <= 10
    ),
    mut AS (
      SELECT a.query_id, a.neighbor_id
      FROM nn a JOIN nn b
        ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
    ),
    t AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM nn) AS n_edges,
             (SELECT CAST(count(*) AS BIGINT) FROM mut) AS n_mutual
    )
    SELECT n_edges, n_mutual,
           floor(CAST(n_mutual AS DOUBLE) / n_edges * 1.0e6 + 0.5) / 1.0e6
             AS mutuality_rate
    FROM t
    """,
)
def embedding_knn_mutuality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutuality rate of the 10-NN graph: the share of directed kNN
    edges whose reverse edge also exists — low mutuality is the other
    face of hubness (hubs are everyone's neighbor but reciprocate
    almost no one) and decides whether a mutual-kNN graph (the standard
    denoising for clustering/UMAP-style pipelines) keeps enough edges
    to stay connected. Same bounded probe subset and engine-stable
    neighbor contract as the hubness audit; the mutual check is one
    self equi-join on reversed keys."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    sub = emb.filter(F.col("vec_id") < 500)
    nn = brute_force_topk(sub, sub, k=10, round_dp=4).select(
        "query_id", "neighbor_id"
    )
    rev = nn.select(
        F.col("neighbor_id").alias("query_id"),
        F.col("query_id").alias("neighbor_id"),
    )
    mut = nn.join(rev, ["query_id", "neighbor_id"])
    ne = nn.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    nm = mut.agg(F.count(F.lit(1)).cast("long").alias("n_mutual"))
    return ne.crossJoin(F.broadcast(nm)).select(
        "n_edges",
        "n_mutual",
        (
            F.floor(
                F.col("n_mutual").cast("double") / F.col("n_edges") * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("mutuality_rate"),
    )


# ===========================================================================
# Wave B — error isolation, optimal allocation, margin and lead-time
# audits.
# ===========================================================================
#: Self-authored MALFORMED sample: unknown timezone 'XQZ' — the
#: reference's documented crash case (IDT/ObsFile.py kills the batch;
#: this engine yields an error row instead).
SAMPLE_IOS_BAD = """*2024/03/01 08:00:00.00
*IOS HEADER VERSION 2.0      2016/04/28 2016/06/13

*FILE
    START TIME          : XQZ 2024/02/15 00:00:00.000
    TIME INCREMENT      : 0 0 30 0 0  ! (day hr min sec ms)
    NUMBER OF RECORDS   : 2
    DATA DESCRIPTION    : CTD
    PAD                 : -99
    NUMBER OF CHANNELS  : 1

    $TABLE: CHANNELS
    ! No Name                 Units           Minimum  Maximum
    !--- -------------------- --------------- -------- --------
       1 Pressure             decibar         1.0      2.0
    $END

    $TABLE: CHANNEL DETAIL
    ! No  Pad   Start  Width  Format  Type  Decimal_Places
    !---  ----  -----  -----  ------  ----  --------------
       1  -99   ' '        8  F       ' '     1
    $END

*END OF HEADER
     1.0
     2.0
"""


@register(
    "ios_malformed_file_audit",
    oracle="""
    SELECT * FROM (VALUES
      ('sample-2024-001-0007', TRUE,  CAST(NULL AS VARCHAR)),
      ('sample-2024-002-0003', TRUE,  CAST(NULL AS VARCHAR)),
      ('sample-bad',           FALSE, 'IosParseError')
    ) AS t(file_id, parsed_ok, error_class)
    ORDER BY file_id
    """,
)
def ios_malformed_file_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-isolation audit: parse a batch of two good IOS files plus
    one with the reference's documented crash case (an unknown START
    TIME timezone — IDT/ObsFile.py:140-155 calls exit() there, killing
    the whole batch) and assert the batch SURVIVES with a typed error
    row for the bad file and intact catalogs for the good ones — the
    single most important behavioral difference for a 100 TB archive
    ingest, pinned as a driver-checked query instead of only pytest.
    The oracle is the golden (file, ok, error-class) table."""
    from cioos_siooc_data_transform_spark.plans.ios_queries import (
        SAMPLE_IOS,
        _parse_cached,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r12 import (
        SAMPLE_IOS_MOORING,
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
    p3 = _parse_cached(
        spark, "sample_bad", "memory://sample-bad.ctd", SAMPLE_IOS_BAD
    )
    cols = ["file_id", "error"]
    allp = (
        p1.select(*cols).unionByName(p2.select(*cols)).unionByName(
            p3.select(*cols)
        )
    )
    return allp.select(
        "file_id",
        F.col("error").isNull().alias("parsed_ok"),
        F.regexp_extract(F.col("error"), "^([A-Za-z]+):", 1).alias("_ec"),
    ).select(
        "file_id",
        "parsed_ok",
        F.when(F.col("_ec") == "", F.lit(None).cast("string"))
        .otherwise(F.col("_ec"))
        .alias("error_class"),
    ).orderBy("file_id")


@register(
    "sample_neyman_allocation",
    oracle="""
    WITH d AS (
      SELECT lang,
             CAST(CAST(length(text) AS BIGINT) AS HUGEINT) AS n_chars
      FROM documents
    ),
    s AS (
      SELECT lang, CAST(count(*) AS HUGEINT) AS n, sum(n_chars) AS sx,
             sum(n_chars * n_chars) AS sxx
      FROM d GROUP BY lang
    ),
    f AS (
      SELECT lang, CAST(n AS DOUBLE) AS n,
             sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)))
               AS sd
      FROM s
    ),
    t AS (
      SELECT sum(n) AS nn, sum(n * sd) AS nsd FROM f
    )
    SELECT lang, CAST(n AS BIGINT) AS n_docs,
           floor(sd * 1.0e3 + 0.5) / 1.0e3 AS sd_chars,
           CAST(floor(1000.0e0 * n / nn + 0.5) AS BIGINT)
             AS alloc_proportional,
           CAST(floor(1000.0e0 * n * sd / nsd + 0.5) AS BIGINT)
             AS alloc_neyman
    FROM f, t ORDER BY lang
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation of a 1000-doc audit sample across
    language strata: n_h ∝ N_h·sigma_h (allocate more where the target
    variable — doc length — varies more) against the proportional
    baseline — the stratified-sampling theory that says WHERE the audit
    budget buys variance reduction, next to the balance audits that
    only check realized rates. Per-stratum sigma from exact integer
    sums; allocations floored to whole docs."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "lang", F.length("text").cast("decimal(38,0)").alias("n_chars")
    )
    s = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("n_chars").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    sxxd = F.col("sxx").cast("double")
    f = s.select(
        "lang",
        nd.alias("n"),
        F.sqrt((nd * sxxd - sxd * sxd) / (nd * (nd - F.lit(1.0)))).alias("sd"),
    )
    t = f.agg(
        F.sum("n").alias("nn"),
        F.sum(F.col("n") * F.col("sd")).alias("nsd"),
    )
    return (
        f.crossJoin(F.broadcast(t))
        .select(
            "lang",
            F.col("n").cast("long").alias("n_docs"),
            (F.floor(F.col("sd") * 1.0e3 + 0.5) / 1.0e3).alias("sd_chars"),
            F.floor(F.lit(1000.0) * F.col("n") / F.col("nn") + 0.5)
            .cast("long")
            .alias("alloc_proportional"),
            F.floor(
                F.lit(1000.0) * F.col("n") * F.col("sd") / F.col("nsd") + 0.5
            )
            .cast("long")
            .alias("alloc_neyman"),
        )
        .orderBy("lang")
    )


def _part_margin_oracle() -> str:
    from cioos_siooc_data_transform_spark.sources.partsupp import PARTSUPP_CTE

    return f"""
    WITH {PARTSUPP_CTE},
    best AS (
      SELECT ps_partkey, CAST(min(ps_supplycost_cents) AS BIGINT)
               AS cost_cents
      FROM partsupp GROUP BY 1
    ),
    j AS (
      SELECT p_brand,
             CAST(floor((CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT)
                         - cost_cents) * 1.0e6
                        / CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT)
                        + 0.5) AS BIGINT) AS margin_u
      FROM part JOIN best ON p_partkey = ps_partkey
    )
    SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
           floor(CAST(sum(margin_u) AS DOUBLE) / count(*) + 0.5) / 1.0e6
             AS mean_margin,
           min(margin_u) / 1.0e6 AS min_margin,
           CAST(count(*) FILTER (margin_u < 0) AS BIGINT) AS n_below_cost
    FROM j GROUP BY p_brand ORDER BY p_brand
    """


@register("part_margin_audit", oracle=_part_margin_oracle())
def part_margin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gross-margin audit over the derived partsupp: per brand, the
    mean and minimum relative margin (retail − min supply cost)/retail
    — negative minimum margin flags parts listed below their cheapest
    sourcing cost (pricing errors or loss leaders), the
    procurement-meets-pricing readout built on the spec's
    partsupp⋈part topology. Integer cents; per-part margins quantize
    to 1e-6 before the exact brand mean."""
    from cioos_siooc_data_transform_spark.sources.partsupp import (
        ensure_partsupp,
    )

    ps = ensure_partsupp(spark, sf_dir)
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.floor(F.col("p_retailprice") * 100.0 + 0.5)
        .cast("long")
        .alias("retail_cents"),
    )
    best = ps.groupBy("ps_partkey").agg(
        F.min("ps_supplycost_cents").cast("long").alias("cost_cents")
    )
    j = part.join(best, part["p_partkey"] == best["ps_partkey"]).select(
        "p_brand",
        F.floor(
            (F.col("retail_cents") - F.col("cost_cents")).cast("double")
            / F.col("retail_cents")
            * 1.0e6
            + 0.5
        )
        .cast("long")
        .alias("margin_u"),
    )
    return (
        j.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            (
                F.floor(
                    F.sum("margin_u").cast("double") / F.count(F.lit(1)) + 0.5
                )
                / 1.0e6
            ).alias("mean_margin"),
            (F.min("margin_u") / 1.0e6).alias("min_margin"),
            F.sum(F.when(F.col("margin_u") < 0, 1).otherwise(0))
            .cast("long")
            .alias("n_below_cost"),
        )
        .orderBy("p_brand")
    )


@register(
    "supplier_leadtime_consistency",
    oracle="""
    WITH lags AS (
      SELECT l_suppkey,
             CAST(datediff('day', CAST(o_orderdate AS DATE),
                           CAST(l_shipdate AS DATE)) AS HUGEINT) AS lag
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE l_shipdate >= o_orderdate
    ),
    per AS (
      SELECT l_suppkey, CAST(count(*) AS HUGEINT) AS n, sum(lag) AS s,
             sum(lag * lag) AS ss
      FROM lags GROUP BY 1 HAVING count(*) >= 20
    ),
    f AS (
      SELECT l_suppkey, CAST(n AS BIGINT) AS n_shipments,
             CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_lag,
             sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)))
               / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS cv
      FROM per
    )
    SELECT CAST(l_suppkey AS BIGINT) AS suppkey, n_shipments,
           floor(mean_lag * 1.0e3 + 0.5) / 1.0e3 AS mean_lag_days,
           floor(cv * 1.0e6 + 0.5) / 1.0e6 AS lag_cv
    FROM f ORDER BY cv DESC, suppkey LIMIT 15
    """,
)
def supplier_leadtime_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier lead-time consistency: the 15 suppliers with the most
    VARIABLE ship lags (CV of order-to-ship days, min 20 shipments) —
    safety-stock formulas scale with lead-time variance, so the
    inconsistent supplier costs more than the slow-but-steady one at
    the same mean; this ranking is the supply-chain readout that mean
    lag tables hide. Exact integer day moments per supplier."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    lags = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            "l_suppkey",
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            )
            .cast("decimal(38,0)")
            .alias("lag"),
        )
    )
    per = (
        lags.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("lag").alias("s"),
            F.sum(F.col("lag") * F.col("lag")).alias("ss"),
        )
        .filter(F.col("n") >= 20)
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    mean = sd / nd
    cv = F.sqrt((nd * ssd - sd * sd) / (nd * (nd - F.lit(1.0)))) / mean
    return (
        per.select(
            F.col("l_suppkey").cast("long").alias("suppkey"),
            F.col("n").cast("long").alias("n_shipments"),
            (F.floor(mean * 1.0e3 + 0.5) / 1.0e3).alias("mean_lag_days"),
            (F.floor(cv * 1.0e6 + 0.5) / 1.0e6).alias("lag_cv"),
        )
        .orderBy(F.col("lag_cv").desc(), "suppkey")
        .limit(15)
    )


# ===========================================================================
# Wave C — sequential drift, blocked ranks, candidate precision,
# language-mix audit.
# ===========================================================================
@register(
    "events_page_hinkley_drift",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n) AS DOUBLE) / count(*) AS mu FROM d),
    ph0 AS (
      SELECT day, sum(n - mu - 5.0e0) OVER w AS m_t
      FROM d, t
      WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
    ),
    ph AS (
      SELECT day, m_t,
             min(m_t) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS m_min
      FROM ph0
    ),
    s AS (
      SELECT day,
             CAST(floor((m_t - m_min) * 1.0e6 + 0.5) AS BIGINT) AS ph_u
      FROM ph
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           floor(CAST(max(ph_u) AS DOUBLE) / 1.0e6 * 1.0e3 + 0.5) / 1.0e3
             AS ph_max,
           min(CASE WHEN ph_u > 50000000 THEN day END) AS first_alarm_day
    FROM s
    """,
)
def events_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley drift detector on daily event counts: PH_t =
    m_t − min_{s<=t} m_s with m_t = Σ(x_i − mean − delta), delta = 5
    events of slack — the SEQUENTIAL alarm (first day the statistic
    crosses lambda = 50) that complements the retrospective CUSUM
    changepoint locator: one finds when you WOULD have known, the other
    where the break was. Running sums and running minima over the
    calendar-bounded day table (the documented idiom); the statistic
    quantizes to 1e-6 before the threshold compare so the alarm day is
    engine-exact."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = d.agg((F.sum("n").cast("double") / F.count(F.lit(1))).alias("mu"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    ph = d.crossJoin(F.broadcast(t)).withColumn(
        "m_t", F.sum(F.col("n") - F.col("mu") - F.lit(5.0)).over(w)
    )
    ph = ph.withColumn("m_min", F.min("m_t").over(w))
    s = ph.select(
        "day",
        F.floor((F.col("m_t") - F.col("m_min")) * 1.0e6 + 0.5)
        .cast("long")
        .alias("ph_u"),
    )
    return s.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        (
            F.floor(F.max("ph_u").cast("double") / 1.0e6 * 1.0e3 + 0.5)
            / 1.0e3
        ).alias("ph_max"),
        F.min(F.when(F.col("ph_u") > 50000000, F.col("day"))).alias(
            "first_alarm_day"
        ),
    )


@register(
    "events_friedman_dow_test",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    wk AS (
      SELECT (day + 4) // 7 AS week, (day + 4) % 7 AS dow, n FROM d
    ),
    full_weeks AS (
      SELECT week FROM wk GROUP BY week HAVING count(*) = 7
    ),
    r AS (
      SELECT wk.week, dow,
             CAST(rank() OVER (PARTITION BY wk.week ORDER BY n)
                  AS BIGINT) AS rk
      FROM wk JOIN full_weeks USING (week)
    ),
    per AS (
      SELECT dow, CAST(sum(rk) AS BIGINT) AS r_j,
             CAST(count(*) AS BIGINT) AS b
      FROM r GROUP BY dow
    ),
    t AS (
      SELECT CAST(max(b) AS DOUBLE) AS b,
             sum(CAST(r_j AS DOUBLE) * CAST(r_j AS DOUBLE)) AS sr2
      FROM per
    )
    SELECT CAST(b AS BIGINT) AS n_weeks,
           floor((12.0e0 / (b * 7.0e0 * 8.0e0) * sr2
                  - 3.0e0 * b * 8.0e0) * 1.0e6 + 0.5) / 1.0e6
             AS friedman_chi2
    FROM t
    """,
)
def events_friedman_dow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test for a day-of-week effect: within each FULL
    week (the block) the 7 daily counts are ranked, and chi² =
    12/(b·k(k+1))·ΣR_j² − 3b(k+1) tests whether some weekday
    systematically ranks higher — the repeated-measures nonparametric
    ANOVA that the two-way η² (mean-based) cannot replace when counts
    are skewed. Ranks are per-week windows (blocks of 7, bounded);
    epoch day + 4 aligns day 0 (1970-01-01, a Thursday) so dow 0 =
    Monday on both engines."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    wk = d.select(
        ((F.col("day") + 4) / 7).cast("long").alias("week"),
        ((F.col("day") + 4) % 7).alias("dow"),
        "n",
    )
    full_weeks = wk.groupBy("week").agg(
        F.count(F.lit(1)).alias("cnt")
    ).filter(F.col("cnt") == 7).select("week")
    wrank = Window.partitionBy("week").orderBy("n")
    r = wk.join(F.broadcast(full_weeks), "week").select(
        "week", "dow", F.rank().over(wrank).cast("long").alias("rk")
    )
    per = r.groupBy("dow").agg(
        F.sum("rk").cast("long").alias("r_j"),
        F.count(F.lit(1)).cast("long").alias("b"),
    )
    t = per.agg(
        F.max("b").cast("double").alias("b"),
        F.sum(F.col("r_j").cast("double") * F.col("r_j").cast("double")).alias(
            "sr2"
        ),
    )
    return t.select(
        F.col("b").cast("long").alias("n_weeks"),
        (
            F.floor(
                (
                    F.lit(12.0)
                    / (F.col("b") * F.lit(7.0) * F.lit(8.0))
                    * F.col("sr2")
                    - F.lit(3.0) * F.col("b") * F.lit(8.0)
                )
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("friedman_chi2"),
    )


def _lsh_precision_oracle() -> str:
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
    sig AS (SELECT doc_id, {sig_cols} FROM f GROUP BY doc_id),
    bk AS ({buckets}),
    gd AS (
      SELECT doc_id, bucket FROM (
        SELECT doc_id, bucket, count(*) OVER (PARTITION BY bucket) AS _n
        FROM bk
      ) WHERE _n <= 50
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM gd a JOIN gd b USING (bucket)
      WHERE a.doc_id < b.doc_id
    ),
    jac AS (
      SELECT c.doc_a, c.doc_b,
             CAST(round(count(*) / (sa.n + sb.n - count(*)), 6) * 1000000
                  AS BIGINT) AS j_u
      FROM cand c
      JOIN f a ON a.doc_id = c.doc_a
      JOIN f b ON b.doc_id = c.doc_b AND b.s = a.s
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      GROUP BY c.doc_a, c.doc_b, sa.n, sb.n
    ),
    nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand)
    SELECT nc.n_candidates,
           CAST(count(*) AS BIGINT) AS n_scored,
           CAST(count(*) FILTER (j_u >= 500000) AS BIGINT) AS n_true,
           floor(CAST(count(*) FILTER (j_u >= 500000) AS DOUBLE)
                 / nc.n_candidates * 1.0e6 + 0.5) / 1.0e6 AS precision_at_05,
           floor(CAST(sum(j_u) AS DOUBLE) / count(*) + 0.5) / 1.0e6
             AS mean_candidate_jaccard
    FROM jac, nc GROUP BY nc.n_candidates
    """


@register("dedup_lsh_precision_audit", oracle=_lsh_precision_oracle())
def dedup_lsh_precision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision side of the LSH candidate pipeline: among the 4x4-band
    cap-50 candidates (the registered production config), the share
    whose EXACT Jaccard reaches the 0.5 dedup threshold — recall says
    what the bands miss, precision says how much confirm-join work the
    bands waste (1/precision = exact-Jaccard evaluations per accepted
    pair). Candidates with zero shared capped shingles score 0 via the
    inverted-index join (absent pairs are below threshold by
    construction); mean candidate Jaccard quantizes per pair before the
    exact mean."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        lsh_band_buckets,
        lsh_candidate_pairs,
        minhash_signature,
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
    sig = minhash_signature(f, "doc_id", "s", num_hashes=16, hash_family="md5")
    cand = lsh_candidate_pairs(
        lsh_band_buckets(sig, "doc_id", num_hashes=16, bands=4),
        "doc_id",
        max_bucket_size=50,
    )
    sizes = f.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    fa = f.select(F.col("doc_id").alias("doc_a"), "s")
    fb = f.select(F.col("doc_id").alias("b_id"), F.col("s").alias("s2"))
    jac = (
        cand.join(fa, "doc_a")
        .join(fb, (F.col("doc_b") == F.col("b_id")) & (F.col("s") == F.col("s2")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            (
                F.round(
                    F.col("n_common")
                    / (F.col("na") + F.col("nb") - F.col("n_common")),
                    6,
                )
                * 1000000
            )
            .cast("long")
            .alias("j_u")
        )
    )
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    return (
        jac.crossJoin(F.broadcast(nc))
        .groupBy("n_candidates")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            F.sum(F.when(F.col("j_u") >= 500000, 1).otherwise(0))
            .cast("long")
            .alias("n_true"),
            (
                F.floor(
                    F.sum(
                        F.when(F.col("j_u") >= 500000, 1).otherwise(0)
                    ).cast("double")
                    / F.col("n_candidates")
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("precision_at_05"),
            (
                F.floor(F.sum("j_u").cast("double") / F.count(F.lit(1)) + 0.5)
                / 1.0e6
            ).alias("mean_candidate_jaccard"),
        )
        .select(
            "n_candidates",
            "n_scored",
            "n_true",
            "precision_at_05",
            "mean_candidate_jaccard",
        )
    )


def _multilingual_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.registry import ORACLES

    return f"""
    WITH li AS ({ORACLES["text_langid"]}),
    s AS (
      SELECT list_sort([en_hits, es_hits, fr_hits, de_hits]) AS hs FROM li
    ),
    cls AS (
      SELECT CASE
               WHEN hs[4] = 0 THEN 'c_no_signal'
               WHEN hs[3] * 2 >= hs[4] THEN 'b_multilingual'
               ELSE 'a_monolingual'
             END AS mix_class
      FROM s
    ),
    t AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM cls)
    SELECT mix_class, CAST(count(*) AS BIGINT) AS n_docs,
           floor(CAST(count(*) AS DOUBLE) / nd * 1.0e6 + 0.5) / 1.0e6
             AS share
    FROM cls, t GROUP BY mix_class, nd ORDER BY mix_class
    """


@register("text_multilingual_doc_audit", oracle=_multilingual_oracle())
def text_multilingual_doc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix audit: docs whose runner-up language scores at
    least HALF the top language's stopword hits are flagged
    multilingual (code-switched or concatenated-crawl documents — the
    docs that single-label language filtering silently mis-routes),
    next to no-signal docs the identifier cannot claim at all. Same
    stopword-hit machinery as the langid family, classified by the
    sorted hit vector; one pass, bounded 3-row output."""
    from cioos_siooc_data_transform_spark.operators.text import (
        lang_hit_counts,
        words_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    hits = lang_hit_counts(words_expr(F.col("text")))
    hs = F.array_sort(
        F.array(*[hits[lg] for lg in ["en", "es", "fr", "de"]])
    )
    cls = docs.select(
        F.when(F.element_at(hs, 4) == 0, "c_no_signal")
        .when(
            F.element_at(hs, 3) * 2 >= F.element_at(hs, 4), "b_multilingual"
        )
        .otherwise("a_monolingual")
        .alias("mix_class")
    )
    t = cls.agg(F.count(F.lit(1)).cast("double").alias("nd"))
    return (
        cls.groupBy("mix_class")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .crossJoin(F.broadcast(t))
        .select(
            "mix_class",
            "n_docs",
            (
                F.floor(
                    F.col("n_docs").cast("double") / F.col("nd") * 1.0e6 + 0.5
                )
                / 1.0e6
            ).alias("share"),
        )
        .orderBy("mix_class")
    )


# ===========================================================================
# Wave D — model-adequacy diagnostics and definition sweeps.
# ===========================================================================
@register(
    "orders_backtest_residual_ljungbox",
    oracle="""
    WITH m AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS ym,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT cur.ym, CAST(cur.rev - prev.rev AS BIGINT) AS e
      FROM m cur JOIN m prev ON cur.ym = prev.ym + 12
    ),
    lags AS (SELECT unnest(generate_series(1, 6)) AS k),
    base AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(e) AS DOUBLE) / count(*) AS mu,
             sum(CAST(e AS DOUBLE) * e)
               - count(*) * (CAST(sum(e) AS DOUBLE) / count(*))
                          * (CAST(sum(e) AS DOUBLE) / count(*)) AS c0
      FROM r
    ),
    rho AS (
      SELECT k,
             sum((a.e - mu) * (b.e - mu)) / c0 AS rho_k
      FROM lags, base, r a JOIN r b ON b.ym = a.ym + lags.k
      GROUP BY k, c0, mu
    )
    SELECT CAST(max(n) AS BIGINT) AS n_residuals,
           floor(max(n) * (max(n) + 2.0e0)
                 * sum(rho_k * rho_k / (n - k)) * 1.0e6 + 0.5) / 1.0e6
             AS lb_q6
    FROM rho, base
    """,
)
def orders_backtest_residual_ljungbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box Q(6) on the SEASONAL-NAIVE FORECAST RESIDUALS (rev_m −
    rev_{m−12}): the model-adequacy closing step of the backtest — the
    registered MAPE says how big the errors are, this says whether
    they're still autocorrelated (Q large => a better model exists;
    that's Hyndman's forecastability checklist, run on residuals, not
    the raw series like the registered events Ljung–Box). Lagged
    products via equi-joins on the integer month key over the bounded
    residual series."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("ym")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("rev")
    )
    prev = m.select(F.col("ym").alias("ym_p"), F.col("rev").alias("rev_p"))
    r = m.join(prev, F.col("ym") == F.col("ym_p") + 12).select(
        "ym", (F.col("rev") - F.col("rev_p")).alias("e")
    )
    base = r.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum("e").cast("double") / F.count(F.lit(1))).alias("mu"),
        (
            F.sum(F.col("e").cast("double") * F.col("e"))
            - F.count(F.lit(1))
            * (F.sum("e").cast("double") / F.count(F.lit(1)))
            * (F.sum("e").cast("double") / F.count(F.lit(1)))
        ).alias("c0"),
    )
    lags = spark.range(1, 7).select(F.col("id").alias("k"))
    a = r.select(F.col("ym").alias("ym_a"), F.col("e").alias("ea"))
    b = r.select(F.col("ym").alias("ym_b"), F.col("e").alias("eb"))
    rho = (
        lags.crossJoin(F.broadcast(base))
        .join(a, F.lit(True))
        .join(b, F.col("ym_b") == F.col("ym_a") + F.col("k"))
        .groupBy("k", "c0", "mu", "n")
        .agg(
            (
                F.sum((F.col("ea") - F.col("mu")) * (F.col("eb") - F.col("mu")))
                / F.first("c0")
            ).alias("rho_k")
        )
    )
    return rho.agg(
        F.max("n").cast("long").alias("n_residuals"),
        (
            F.floor(
                F.max("n")
                * (F.max("n") + F.lit(2.0))
                * F.sum(
                    F.col("rho_k") * F.col("rho_k") / (F.col("n") - F.col("k"))
                )
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("lb_q6"),
    )


def _langid_budget_oracle() -> str:
    from cioos_siooc_data_transform_spark.operators.text import (
        LANG_PRIORITY,
        LANG_STOPWORDS,
    )

    rows = []
    for budget in (4, 8):
        hits = ", ".join(
            f"""len(list_filter(string_split(lower(text), ' '),
                 x -> list_contains([{", ".join("'" + w + "'" for w in LANG_STOPWORDS[lg][:budget])}], x)))
               AS {lg}_hits"""
            for lg in LANG_PRIORITY
        )
        pred = "CASE "
        for i, lg in enumerate(LANG_PRIORITY):
            others = " AND ".join(
                f"{lg}_hits >= {o}_hits" for o in LANG_PRIORITY if o != lg
            )
            pred += f"WHEN {others} THEN '{lg}' "
        pred += "END"
        rows.append(f"""
    r{budget} AS (
      SELECT {budget} AS stopword_budget,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(*) FILTER (pred = lang) AS BIGINT) AS n_correct
      FROM (
        SELECT lang, {pred} AS pred FROM (
          SELECT lang, {hits} FROM documents
        )
      )
    )""")
    unions = " UNION ALL ".join(f"SELECT * FROM r{b}" for b in (4, 8))
    return f"""
    WITH {", ".join(r.strip() for r in rows)}
    SELECT CAST(stopword_budget AS BIGINT) AS stopword_budget, n_docs,
           n_correct,
           floor(CAST(n_correct AS DOUBLE) / n_docs * 1.0e6 + 0.5) / 1.0e6
             AS accuracy
    FROM ({unions}) ORDER BY stopword_budget
    """


@register("text_langid_stopword_budget", oracle=_langid_budget_oracle())
def text_langid_stopword_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-budget sweep of the language identifier: accuracy
    against the labeled lang column with only the FIRST 4 stopwords per
    language versus the full 8 — how much classifier the per-token
    membership test is worth (each stopword costs a list_contains per
    token at corpus scale, so half the list at equal accuracy halves
    the hot-path cost). Prediction rule mirrors the registered
    priority-order argmax; hit counting over lowercased whitespace
    tokens on both engines."""
    from cioos_siooc_data_transform_spark.operators.text import (
        LANG_PRIORITY,
        LANG_STOPWORDS,
    )

    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), " ")
    out = None
    for budget in (4, 8):
        def hit_counter(stop_list):
            # single-arg lambda: 2-arg functions become (element, index)
            # in F.filter and shadow the bound list (see memory note)
            return F.size(F.filter(words, lambda x: x.isin(*stop_list)))

        hits = {
            lg: hit_counter(LANG_STOPWORDS[lg][:budget])
            for lg in LANG_PRIORITY
        }
        pred = F.lit(None).cast("string")
        for lg in reversed(LANG_PRIORITY):
            cond = None
            for o in LANG_PRIORITY:
                if o == lg:
                    continue
                c = hits[lg] >= hits[o]
                cond = c if cond is None else (cond & c)
            pred = F.when(cond, lg).otherwise(pred)
        row = docs.select(
            (pred == F.col("lang")).alias("correct")
        ).agg(
            F.lit(budget).cast("long").alias("stopword_budget"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("correct"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
        ).select(
            "stopword_budget",
            "n_docs",
            "n_correct",
            (
                F.floor(
                    F.col("n_correct").cast("double")
                    / F.col("n_docs")
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("accuracy"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("stopword_budget")


_CHURN_WS = (6, 12, 18)


@register(
    "customer_churn_window_sweep",
    oracle=f"""
    WITH last_o AS (
      SELECT o_custkey,
             max(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS last_ym
      FROM orders GROUP BY 1
    ),
    mx AS (SELECT max(last_ym) AS end_ym FROM last_o),
    ws AS (SELECT unnest([{", ".join(str(w) for w in _CHURN_WS)}]) AS w)
    SELECT CAST(w AS BIGINT) AS window_months,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(count(*) FILTER (last_ym < end_ym - w) AS BIGINT)
             AS n_churned,
           floor(CAST(count(*) FILTER (last_ym < end_ym - w) AS DOUBLE)
                 / count(*) * 1.0e6 + 0.5) / 1.0e6 AS churn_rate
    FROM last_o, mx, ws GROUP BY w, end_ym ORDER BY w
    """,
)
def customer_churn_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-rate sensitivity to the inactivity-window definition: a
    customer is 'churned' if their last order predates the data horizon
    by more than 6/12/18 months — the definitional knob every churn
    dashboard hardcodes, swept so the metric owner sees how much of
    'churn' is just the window choice. One last-order aggregate, one
    1-row horizon broadcast, three threshold counts."""
    o = _t(spark, sf_dir, "orders")
    ym = F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
    last_o = o.groupBy("o_custkey").agg(F.max(ym).alias("last_ym"))
    mx = last_o.agg(F.max("last_ym").alias("end_ym"))
    ws = spark.range(0, 3).select(
        F.element_at(
            F.array(*[F.lit(w) for w in _CHURN_WS]), (F.col("id") + 1).cast("int")
        ).alias("w")
    )
    j = last_o.crossJoin(F.broadcast(mx)).crossJoin(F.broadcast(ws))
    churned = F.when(
        F.col("last_ym") < F.col("end_ym") - F.col("w"), 1
    ).otherwise(0)
    return (
        j.groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(churned).cast("long").alias("n_churned"),
        )
        .select(
            F.col("w").cast("long").alias("window_months"),
            "n_customers",
            "n_churned",
            (
                F.floor(
                    F.col("n_churned").cast("double")
                    / F.col("n_customers")
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("churn_rate"),
        )
        .orderBy("window_months")
    )


_SHINGLE_NS = (2, 3, 5)


def _shingle_size_oracle() -> str:
    rows = []
    for n in _SHINGLE_NS:
        join = " || ' ' || ".join(f"words[i+{j}]" for j in range(n))
        rows.append(f"""
    sh{n} AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(words) - {n - 1}, 0)),
                 i -> {join})) AS s
        FROM w
      )
    ),
    df{n} AS (SELECT s, count(*) AS c FROM sh{n} GROUP BY s),
    f{n} AS (SELECT sh{n}.doc_id, sh{n}.s FROM sh{n}
             JOIN df{n} USING (s) WHERE df{n}.c <= 10),
    sizes{n} AS (SELECT doc_id, count(*) AS nn FROM f{n} GROUP BY doc_id),
    pairs{n} AS (
      SELECT count(*) AS n_pairs FROM (
        SELECT a.doc_id, b.doc_id AS doc_b,
               round(count(*) / (sa.nn + sb.nn - count(*)), 6) AS j
        FROM f{n} a JOIN f{n} b ON a.s = b.s AND a.doc_id < b.doc_id
        JOIN sizes{n} sa ON sa.doc_id = a.doc_id
        JOIN sizes{n} sb ON sb.doc_id = b.doc_id
        GROUP BY a.doc_id, b.doc_id, sa.nn, sb.nn
      ) WHERE j >= 0.5
    ),
    r{n} AS (
      SELECT {n} AS shingle_n,
             (SELECT CAST(count(*) AS BIGINT) FROM df{n}) AS n_shingle_types,
             (SELECT CAST(n_pairs AS BIGINT) FROM pairs{n}) AS n_pairs
    )""")
    unions = " UNION ALL ".join(f"SELECT * FROM r{n}" for n in _SHINGLE_NS)
    return f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    {", ".join(r.strip() for r in rows)}
    SELECT CAST(shingle_n AS BIGINT) AS shingle_n, n_shingle_types, n_pairs
    FROM ({unions}) ORDER BY shingle_n
    """


@register("dedup_shingle_size_sweep", oracle=_shingle_size_oracle())
def dedup_shingle_size_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-size sweep — the FIFTH dedup knob (after threshold,
    hash width, band layout, bucket cap): near-dup pairs at exact
    Jaccard >= 0.5 with 2/3/5-word shingles. Short shingles match
    paraphrase but over-connect via common phrases; long ones only
    catch verbatim blocks — the pair counts quantify that trade on the
    actual corpus. Same hot-shingle-capped inverted-index machinery per
    point."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        ngram_jaccard_pairs,
        word_shingles,
    )
    from cioos_siooc_data_transform_spark.operators.text import words_expr

    docs = _t(spark, sf_dir, "documents")
    out = None
    for n in _SHINGLE_NS:
        sh = docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(word_shingles(words_expr(F.col("text")), n))
            ).alias("s"),
        )
        types = sh.select("s").distinct().agg(
            F.count(F.lit(1)).cast("long").alias("n_shingle_types")
        )
        pairs = ngram_jaccard_pairs(
            sh, "doc_id", "s", threshold=0.5, max_doc_freq=10
        ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        row = types.crossJoin(F.broadcast(pairs)).select(
            F.lit(n).cast("long").alias("shingle_n"),
            "n_shingle_types",
            "n_pairs",
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("shingle_n")


# ===========================================================================
# Wave E — behavioral clumpiness, label-separation AUC, semantic tau
# sweep, truncation-loss audit.
# ===========================================================================
@register(
    "customer_purchase_clumpiness",
    oracle="""
    WITH o AS (
      SELECT o_custkey,
             CAST(datediff('day', DATE '1992-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_custkey) AS n
      FROM orders
    ),
    g AS (
      SELECT o_custkey, n,
             CAST(d - lag(d) OVER (PARTITION BY o_custkey ORDER BY rn)
                  AS DOUBLE) + 1.0e0 AS gap,
             CAST(max(d) OVER (PARTITION BY o_custkey)
                  - min(d) OVER (PARTITION BY o_custkey)
                  + n AS DOUBLE) AS span
      FROM o WHERE n >= 3
    ),
    x AS (
      SELECT o_custkey, n,
             CAST(floor(gap / span * ln(gap / span) * 1.0e9 + 0.5) AS BIGINT)
               AS t_u
      FROM g WHERE gap IS NOT NULL
    ),
    per AS (
      SELECT o_custkey,
             CAST(floor((1.0e0 + CAST(sum(t_u) AS DOUBLE) / 1.0e9
                         / ln(CAST(max(n) AS DOUBLE))) * 1.0e6 + 0.5)
                  AS BIGINT) AS c_u
      FROM x GROUP BY o_custkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           floor(CAST(sum(c_u) AS DOUBLE) / count(*) + 0.5) / 1.0e6
             AS mean_clumpiness,
           floor(CAST(max(c_u) AS DOUBLE) + 0.5) / 1.0e6 AS max_clumpiness
    FROM per
    """,
)
def customer_purchase_clumpiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clumpiness of purchase timing (Zhang, Bradlow & Small 2015):
    per repeat customer (>= 3 orders), the entropy-based index C = 1 +
    Σ x·ln(x)/ln(n) over span-normalized inter-event gaps — C near 0 is
    metronome-regular buying, near 1 is binge-and-die, a CLV signal
    independent of RFM that the burstiness coefficient (population-
    level) cannot give per-entity. Gaps from per-customer windows;
    per-gap entropy terms quantize to 1e-9, per-customer C to 1e-6
    before the exact means."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = Window.partitionBy("o_custkey")
    d = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01"))
    g = o.select(
        "o_custkey",
        d.alias("d"),
        F.count(F.lit(1)).over(wp).alias("n"),
        (d - F.lag(d).over(w)).cast("double").alias("gap0"),
        (
            F.max(d).over(wp) - F.min(d).over(wp) + F.count(F.lit(1)).over(wp)
        )
        .cast("double")
        .alias("span"),
    ).filter((F.col("n") >= 3) & F.col("gap0").isNotNull())
    x = g.select(
        "o_custkey",
        "n",
        F.floor(
            (F.col("gap0") + 1.0)
            / F.col("span")
            * F.log((F.col("gap0") + 1.0) / F.col("span"))
            * 1.0e9
            + 0.5
        )
        .cast("long")
        .alias("t_u"),
    )
    per = x.groupBy("o_custkey").agg(
        F.floor(
            (
                F.lit(1.0)
                + F.sum("t_u").cast("double")
                / 1.0e9
                / F.log(F.max("n").cast("double"))
            )
            * 1.0e6
            + 0.5
        )
        .cast("long")
        .alias("c_u")
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        (
            F.floor(F.sum("c_u").cast("double") / F.count(F.lit(1)) + 0.5)
            / 1.0e6
        ).alias("mean_clumpiness"),
        (F.floor(F.max("c_u").cast("double") + 0.5) / 1.0e6).alias(
            "max_clumpiness"
        ),
    )


@register(
    "embedding_cosine_label_auc",
    oracle="""
    WITH sub AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 500
    ),
    p AS (
      SELECT CAST(floor(round(list_cosine_similarity(a.v, b.v), 4) * 10000
                        + 0.5) AS BIGINT) AS cu,
             (a.label = b.label) AS same
      FROM sub a JOIN sub b ON a.vec_id < b.vec_id
    ),
    c AS (
      SELECT cu,
             CAST(count(*) FILTER (same) AS BIGINT) AS cs,
             CAST(count(*) FILTER (NOT same) AS BIGINT) AS cd
      FROM p GROUP BY cu
    ),
    r AS (
      SELECT cu, cs, cd,
             sum(cd) OVER (ORDER BY cu ROWS UNBOUNDED PRECEDING) AS fd
      FROM c
    ),
    t AS (
      SELECT CAST(sum(cs) AS DOUBLE) AS ns, CAST(sum(cd) AS DOUBLE) AS nd
      FROM c
    ),
    num AS (
      SELECT CAST(sum(CAST(cs AS HUGEINT)
                      * (2 * (fd - cd) + cd)) AS DOUBLE) AS num2
      FROM r
    )
    SELECT CAST(ns AS BIGINT) AS n_same_pairs, CAST(nd AS BIGINT)
             AS n_diff_pairs,
           floor(num2 / (2.0e0 * ns * nd) * 1.0e6 + 0.5) / 1.0e6 AS auc
    FROM num, t
    """,
)
def embedding_cosine_label_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of cosine similarity as a same-label classifier over all
    pairs of the bounded probe subset: AUC = P(cos_same > cos_diff) +
    ½P(tie) — the single number that says whether a cosine threshold
    CAN separate same-label from cross-label pairs (margin and
    silhouette describe the geometry; AUC prices the decision rule).
    Computed exactly from quantized-cosine counts with a cumulative
    diff-pair CDF (doubled to keep the tie term integral) — the
    Mann-Whitney identity, no per-pair ranking materialized."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        cosine_expr,
    )

    emb = _t(spark, sf_dir, "embeddings")
    sub = emb.filter(F.col("vec_id") < 500).select("vec_id", "label", "embedding")
    a = sub.select(
        F.col("vec_id").alias("ia"), F.col("label").alias("la"), F.col("embedding").alias("va")
    )
    b = sub.select(
        F.col("vec_id").alias("ib"), F.col("label").alias("lb"), F.col("embedding").alias("vb")
    )
    p = a.join(b, F.col("ia") < F.col("ib")).select(
        F.floor(
            F.round(cosine_expr("va", "vb"), 4) * 10000 + 0.5
        )
        .cast("long")
        .alias("cu"),
        (F.col("la") == F.col("lb")).alias("same"),
    )
    c = p.groupBy("cu").agg(
        F.sum(F.when(F.col("same"), 1).otherwise(0)).cast("long").alias("cs"),
        F.sum(F.when(~F.col("same"), 1).otherwise(0)).cast("long").alias("cd"),
    )
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    c2 = c.withColumn("neg", -F.col("cu"))
    r = ranked_cumsum_two_pass(c2, "neg", "neg", weight_col="cd", out_cum="fd")
    t = c.agg(
        F.sum("cs").cast("double").alias("ns"),
        F.sum("cd").cast("double").alias("nd"),
    )
    num = r.agg(
        F.sum(
            F.col("cs").cast("decimal(38,0)")
            * (2 * (F.col("fd") - F.col("cd")) + F.col("cd")).cast(
                "decimal(38,0)"
            )
        )
        .cast("double")
        .alias("num2")
    )
    return (
        num.crossJoin(F.broadcast(t))
        .select(
            F.col("ns").cast("long").alias("n_same_pairs"),
            F.col("nd").cast("long").alias("n_diff_pairs"),
            (
                F.floor(
                    F.col("num2") / (F.lit(2.0) * F.col("ns") * F.col("nd"))
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("auc"),
        )
    )


_SEM_TAUS = (0.35, 0.45, 0.55)


def _sem_tau_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        _EMB_BUCKET_CAP,
        _HP_BITS_SQL,
        _HP_BUCKETS_SQL,
    )

    taus_list = ", ".join(f"{t}" for t in _SEM_TAUS)
    return f"""
    WITH bits AS (
      SELECT vec_id, {_HP_BITS_SQL}
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    ),
    bk AS (SELECT vec_id, unnest([{_HP_BUCKETS_SQL}]) AS bucket FROM bits),
    guarded AS (
      SELECT vec_id, bucket FROM (
        SELECT vec_id, bucket, count(*) OVER (PARTITION BY bucket) AS n
        FROM bk
      ) WHERE n <= {_EMB_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM guarded a JOIN guarded b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT CAST(floor(round(list_cosine_similarity(
                   CAST(ea.embedding AS DOUBLE[]),
                   CAST(eb.embedding AS DOUBLE[])), 4) * 10000 + 0.5)
                  AS BIGINT) AS cu
      FROM cand
      JOIN embeddings ea ON ea.vec_id = doc_a
      JOIN embeddings eb ON eb.vec_id = doc_b
    ),
    taus AS (SELECT unnest([{taus_list}]) AS tau)
    SELECT floor(tau * 1.0e6 + 0.5) / 1.0e6 AS tau,
           CAST(count(CASE WHEN cu >= CAST(floor(tau * 10000 + 0.5) AS BIGINT)
                           THEN 1 END) AS BIGINT) AS n_pairs
    FROM taus LEFT JOIN scored ON TRUE
    GROUP BY tau ORDER BY tau
    """


@register("dedup_semantic_tau_sweep", oracle=_sem_tau_oracle())
def dedup_semantic_tau_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-threshold sweep of the embedding near-dup pipeline: pair
    counts at tau = 0.35/0.45/0.55 over the SAME hyperplane-LSH
    candidate set the registered dedup_embedding_cosine scores once at
    0.45 — the semantic-modality twin of the Jaccard threshold sweep
    (SemDeDup's tau is its single most consequential knob). Candidates
    and cosines computed once; thresholds compare on the quantized
    integer grid."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        hyperplane_lsh_buckets,
        lsh_candidate_pairs,
    )
    from cioos_siooc_data_transform_spark.operators.similarity import (
        cosine_expr,
    )
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        _EMB_BANDS,
        _EMB_BUCKET_CAP,
        _EMB_HP,
    )

    emb = _t(spark, sf_dir, "embeddings")
    buckets = hyperplane_lsh_buckets(
        emb, "vec_id", "embedding", _EMB_HP, bands=_EMB_BANDS
    )
    cand = lsh_candidate_pairs(
        buckets, "vec_id", max_bucket_size=_EMB_BUCKET_CAP
    )
    ea = emb.select(F.col("vec_id").alias("doc_a"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("doc_b"), F.col("embedding").alias("vb"))
    scored = cand.join(ea, "doc_a").join(eb, "doc_b").select(
        F.floor(
            F.round(cosine_expr("va", "vb"), 4) * 10000 + 0.5
        )
        .cast("long")
        .alias("cu")
    )
    taus = spark.range(0, 3).select(
        F.element_at(
            F.array(*[F.lit(t) for t in _SEM_TAUS]), (F.col("id") + 1).cast("int")
        ).alias("tau")
    )
    return (
        F.broadcast(taus)
        .join(
            scored,
            F.col("cu")
            >= F.floor(F.col("tau") * 10000 + 0.5).cast("long"),
            "left",
        )
        .groupBy("tau")
        .agg(F.count("cu").cast("long").alias("n_pairs"))
        .select(
            (F.floor(F.col("tau") * 1.0e6 + 0.5) / 1.0e6).alias("tau"),
            "n_pairs",
        )
        .orderBy("tau")
    )


@register(
    "pack_truncation_loss_audit",
    oracle="""
    WITH d AS (
      SELECT CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS HUGEINT) AS tok
      FROM documents
    ),
    a AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(tok) AS BIGINT) AS total_tokens,
             CAST(count(*) FILTER (tok > 512) AS BIGINT) AS n_truncated,
             CAST(sum(CASE WHEN tok > 512 THEN tok - 512 ELSE 0 END)
                  AS BIGINT) AS tokens_lost
      FROM d
    )
    SELECT n_docs, total_tokens, n_truncated, tokens_lost,
           floor(CAST(tokens_lost AS DOUBLE) / total_tokens * 1.0e6 + 0.5)
             / 1.0e6 AS loss_share,
           floor(CAST(n_truncated AS DOUBLE) / n_docs * 1.0e6 + 0.5) / 1.0e6
             AS doc_share_truncated
    FROM a
    """,
)
def pack_truncation_loss_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-loss audit at a 512-token context: tokens and
    documents lost if long documents are TRUNCATED instead of split —
    the number that justifies (or kills) the chunking pipeline the
    pack_* family implements (truncation is the lazy default in most
    SFT stacks; this is its measured price on the actual corpus). One
    map-side-combinable aggregate of whitespace token counts."""
    from cioos_siooc_data_transform_spark.operators.text import words_expr

    docs = _t(spark, sf_dir, "documents")
    tok = F.size(F.filter(words_expr(F.col("text")), lambda x: x != "")).cast(
        "long"
    )
    d = docs.select(tok.alias("tok"))
    a = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("tok") > 512, 1).otherwise(0))
        .cast("long")
        .alias("n_truncated"),
        F.sum(
            F.when(F.col("tok") > 512, F.col("tok") - 512).otherwise(0)
        )
        .cast("long")
        .alias("tokens_lost"),
    )
    return a.select(
        "n_docs",
        "total_tokens",
        "n_truncated",
        "tokens_lost",
        (
            F.floor(
                F.col("tokens_lost").cast("double")
                / F.col("total_tokens")
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("loss_share"),
        (
            F.floor(
                F.col("n_truncated").cast("double") / F.col("n_docs") * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("doc_share_truncated"),
    )


# ===========================================================================
# Wave F — Weibull shape, dup-quality association, header
# completeness, ice enthalpy at freezing.
# ===========================================================================
@register(
    "orders_gap_weibull_shape",
    oracle="""
    WITH g AS (
      SELECT datediff('day', lag(CAST(o_orderdate AS DATE)) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             CAST(o_orderdate AS DATE)) AS gap
      FROM orders
    ),
    d AS (SELECT CAST(gap AS BIGINT) AS gap FROM g
          WHERE gap IS NOT NULL AND gap > 0),
    c AS (SELECT gap, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
    r AS (
      SELECT gap, n,
             sum(n) OVER (ORDER BY gap ROWS UNBOUNDED PRECEDING) AS f
      FROM c
    ),
    t AS (SELECT CAST(sum(n) AS DOUBLE) AS nn FROM c),
    pts AS (
      SELECT CAST(floor(ln(CAST(gap AS DOUBLE)) * 1.0e9 + 0.5) AS BIGINT)
               AS x_u,
             CAST(floor(ln(-ln(1.0e0 - (f - 0.5e0 * n) / nn)) * 1.0e9 + 0.5)
                  AS BIGINT) AS y_u
      FROM r, t WHERE (f - 0.5e0 * n) / nn < 1.0e0
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS k,
             CAST(sum(x_u) AS DOUBLE) / 1.0e9 AS sx,
             CAST(sum(y_u) AS DOUBLE) / 1.0e9 AS sy,
             sum(CAST(x_u AS DOUBLE) / 1.0e9 * (CAST(y_u AS DOUBLE) / 1.0e9))
               AS sxy,
             sum((CAST(x_u AS DOUBLE) / 1.0e9)
                 * (CAST(x_u AS DOUBLE) / 1.0e9)) AS sxx
      FROM pts
    )
    SELECT CAST(k AS BIGINT) AS n_support_points,
           floor((k * sxy - sx * sy) / (k * sxx - sx * sx) * 1.0e6 + 0.5)
             / 1.0e6 AS weibull_shape_k,
           floor(exp(-((sy / k)
                       - (k * sxy - sx * sy) / (k * sxx - sx * sx)
                         * (sx / k))
                     / ((k * sxy - sx * sy) / (k * sxx - sx * sx)))
                 * 1.0e3 + 0.5) / 1.0e3 AS weibull_scale_days
    FROM s
    """,
)
def orders_gap_weibull_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull shape from the probability plot: regress
    ln(−ln(1−F(gap))) on ln(gap) over the distinct inter-order gaps
    (midpoint-corrected empirical CDF from the two-pass cumulative
    counts) — the slope IS the shape k, the churn-dynamics verdict the
    exponentiality KS only rejects: k < 1 means the longer a customer
    has been silent the LESS likely they return (true churn), k > 1
    means overdue-and-returning. Scale follows as exp(−intercept/k).
    Per-point logs quantize to 1e-9 before exact sums."""
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
    t = c.agg(F.sum("n").cast("double").alias("nn"))
    fc = (F.col("f") - F.lit(0.5) * F.col("n")) / F.col("nn")
    pts = (
        r.crossJoin(F.broadcast(t))
        .filter(fc < 1.0)
        .select(
            F.floor(F.log(F.col("gap").cast("double")) * 1.0e9 + 0.5)
            .cast("long")
            .alias("x_u"),
            F.floor(F.log(-F.log(F.lit(1.0) - fc)) * 1.0e9 + 0.5)
            .cast("long")
            .alias("y_u"),
        )
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        (F.sum("x_u").cast("double") / 1.0e9).alias("sx"),
        (F.sum("y_u").cast("double") / 1.0e9).alias("sy"),
        F.sum(
            (F.col("x_u").cast("double") / 1.0e9)
            * (F.col("y_u").cast("double") / 1.0e9)
        ).alias("sxy"),
        F.sum(
            (F.col("x_u").cast("double") / 1.0e9)
            * (F.col("x_u").cast("double") / 1.0e9)
        ).alias("sxx"),
    )
    k = F.col("k")
    slope = (k * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        k * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = F.col("sy") / k - slope * F.col("sx") / k
    return s.select(
        k.cast("long").alias("n_support_points"),
        (F.floor(slope * 1.0e6 + 0.5) / 1.0e6).alias("weibull_shape_k"),
        (F.floor(F.exp(-intercept / slope) * 1.0e3 + 0.5) / 1.0e3).alias(
            "weibull_scale_days"
        ),
    )


def _dup_quality_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.registry import ORACLES

    return f"""
    WITH q AS ({ORACLES["text_quality_score"]}),
    w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
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
    pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
               round(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
        FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
      ) WHERE jaccard >= 0.5
    ),
    dupids AS (
      SELECT doc_a AS doc_id FROM pairs
      UNION SELECT doc_b FROM pairs
    ),
    med AS (SELECT CAST(quantile_cont(quality * 2, 0.5) AS BIGINT) AS m2 FROM q),
    j AS (
      SELECT (2 * q.quality < m2) AS low_q,
             (dupids.doc_id IS NOT NULL) AS is_dup
      FROM q LEFT JOIN dupids USING (doc_id), med
    ),
    c AS (
      SELECT CAST(count(*) FILTER (is_dup AND low_q) AS DOUBLE) AS n11,
             CAST(count(*) FILTER (is_dup AND NOT low_q) AS DOUBLE) AS n10,
             CAST(count(*) FILTER (NOT is_dup AND low_q) AS DOUBLE) AS n01,
             CAST(count(*) FILTER (NOT is_dup AND NOT low_q) AS DOUBLE)
               AS n00
      FROM j
    )
    SELECT CAST(n11 + n10 AS BIGINT) AS n_neardup,
           CAST(n01 + n00 AS BIGINT) AS n_unique,
           floor(n11 / nullif(n11 + n10, 0.0e0) * 1.0e6 + 0.5) / 1.0e6
             AS low_quality_rate_dup,
           floor(n01 / nullif(n01 + n00, 0.0e0) * 1.0e6 + 0.5) / 1.0e6
             AS low_quality_rate_unique,
           floor((n11 * n00 - n10 * n01)
                 / nullif(sqrt((n11 + n10) * (n01 + n00)
                               * (n11 + n01) * (n10 + n00)), 0.0e0)
                 * 1.0e6 + 0.5) / 1.0e6 AS phi
    FROM c
    """


@register("text_dup_quality_association", oracle=_dup_quality_oracle())
def text_dup_quality_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are near-duplicates lower quality? Phi correlation of the 2x2
    (participates-in-a-Jaccard>=0.5-pair x below-median-quality) table,
    plus the low-quality rate in each group — the curation question
    that decides whether dedup doubles as a quality filter (boilerplate
    and spam duplicate heavily) or removes good content at random.
    Composes two registered signals: text_quality_score (reused
    verbatim, median via the doubled-percentile trick) and the
    hot-shingle-capped near-dup pair machinery; empty cells NULLIF
    instead of dividing by zero."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        distinct_shingles,
    )
    from cioos_siooc_data_transform_spark.plans.text_queries import (
        text_quality_score,
    )

    q = text_quality_score(spark, sf_dir).select("doc_id", "quality")
    sh = distinct_shingles(spark, sf_dir)
    pairs = ngram_jaccard_pairs(
        sh, "doc_id", "s", threshold=0.5, max_doc_freq=10
    )
    dupids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("_d", F.lit(1))
    )
    med = q.agg(
        F.expr("CAST(percentile(quality * 2, 0.5) AS BIGINT)").alias("m2")
    )
    j = (
        q.join(dupids, "doc_id", "left")
        .crossJoin(F.broadcast(med))
        .select(
            (2 * F.col("quality") < F.col("m2")).alias("low_q"),
            F.col("_d").isNotNull().alias("is_dup"),
        )
    )
    c = j.agg(
        F.sum(F.when(F.col("is_dup") & F.col("low_q"), 1).otherwise(0))
        .cast("double")
        .alias("n11"),
        F.sum(F.when(F.col("is_dup") & ~F.col("low_q"), 1).otherwise(0))
        .cast("double")
        .alias("n10"),
        F.sum(F.when(~F.col("is_dup") & F.col("low_q"), 1).otherwise(0))
        .cast("double")
        .alias("n01"),
        F.sum(F.when(~F.col("is_dup") & ~F.col("low_q"), 1).otherwise(0))
        .cast("double")
        .alias("n00"),
    )
    n11, n10, n01, n00 = (F.col(x) for x in ("n11", "n10", "n01", "n00"))
    return c.select(
        (n11 + n10).cast("long").alias("n_neardup"),
        (n01 + n00).cast("long").alias("n_unique"),
        (
            F.floor(n11 / F.nullif(n11 + n10, F.lit(0.0)) * 1.0e6 + 0.5)
            / 1.0e6
        ).alias("low_quality_rate_dup"),
        (
            F.floor(n01 / F.nullif(n01 + n00, F.lit(0.0)) * 1.0e6 + 0.5)
            / 1.0e6
        ).alias("low_quality_rate_unique"),
        (
            F.floor(
                (n11 * n00 - n10 * n01)
                / F.nullif(
                    F.sqrt(
                        (n11 + n10) * (n01 + n00) * (n11 + n01) * (n10 + n00)
                    ),
                    F.lit(0.0),
                )
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("phi"),
    )


@register(
    "ios_header_completeness_profile",
    oracle="""
    SELECT * FROM (VALUES
      ('event_number', CAST(3 AS BIGINT), CAST(2 AS BIGINT)),
      ('latitude',     CAST(3 AS BIGINT), CAST(2 AS BIGINT)),
      ('longitude',    CAST(3 AS BIGINT), CAST(2 AS BIGINT)),
      ('mission',      CAST(3 AS BIGINT), CAST(2 AS BIGINT)),
      ('start_ts',     CAST(3 AS BIGINT), CAST(2 AS BIGINT)),
      ('station',      CAST(3 AS BIGINT), CAST(2 AS BIGINT))
    ) AS t(field, n_files, n_present)
    ORDER BY field
    """,
)
def ios_header_completeness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-field completeness across the parsed corpus (three
    self-authored samples including the malformed one): per optional
    header field, files present vs total — the archive-QC sheet an
    ingest publishes so downstream users know which metadata they can
    rely on (the malformed file parses to an error row, so every field
    counts 2-of-3 present). Golden-profile oracle; the unpivot is a
    fixed 6-field stack."""
    from cioos_siooc_data_transform_spark.plans.ios_queries import (
        SAMPLE_IOS,
        _parse_cached,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r12 import (
        SAMPLE_IOS_MOORING,
    )
    from cioos_siooc_data_transform_spark.sources.ios_source import ios_catalog

    p1 = _parse_cached(
        spark, "sample", "memory://sample-2024-001-0007.ctd", SAMPLE_IOS
    )
    p2 = _parse_cached(
        spark,
        "sample_mooring",
        "memory://sample-2024-002-0003.mctd",
        SAMPLE_IOS_MOORING,
    )
    p3 = _parse_cached(
        spark, "sample_bad", "memory://sample-bad.ctd", SAMPLE_IOS_BAD
    )
    fields = [
        "event_number", "latitude", "longitude", "mission", "start_ts",
        "station",
    ]
    cats = [
        ios_catalog(p) for p in (p1, p2, p3)
    ]
    allc = cats[0]
    for cpart in cats[1:]:
        allc = allc.unionByName(cpart, allowMissingColumns=True)
    stack = ", ".join(
        f"'{f}', CAST(({f} IS NOT NULL) AS INT)" for f in fields
    )
    lv = allc.select(
        F.expr(f"stack({len(fields)}, {stack}) AS (field, present)")
    )
    return (
        lv.groupBy("field")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("present").cast("long").alias("n_present"),
        )
        .orderBy("field")
    )


def _poth_ice_freezing_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        t_freezing_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r11 import (
        _poth_ice_stages,
    )

    # t at the freezing point of seawater (s, p), then the registered
    # pt0 -> enthalpy composition evaluated at that temperature.
    stages: list[tuple[str, str]] = [("t", t_freezing_sql("s", "p"))]
    stages += _poth_ice_stages()
    stages.append(("pot_enthalpy_ice_freezing", "pot_enthalpy_ice"))
    return stages


def _poth_ice_freezing_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r5 import _IN_SQL

    inner = f"SELECT l_orderkey, l_linenumber, s, p FROM ({_IN_SQL})"
    staged = _stage_sql_cte(inner, _poth_ice_freezing_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(pot_enthalpy_ice_freezing * 1.0e6 + 0.5) / 1.0e6
             AS pot_enthalpy_ice_freezing
    FROM ({staged})
    """


@register("gsw_pot_enthalpy_ice_freezing", oracle=_poth_ice_freezing_oracle())
def gsw_pot_enthalpy_ice_freezing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential enthalpy of ice AT the seawater freezing temperature
    (GSW twin: gsw_pot_enthalpy_ice_freezing) — the quantity ice-ocean
    boundary fluxes are written in (McDougall, Barker et al.): compose
    the Millero freezing point t_f(SA, p) with the registered
    pt0_from_t_ice Newton chain and the IAPWS-06 enthalpy readoff at
    p = 0. Five prefixed Gibbs chains end-to-end, flat-CTE oracle,
    zero shuffle."""
    from cioos_siooc_data_transform_spark.plans.staged_r5 import _inputs

    df = _inputs(spark, sf_dir).select("l_orderkey", "l_linenumber", "s", "p")
    for name, expr in _poth_ice_freezing_stages():
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor(F.col("pot_enthalpy_ice_freezing") * 1.0e6 + 0.5) / 1.0e6
        ).alias("pot_enthalpy_ice_freezing"),
    )


# ===========================================================================
# Wave G — rank stability, seasonality growth, char-profile affinity.
# ===========================================================================
@register(
    "nation_rank_stability_tau",
    oracle="""
    WITH r AS (
      SELECT n_name, year(o_orderdate) AS yr,
             CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0
                                 + 0.5) AS BIGINT)) AS BIGINT) AS rev
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      WHERE year(o_orderdate) IN (1999, 2000)
      GROUP BY 1, 2
    ),
    w AS (
      SELECT n_name,
             max(CASE WHEN yr = 1999 THEN rev END) AS r0,
             max(CASE WHEN yr = 2000 THEN rev END) AS r1
      FROM r GROUP BY 1
    ),
    p AS (
      SELECT CASE WHEN (a.r0 < b.r0) = (a.r1 < b.r1) THEN 1 ELSE -1 END AS c
      FROM w a JOIN w b ON a.n_name < b.n_name
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS concordant,
           floor(CAST(sum(c) AS DOUBLE) / count(*) * 1.0e6 + 0.5) / 1.0e6
             AS kendall_tau
    FROM p
    """,
)
def nation_rank_stability_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year stability of the nation revenue ranking: Kendall
    tau between the 1999 and 2000 revenue orderings over all nation
    pairs — tau near 1 means the league table is static (market-share
    moves are noise), low tau means real reshuffling worth a
    shift-share look. Revenue cents are exact; the pair comparison is
    quadratic in NATIONS (25), i.e. bounded."""
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
            .cast("long")
            .alias("rev")
        )
    )
    w = r.groupBy("n_name").agg(
        F.max(F.when(F.col("yr") == 1999, F.col("rev"))).alias("r0"),
        F.max(F.when(F.col("yr") == 2000, F.col("rev"))).alias("r1"),
    )
    a = w.select(
        F.col("n_name").alias("na"), F.col("r0").alias("a0"), F.col("r1").alias("a1")
    )
    b = w.select(
        F.col("n_name").alias("nb"), F.col("r0").alias("b0"), F.col("r1").alias("b1")
    )
    # round-13: broadcast the (≤|nations|-row) right side so the
    # inequality theta join plans as the repo's bounded
    # BroadcastNestedLoopJoin pattern instead of a CartesianProduct
    # (the only cartesian in the 630-plan registry; both sides are
    # nation-bounded, but the plan guard counts cartesians as always
    # wrong because a true one never is bounded).
    p = a.join(F.broadcast(b), F.col("na") < F.col("nb")).select(
        F.when(
            (F.col("a0") < F.col("b0")) == (F.col("a1") < F.col("b1")), 1
        )
        .otherwise(-1)
        .alias("c")
    )
    return p.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("concordant"),
        (
            F.floor(F.sum("c").cast("double") / F.count(F.lit(1)) * 1.0e6 + 0.5)
            / 1.0e6
        ).alias("kendall_tau"),
    )


@register(
    "orders_seasonal_amplitude_trend",
    oracle="""
    WITH m AS (
      SELECT year(o_orderdate) AS yr, month(o_orderdate) - 1 AS moy,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS HUGEINT) AS rev
      FROM orders GROUP BY 1, 2
    ),
    full_years AS (
      SELECT yr FROM m GROUP BY yr HAVING count(*) = 12
    ),
    coef AS (
      SELECT m.yr,
             sum(CAST(rev AS DOUBLE)
                 * cos(2.0e0 * 3.141592653589793e0 * moy / 12.0e0)) / 6.0e0
               AS a1,
             sum(CAST(rev AS DOUBLE)
                 * sin(2.0e0 * 3.141592653589793e0 * moy / 12.0e0)) / 6.0e0
               AS b1
      FROM m JOIN full_years USING (yr) GROUP BY m.yr
    ),
    amp AS (
      SELECT yr, CAST(floor(sqrt(a1 * a1 + b1 * b1) / 100.0e0 + 0.5)
                      AS BIGINT) AS amp_dollars
      FROM coef
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS k, sum(CAST(yr AS DOUBLE)) AS sx,
             sum(CAST(amp_dollars AS DOUBLE)) AS sy,
             sum(CAST(yr AS DOUBLE) * amp_dollars) AS sxy,
             sum(CAST(yr AS DOUBLE) * yr) AS sxx
      FROM amp
    )
    SELECT CAST(k AS BIGINT) AS n_years,
           CAST(floor((k * sxy - sx * sy) / (k * sxx - sx * sx) + 0.5)
                AS BIGINT) AS amplitude_slope_dollars_per_year
    FROM s
    """,
)
def orders_seasonal_amplitude_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is seasonality strengthening? First-harmonic amplitude of the
    monthly revenue per FULL year (the per-year Fourier projection —
    the orthogonal-basis trick of the registered annual harmonic fit,
    applied within years) regressed on the year — a positive slope
    means the seasonal swing grows in dollar terms, the input to
    multiplicative-vs-additive seasonality choices. Amplitudes floor to
    whole dollars before the tiny OLS over years."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year("o_orderdate").alias("yr"),
        (F.month("o_orderdate") - 1).alias("moy"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("decimal(38,0)")
        .alias("rev")
    )
    full_years = (
        m.groupBy("yr").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") == 12).select("yr")
    )
    pi = 3.141592653589793
    ang = F.lit(2.0 * pi) * F.col("moy") / F.lit(12.0)
    coef = (
        m.join(F.broadcast(full_years), "yr")
        .groupBy("yr")
        .agg(
            (F.sum(F.col("rev").cast("double") * F.cos(ang)) / F.lit(6.0)).alias("a1"),
            (F.sum(F.col("rev").cast("double") * F.sin(ang)) / F.lit(6.0)).alias("b1"),
        )
    )
    amp = coef.select(
        "yr",
        F.floor(
            F.sqrt(F.col("a1") * F.col("a1") + F.col("b1") * F.col("b1"))
            / 100.0
            + 0.5
        )
        .cast("long")
        .alias("amp_dollars"),
    )
    s = amp.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(F.col("yr").cast("double")).alias("sx"),
        F.sum(F.col("amp_dollars").cast("double")).alias("sy"),
        F.sum(F.col("yr").cast("double") * F.col("amp_dollars")).alias("sxy"),
        F.sum(F.col("yr").cast("double") * F.col("yr")).alias("sxx"),
    )
    k = F.col("k")
    slope = (k * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        k * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        k.cast("long").alias("n_years"),
        F.floor(slope + 0.5)
        .cast("long")
        .alias("amplitude_slope_dollars_per_year"),
    )


@register(
    "text_char_trigram_lang_affinity",
    oracle="""
    WITH tri AS (
      SELECT lang, unnest(list_transform(
               generate_series(1, greatest(length(text) - 2, 0)),
               i -> substring(text, i, 3))) AS g
      FROM documents
    ),
    c AS (
      SELECT lang, g, CAST(count(*) AS BIGINT) AS n FROM tri GROUP BY 1, 2
    ),
    nrm AS (
      SELECT lang, sqrt(sum(CAST(n AS DOUBLE) * n)) AS l2 FROM c GROUP BY 1
    ),
    dots AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b,
             sum(CAST(a.n AS DOUBLE) * b.n) AS dot
      FROM c a JOIN c b ON a.g = b.g AND a.lang < b.lang
      GROUP BY 1, 2
    )
    SELECT lang_a, lang_b,
           floor(dot / (na.l2 * nb.l2) * 1.0e6 + 0.5) / 1.0e6
             AS trigram_cosine
    FROM dots
    JOIN nrm na ON na.lang = lang_a
    JOIN nrm nb ON nb.lang = lang_b
    ORDER BY lang_a, lang_b
    """,
)
def text_char_trigram_lang_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram profile cosine between every language pair
    (Cavnar & Trenkle's n-gram profile, as vectors): high affinity
    pairs (es/fr sharing Romance trigrams) are exactly where the
    stopword identifier confuses — the geometry BEHIND the confusion
    matrix, at the character level the word-based JSD can't see.
    Trigram count vectors meet through an inverted-index join on the
    trigram key (never a dense |langs|x|vocab| matrix); norms and dots
    from exact integer counts."""
    docs = _t(spark, sf_dir, "documents")
    tri = docs.select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 2, 0)),"
                " i -> substring(text, i, 3))"
            )
        ).alias("g"),
    )
    c = tri.groupBy("lang", "g").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    nrm = c.groupBy("lang").agg(
        F.sqrt(F.sum(F.col("n").cast("double") * F.col("n"))).alias("l2")
    )
    a = c.select(F.col("lang").alias("lang_a"), "g", F.col("n").alias("na_"))
    b = c.select(F.col("lang").alias("lang_b"), F.col("g").alias("g2"), F.col("n").alias("nb_"))
    dots = (
        a.join(b, (F.col("g") == F.col("g2")) & (F.col("lang_a") < F.col("lang_b")))
        .groupBy("lang_a", "lang_b")
        .agg(F.sum(F.col("na_").cast("double") * F.col("nb_")).alias("dot"))
    )
    na = nrm.select(F.col("lang").alias("lang_a"), F.col("l2").alias("l2a"))
    nb = nrm.select(F.col("lang").alias("lang_b"), F.col("l2").alias("l2b"))
    return (
        dots.join(F.broadcast(na), "lang_a")
        .join(F.broadcast(nb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            (
                F.floor(
                    F.col("dot") / (F.col("l2a") * F.col("l2b")) * 1.0e6 + 0.5
                )
                / 1.0e6
            ).alias("trigram_cosine"),
        )
        .orderBy("lang_a", "lang_b")
    )


# ===========================================================================
# Wave H — drift index, percolation robustness, sampling pair bias.
# ===========================================================================
@register(
    "orders_value_psi_drift",
    oracle="""
    WITH y1 AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE year(o_orderdate) = 1999
    ),
    y2 AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE year(o_orderdate) = 2000
    ),
    cuts AS (
      SELECT [CAST(quantile_cont(cents * 10, 0.1) AS BIGINT), CAST(quantile_cont(cents * 10, 0.2) AS BIGINT), CAST(quantile_cont(cents * 10, 0.3) AS BIGINT), CAST(quantile_cont(cents * 10, 0.4) AS BIGINT), CAST(quantile_cont(cents * 10, 0.5) AS BIGINT), CAST(quantile_cont(cents * 10, 0.6) AS BIGINT), CAST(quantile_cont(cents * 10, 0.7) AS BIGINT), CAST(quantile_cont(cents * 10, 0.8) AS BIGINT), CAST(quantile_cont(cents * 10, 0.9) AS BIGINT)] AS c10
      FROM y1
    ),
    b1 AS (
      SELECT len(list_filter(c10, c -> c < cents * 10)) AS bin,
             count(*) AS n
      FROM y1, cuts GROUP BY 1
    ),
    b2 AS (
      SELECT len(list_filter(c10, c -> c < cents * 10)) AS bin,
             count(*) AS n
      FROM y2, cuts GROUP BY 1
    ),
    t AS (
      SELECT (SELECT CAST(sum(n) AS DOUBLE) FROM b1) AS n1,
             (SELECT CAST(sum(n) AS DOUBLE) FROM b2) AS n2
    ),
    terms AS (
      SELECT b1.bin,
             CAST(floor((b2.n / n2 - b1.n / n1)
                        * ln((b2.n / n2) / (b1.n / n1)) * 1.0e9 + 0.5)
                  AS BIGINT) AS psi_u
      FROM b1 JOIN b2 USING (bin), t
    )
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           floor(CAST(sum(psi_u) AS DOUBLE) / 1.0e3 + 0.5) / 1.0e6 AS psi
    FROM terms
    """,
)
def orders_value_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-value distribution, 1999
    -> 2000: decile bins FITTED ON THE BASE YEAR (the industry
    convention — cut points from the reference population, via the
    10x-integer percentile trick so the cuts are exact), PSI =
    Σ (p2 − p1)·ln(p2/p1); the credit-risk drift gauge (<0.1 stable,
    >0.25 act) that the KS family reports less actionably. Bin
    assignment is an exact integer comparison against the 9 broadcast
    cuts; per-bin terms quantize to 1e-9 before the exact sum."""
    o = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    y1 = o.filter(F.year("o_orderdate") == 1999).select(cents.alias("cents"))
    y2 = o.filter(F.year("o_orderdate") == 2000).select(cents.alias("cents"))
    cuts = y1.agg(
        F.array(
            *[
                F.expr(
                    f"CAST(percentile(cents * 10, {i / 10.0}) AS BIGINT)"
                )
                for i in range(1, 10)
            ]
        ).alias("c10")
    )

    def bins(df):
        return (
            df.crossJoin(F.broadcast(cuts))
            .select(
                F.size(
                    F.filter(
                        F.col("c10"),
                        lambda c: c < F.col("cents") * 10,
                    )
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    b1 = bins(y1).withColumnRenamed("n", "n1")
    b2 = bins(y2).withColumnRenamed("n", "n2")
    t1 = b1.agg(F.sum("n1").cast("double").alias("t1"))
    t2 = b2.agg(F.sum("n2").cast("double").alias("t2"))
    j = (
        b1.join(b2, "bin")
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
    )
    p1 = F.col("n1") / F.col("t1")
    p2 = F.col("n2") / F.col("t2")
    terms = j.select(
        F.floor((p2 - p1) * F.log(p2 / p1) * 1.0e9 + 0.5)
        .cast("long")
        .alias("psi_u")
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        (
            F.floor(F.sum("psi_u").cast("double") / 1.0e3 + 0.5) / 1.0e6
        ).alias("psi"),
    )


@register(
    "graph_hub_removal_robustness",
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
    adj AS (SELECT a AS u FROM e UNION ALL SELECT b FROM e),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u),
    cut AS (
      SELECT 0.01e0 AS frac,
             CAST(quantile_cont(d * 2, 0.99e0) AS BIGINT) AS d2_cut FROM deg
      UNION ALL
      SELECT 0.05e0,
             CAST(quantile_cont(d * 2, 0.95e0) AS BIGINT) FROM deg
      UNION ALL
      SELECT 0.10e0,
             CAST(quantile_cont(d * 2, 0.90e0) AS BIGINT) FROM deg
    ),
    surv AS (
      SELECT cut.frac,
             CAST(count(*) AS BIGINT) AS n_surviving
      FROM e
      JOIN deg da ON da.u = e.a
      JOIN deg db ON db.u = e.b, cut
      WHERE 2 * da.d <= d2_cut AND 2 * db.d <= d2_cut
      GROUP BY cut.frac
    ),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
    SELECT floor(frac * 1.0e6 + 0.5) / 1.0e6 AS hub_fraction_removed,
           ne.n_edges, n_surviving,
           floor(CAST(n_surviving AS DOUBLE) / ne.n_edges * 1.0e6 + 0.5)
             / 1.0e6 AS edge_survival
    FROM surv, ne ORDER BY hub_fraction_removed
    """,
)
def graph_hub_removal_robustness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolation robustness to targeted hub removal: edge survival
    after deleting the top 1/5/10% highest-degree nodes (an edge dies
    if EITHER endpoint is removed) — scale-free graphs collapse under
    targeted attack while staying robust to random failure, and the
    survival curve quantifies how much of the co-purchase structure
    rides on the hubs the rich-club coefficient flagged. Degree cut
    points via the doubled-integer percentile; the removal test is an
    integer compare on the broadcast cut."""
    from cioos_siooc_data_transform_spark.plans.staged_r8 import (
        _copurchase_edges,
    )

    e = _copurchase_edges(spark, sf_dir)
    adj = e.select(F.col("a").alias("u")).unionAll(
        e.select(F.col("b").alias("u"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    fracs = (0.01, 0.05, 0.10)
    cut = deg.agg(
        *[
            F.expr(
                f"CAST(percentile(d * 2, {1.0 - f}) AS BIGINT)"
            ).alias(f"c{int(f * 100)}")
            for f in fracs
        ]
    )
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("db"))
    ed = e.join(da, "a").join(db, "b").crossJoin(F.broadcast(cut))
    ne = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    out = None
    for f in fracs:
        ccol = F.col(f"c{int(f * 100)}")
        row = ed.filter(
            (2 * F.col("da") <= ccol) & (2 * F.col("db") <= ccol)
        ).agg(
            F.lit(f).alias("frac"),
            F.count(F.lit(1)).cast("long").alias("n_surviving"),
        )
        out = row if out is None else out.unionByName(row)
    return (
        out.crossJoin(F.broadcast(ne))
        .select(
            (F.floor(F.col("frac") * 1.0e6 + 0.5) / 1.0e6).alias(
                "hub_fraction_removed"
            ),
            "n_edges",
            "n_surviving",
            (
                F.floor(
                    F.col("n_surviving").cast("double")
                    / F.col("n_edges")
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("edge_survival"),
        )
        .orderBy("hub_fraction_removed")
    )


@register(
    "dedup_sample_pair_bias",
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
    pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
               round(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
        FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
      ) WHERE jaccard >= 0.5
    ),
    insample AS (
      SELECT doc_a, doc_b,
             (((doc_a * 2654435761) % 4294967296) % 64 < 16) AS a_in,
             (((doc_b * 2654435761) % 4294967296) % 64 < 16) AS b_in
      FROM pairs
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(count(*) FILTER (a_in AND b_in) AS BIGINT)
               AS n_pairs_in_sample
      FROM insample
    )
    SELECT n_pairs, n_pairs_in_sample,
           floor(CAST(n_pairs_in_sample AS DOUBLE)
                 / nullif(CAST(n_pairs AS DOUBLE), 0.0e0) * 1.0e6 + 0.5)
             / 1.0e6 AS pair_survival_rate,
           0.0625e0 AS expected_rate
    FROM t
    """,
)
def dedup_sample_pair_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quadratic sampling bias of PAIR statistics: under the
    deterministic 25% doc sample (bucket < 16 of 64, the standard
    Knuth-hash rule), a near-dup pair survives only if BOTH endpoints
    are sampled — expected 6.25%, so a duplication rate measured on a
    sample UNDERSTATES the corpus rate by ~4x. This query measures the
    realized pair survival against that expectation — the audit that
    stops teams from QA-ing dedup on subsamples without the p²
    correction. Membership is pure integer hash arithmetic on the
    existing pair set."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        distinct_shingles,
    )

    sh = distinct_shingles(spark, sf_dir)
    pairs = ngram_jaccard_pairs(
        sh, "doc_id", "s", threshold=0.5, max_doc_freq=10
    )

    def in_sample(col):
        return ((col * F.lit(2654435761)) % F.lit(4294967296)) % F.lit(64) < 16

    t = pairs.select(
        in_sample(F.col("doc_a")).alias("a_in"),
        in_sample(F.col("doc_b")).alias("b_in"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("a_in") & F.col("b_in"), 1).otherwise(0))
        .cast("long")
        .alias("n_pairs_in_sample"),
    )
    return t.select(
        "n_pairs",
        "n_pairs_in_sample",
        (
            F.floor(
                F.col("n_pairs_in_sample").cast("double")
                / F.nullif(F.col("n_pairs").cast("double"), F.lit(0.0))
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("pair_survival_rate"),
        F.lit(0.0625).alias("expected_rate"),
    )


# ===========================================================================
# Wave I — exact-Gibbs (IAPWS-08 / Feistel 2008) *_t_exact surfaces
# (GSW twins: gsw_specvol_t_exact, gsw_rho_t_exact,
# gsw_sound_speed_t_exact, gsw_kappa_t_exact, gsw_alpha_wrt_t_exact,
# gsw_beta_const_t_exact, gsw_enthalpy_t_exact, gsw_pot_rho_t_exact,
# gsw_chem_potential_water_t_exact, gsw_dilution_coefficient_t_exact in
# GSW/_wrapped_ufuncs.py). Every surface is a ratio/combination of
# symbolic derivatives of the ONE published Gibbs table
# (functions/teos10.py::gibbs_sw_sql): the value template is anchored
# by the entropy identity (η = −g_t matches the independent entropy
# tree to machine precision), the published cp check value
# 4002.888003958537, agreement of g_p with the check-valued 75-term
# polynomial, and FD pins (tests/test_oceanography_checkvalues.py).
# Map-only, zero shuffle; derivative trees are stage columns so the
# surviving projections stay in janino's comfort zone.
# ===========================================================================
def _gibbs_in_sql() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _IN_SQL,
        _SA_SQL,
    )

    return f"""
      SELECT l_orderkey, l_linenumber, t, p, {_SA_SQL} AS sa
      FROM ({_IN_SQL})
    """


def _gibbs_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _inputs,
    )

    return _inputs(spark, sf_dir).select(
        "l_orderkey", "l_linenumber", "t", "p", F.expr(_SA_SQL).alias("sa")
    )


def _gibbs_exact_query(name: str, stages_fn, outs: list[tuple[str, str]]):
    """Shared builder for the wave-I family: run the g-derivative stage
    list over the (sa, t, p) grid, emit the floored output columns.
    ``outs`` = [(col, quantized SQL expr over the stage columns)]."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _gibbs_inputs(spark, sf_dir)
        for sname, expr in stages_fn():
            df = df.withColumn(sname, F.expr(expr))
        return df.select(
            "l_orderkey",
            "l_linenumber",
            *[F.expr(e).alias(c) for c, e in outs],
        )

    def oracle() -> str:
        staged = _stage_sql_cte(_gibbs_in_sql(), stages_fn())
        sel = ",\n           ".join(f"{e} AS {c}" for c, e in outs)
        return f"""
        SELECT l_orderkey, l_linenumber,
           {sel}
        FROM ({staged})
        """

    return register(name, oracle=oracle())(fn)


def _q6(expr: str) -> str:
    return f"(floor({expr} * 1.0e6 + 0.5) / 1.0e6)"


def _q9(expr: str) -> str:
    return f"(floor({expr} * 1.0e9 + 0.5) / 1.0e9)"


def _q12(expr: str) -> str:
    return f"(floor({expr} * 1.0e12 + 0.5) / 1.0e12)"


def _sv_rho_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.teos10 import gibbs_sw_sql

    return [("__gx_gp", gibbs_sw_sql("sa", "t", "p", dp=1))]


_gibbs_exact_query(
    "gsw_specvol_rho_t_exact",
    _sv_rho_stages,
    [
        # v = 1e-4·g_p (per-dbar → per-Pa); emit ×1e6 so the quantum is
        # 1e-12 m³/kg on an O(970) number.
        ("specvol_e6", _q6("(1.0e2 * __gx_gp)")),
        ("rho", _q6("(1.0e0 / (1.0e-4 * __gx_gp))")),
    ],
)


def _sound_speed_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.teos10 import gibbs_sw_sql

    return [
        ("__gx_gp", gibbs_sw_sql("sa", "t", "p", dp=1)),
        ("__gx_gtt", gibbs_sw_sql("sa", "t", "p", dt=2)),
        ("__gx_gtp", gibbs_sw_sql("sa", "t", "p", dt=1, dp=1)),
        ("__gx_gpp", gibbs_sw_sql("sa", "t", "p", dp=2)),
    ]


_gibbs_exact_query(
    "gsw_sound_speed_t_exact",
    _sound_speed_stages,
    [
        # c = g_p·sqrt(g_tt/(g_tp² − g_tt·g_pp)); the per-dbar→per-Pa
        # scalings cancel exactly (1e-4 on g_p vs 1e-8 inside the sqrt).
        (
            "sound_speed",
            _q6(
                "(__gx_gp * sqrt(__gx_gtt / (__gx_gtp*__gx_gtp"
                " - __gx_gtt*__gx_gpp)))"
            ),
        ),
    ],
)

_gibbs_exact_query(
    "gsw_kappa_t_exact",
    _sound_speed_stages,
    [
        # isothermal compressibility −g_pp/g_p per Pa, emitted ×1e10
        # (O(4.2) numbers); Catalyst prunes the unused g_tt/g_tp stages.
        ("kappa_t_e10", _q9("(-1.0e6 * __gx_gpp / __gx_gp)")),
    ],
)


def _alpha_beta_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.teos10 import gibbs_sw_sql

    return [
        ("__gx_gp", gibbs_sw_sql("sa", "t", "p", dp=1)),
        ("__gx_gtp", gibbs_sw_sql("sa", "t", "p", dt=1, dp=1)),
        ("__gx_gsap", gibbs_sw_sql("sa", "t", "p", dsa=1, dp=1)),
    ]


_gibbs_exact_query(
    "gsw_alpha_beta_t_exact",
    _alpha_beta_stages,
    [
        ("alpha_wrt_t", _q12("(__gx_gtp / __gx_gp)")),
        ("beta_const_t", _q12("(-__gx_gsap / __gx_gp)")),
    ],
)


def _enthalpy_exact_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.teos10 import gibbs_sw_sql

    return [
        ("__gx_g", gibbs_sw_sql("sa", "t", "p")),
        ("__gx_gt", gibbs_sw_sql("sa", "t", "p", dt=1)),
    ]


_gibbs_exact_query(
    "gsw_enthalpy_t_exact",
    _enthalpy_exact_stages,
    [("enthalpy_t_exact", _q6("(__gx_g - (t + 273.15e0)*__gx_gt)"))],
)


def _chem_potential_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.teos10 import gibbs_sw_sql

    return [
        ("__gx_g", gibbs_sw_sql("sa", "t", "p")),
        ("__gx_gsa", gibbs_sw_sql("sa", "t", "p", dsa=1)),
        ("__gx_gsasa", gibbs_sw_sql("sa", "t", "p", dsa=2)),
    ]


_gibbs_exact_query(
    "gsw_chem_potential_dilution_t_exact",
    _chem_potential_stages,
    [
        # μ_W = (g − SA·g_SA) in J/g (the GSW unit); dilution
        # coefficient = SA·g_SASA in (J/kg)(g/kg)⁻² — both direct
        # Gibbs identities (IOC-2010 §2.9, §2.21); our envelope keeps
        # SA ≥ 30 g/kg so the SA→0 singularity the reference's
        # rearrangement avoids is never approached.
        ("chem_potential_water", _q9("(1.0e-3*(__gx_g - sa*__gx_gsa))")),
        ("dilution_coefficient", _q9("(sa*__gx_gsasa)")),
    ],
)


def _pot_rho_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        gibbs_sw_sql,
        pt0_from_t_sql,
    )

    # pt0 staged FIRST so the big Gibbs template substitutes a short
    # column name, not the full inversion text.
    return [
        ("__gx_pt0", pt0_from_t_sql("s", "t", "p")),
        ("__gx_gp0", gibbs_sw_sql("sa", "__gx_pt0", "0.0e0", dp=1)),
    ]


def _pot_rho_in_sql() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _IN_SQL,
        _SA_SQL,
    )

    return f"""
      SELECT l_orderkey, l_linenumber, s, t, p, {_SA_SQL} AS sa
      FROM ({_IN_SQL})
    """


def _pot_rho_oracle() -> str:
    staged = _stage_sql_cte(_pot_rho_in_sql(), _pot_rho_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           {_q6("(1.0e0 / (1.0e-4 * __gx_gp0))")} AS pot_rho
    FROM ({staged})
    """


@register("gsw_pot_rho_t_exact", oracle=_pot_rho_oracle())
def gsw_pot_rho_t_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential density (exact Gibbs): rho_t_exact(SA, pt0, 0) with
    the existing McDougall–Wotherspoon pt0_from_t inversion (GSW twin:
    gsw_pot_rho_t_exact — same composition, gsw_pt_from_t then
    gsw_rho_t_exact at the reference pressure)."""
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _inputs,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey", "l_linenumber", "s", "t", "p",
        F.expr(_SA_SQL).alias("sa"),
    )
    for sname, expr in _pot_rho_stages():
        df = df.withColumn(sname, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_q6("(1.0e0 / (1.0e-4 * __gx_gp0))")).alias("pot_rho"),
    )


# ===========================================================================
# Wave J — PSS-78 practical salinity / conductivity battery (GSW twins:
# gsw_SP_from_C, gsw_C_from_SP, gsw_SR_from_SP, gsw_SP_from_SR,
# gsw_SP_from_SK, gsw_Hill_ratio_at_SP2). Published UNESCO-1983 /
# Hill-1986 constants in functions/pss78.py; anchors: SP(C3515,
# t68=15, 0) = 35 and C(35, t68=15, 0) = C3515 to the standard's own
# closure (<1e-7), plus C↔SP roundtrips < 3e-14 across the envelope
# (tests). Envelope: SP in [28, 36] — the SP < 2 Hill branch never
# engages (documented; the ratio itself ships as its own surface).
# ===========================================================================
_SPC_IN_SQL = """
    SELECT l_orderkey, l_linenumber,
           CAST(30.0 + l_quantity % 30 AS DOUBLE) AS c,
           CAST(l_quantity % 30 AS DOUBLE) AS t,
           CAST(l_linenumber * 100.0 AS DOUBLE) AS p
    FROM lineitem
"""


def _spc_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.lit(30.0) + F.col("l_quantity") % 30).cast("double").alias("c"),
        (F.col("l_quantity") % 30).cast("double").alias("t"),
        (F.col("l_linenumber") * 100.0).cast("double").alias("p"),
    )


def _pss_query(name: str, in_sql: str, inputs_fn, stages_fn, outs):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = inputs_fn(spark, sf_dir)
        for sname, expr in stages_fn():
            df = df.withColumn(sname, F.expr(expr))
        return df.select(
            "l_orderkey",
            "l_linenumber",
            *[F.expr(e).alias(c) for c, e in outs],
        )

    staged = _stage_sql_cte(in_sql, stages_fn())
    sel = ",\n           ".join(f"{e} AS {c}" for c, e in outs)
    oracle = f"""
    SELECT l_orderkey, l_linenumber,
           {sel}
    FROM ({staged})
    """
    return register(name, oracle=oracle)(fn)


def _sp_from_c_stages():
    from cioos_siooc_data_transform_spark.functions.pss78 import (
        sp_from_c_stages,
    )

    return sp_from_c_stages("c", "t", "p")


_pss_query(
    "gsw_sp_from_c",
    _SPC_IN_SQL,
    _spc_inputs,
    _sp_from_c_stages,
    [("sp", _q9("__spc_sp"))],
)


def _c_from_sp_stages():
    from cioos_siooc_data_transform_spark.functions.pss78 import (
        c_from_sp_stages,
    )

    # s in [30, 35] — the SP >= 9 starting-polynomial branch.
    return c_from_sp_stages("s", "t", "p")


def _cfs_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cioos_siooc_data_transform_spark.plans.staged_r5 import _inputs

    return _inputs(spark, sf_dir)


_pss_query(
    "gsw_c_from_sp",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity % 30 AS DOUBLE) AS t,
           CAST(30.0 + l_discount * 50 AS DOUBLE) AS s,
           CAST(l_linenumber * 100.0 AS DOUBLE) AS p
    FROM lineitem
""",
    _cfs_inputs,
    _c_from_sp_stages,
    [("cond", _q9("__cfs_c"))],
)


def _hill_stages():
    from cioos_siooc_data_transform_spark.functions.pss78 import (
        hill_ratio_at_sp2_stages,
    )

    return hill_ratio_at_sp2_stages("t")


_pss_query(
    "gsw_hill_ratio_at_sp2",
    _SPC_IN_SQL,
    _spc_inputs,
    _hill_stages,
    [("hill_ratio", _q12("__hr_ratio"))],
)


def _scale_conv_stages():
    from cioos_siooc_data_transform_spark.functions.pss78 import (
        sp_from_sk_sql,
        sp_from_sr_sql,
        sr_from_sp_sql,
    )

    return [
        ("__sc_sr", sr_from_sp_sql("s")),
        ("__sc_sp_back", sp_from_sr_sql("__sc_sr")),
        ("__sc_sp_knudsen", sp_from_sk_sql("s")),
    ]


_pss_query(
    "gsw_salinity_scale_roundtrips",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity % 30 AS DOUBLE) AS t,
           CAST(30.0 + l_discount * 50 AS DOUBLE) AS s,
           CAST(l_linenumber * 100.0 AS DOUBLE) AS p
    FROM lineitem
""",
    _cfs_inputs,
    _scale_conv_stages,
    [
        ("sr_from_sp", _q9("__sc_sr")),
        ("sp_from_sr", _q9("__sc_sp_back")),
        ("sp_from_sk", _q9("__sc_sp_knudsen")),
    ],
)


# ===========================================================================
# Wave K — GSW freezing polynomial family (GSW twins:
# gsw_CT_freezing_poly, gsw_t_freezing_poly, gsw_SA_freezing_from_CT_poly,
# gsw_CT_freezing_first_derivatives_poly). The published TEOS-10
# freezing-point polynomial (functions/teos10.py::ct_freezing_poly_sql,
# McDougall/Barker/Feistel coefficients) with: the dissolved-air
# correction as a second column, the t_f inversion via Newton on
# ct_from_t (two steps, dCT/dt ≈ 1), the SA inversion via Newton on the
# polynomial itself, and the first derivatives minted by the symbolic
# differentiator (FD-pinned in tests). Map-only, zero shuffle.
# ===========================================================================
def _freeze_in_sql() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _IN_SQL,
        _SA_SQL,
    )

    return f"""
      SELECT l_orderkey, l_linenumber, s, t, p, {_SA_SQL} AS sa
      FROM ({_IN_SQL})
    """


def _freeze_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _inputs,
    )

    return _inputs(spark, sf_dir).select(
        "l_orderkey", "l_linenumber", "s", "t", "p",
        F.expr(_SA_SQL).alias("sa"),
    )


def _freeze_query(name: str, stages_fn, outs):
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
    oracle = f"""
    SELECT l_orderkey, l_linenumber,
           {sel}
    FROM ({staged})
    """
    return register(name, oracle=oracle)(fn)


def _ctf_poly_stages():
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_freezing_poly_sql,
    )

    return [
        ("__ctf0", ct_freezing_poly_sql("sa", "p", "0.0e0")),
        ("__ctf1", ct_freezing_poly_sql("sa", "p", "1.0e0")),
    ]


_freeze_query(
    "gsw_ct_freezing_poly",
    _ctf_poly_stages,
    [
        ("ct_freezing", _q9("__ctf0")),
        ("ct_freezing_airsat", _q9("__ctf1")),
    ],
)


def _tf_poly_stages():
    """t_freezing_poly = t such that CT(SA, t, p) = CT_freezing_poly:
    two Newton steps on the existing ct_from_t chain from t0 = ctf
    (dCT/dt within 2% of 1 over the envelope; residual after two steps
    < 1e-12 K, roundtrip-pinned)."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_freezing_poly_sql,
        ct_from_t_sql,
    )

    eps = "1.0e-3"
    stages = [
        ("__tfz_ctf", ct_freezing_poly_sql("sa", "p", "0.0e0")),
        ("__tfz_t0", "__tfz_ctf"),
    ]
    for i in range(2):
        cur = f"__tfz_t{i}"
        stages += [
            (
                f"__tfz_r{i}",
                f"({ct_from_t_sql('s', cur, 'p')} - __tfz_ctf)",
            ),
            (
                f"__tfz_d{i}",
                f"(({ct_from_t_sql('s', f'({cur} + {eps})', 'p')}"
                f" - {ct_from_t_sql('s', f'({cur} - {eps})', 'p')})"
                f"/(2.0e0*{eps}))",
            ),
            (f"__tfz_t{i + 1}", f"({cur} - __tfz_r{i}/__tfz_d{i})"),
        ]
    return stages


_freeze_query(
    "gsw_t_freezing_poly",
    _tf_poly_stages,
    [("t_freezing", _q9("__tfz_t2"))],
)


def _saf_stages():
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_freezing_poly_sql,
        sa_freezing_from_ct_poly_stages,
    )

    # Roundtrip construction: the target CT comes from the forward
    # polynomial at the grid's own SA, so sa_freezing must recover sa.
    return [("__saf_ct", ct_freezing_poly_sql("sa", "p", "0.0e0"))] + (
        sa_freezing_from_ct_poly_stages("__saf_ct", "p")
    )


_freeze_query(
    "gsw_sa_freezing_from_ct_poly",
    _saf_stages,
    [("sa_freezing", _q9("sa_freezing"))],
)


def _ctf_deriv_sql(sa: str, p: str, var: int) -> str:
    """∂CT_freezing_poly/∂SA (var=0, K per g/kg) or ∂/∂p (var=1, K per
    dbar) — symbolic derivative of the published polynomial
    (saturation_fraction = 0, like the reference's
    CT_freezing_first_derivatives_poly surface)."""
    from cioos_siooc_data_transform_spark.functions.symdiff import (
        derivative_sql,
    )
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_freezing_poly_sql,
    )

    orders = (1, 0) if var == 0 else (0, 1)
    return derivative_sql(ct_freezing_poly_sql, (sa, p), orders)


def _ctf_deriv_stages():
    return [
        ("__ctfd_sa", _ctf_deriv_sql("sa", "p", 0)),
        ("__ctfd_p", _ctf_deriv_sql("sa", "p", 1)),
    ]


_freeze_query(
    "gsw_ct_freezing_derivs_poly",
    _ctf_deriv_stages,
    [
        ("ctf_sa", _q9("__ctfd_sa")),
        # dCT_f/dp ~ -7.5e-4 K/dbar; emit x1e4 so the quantum is tiny
        # relative to the value.
        ("ctf_p_e4", _q9("(1.0e4*__ctfd_p)")),
    ],
)


# ===========================================================================
# Wave L — height/pressure conversions (GSW twins: gsw_z_from_p,
# gsw_p_from_z): Saunders-1981 gravity-integral solve with the
# published standard-ocean enthalpy/specvol integrals
# (functions/teos10.py), latitude-dependent normal gravity. Anchors:
# z_from_p(1000 dbar, 45°) = −989.50 m (published), p_from_z roundtrip
# < 1e-8 dbar (tests). Map-only, zero shuffle.
# ===========================================================================
_ZP_IN_SQL = """
    SELECT l_orderkey, l_linenumber,
           CAST(l_linenumber * 700.0 AS DOUBLE) AS p,
           CAST(l_orderkey % 120 - 60 AS DOUBLE) + 0.5 AS lat,
           -CAST(l_quantity AS DOUBLE) * 90.0 AS zin
    FROM lineitem
"""


def _zp_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_linenumber") * 700.0).cast("double").alias("p"),
        ((F.col("l_orderkey") % 120 - 60).cast("double") + 0.5).alias("lat"),
        (-F.col("l_quantity").cast("double") * 90.0).alias("zin"),
    )


def _zp_query(name: str, stages_fn, outs):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _zp_inputs(spark, sf_dir)
        for sname, expr in stages_fn():
            df = df.withColumn(sname, F.expr(expr))
        return df.select(
            "l_orderkey",
            "l_linenumber",
            *[F.expr(e).alias(c) for c, e in outs],
        )

    staged = _stage_sql_cte(_ZP_IN_SQL, stages_fn())
    sel = ",\n           ".join(f"{e} AS {c}" for c, e in outs)
    oracle = f"""
    SELECT l_orderkey, l_linenumber,
           {sel}
    FROM ({staged})
    """
    return register(name, oracle=oracle)(fn)


def _zfp_stages():
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        z_from_p_stages,
    )

    return z_from_p_stages("p", "lat")


_zp_query("gsw_z_from_p", _zfp_stages, [("z", _q6("z_out"))])


def _pfz_stages():
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        p_from_z_stages,
    )

    return p_from_z_stages("zin", "lat")


_zp_query("gsw_p_from_z", _pfz_stages, [("p_out", _q6("p_out"))])


# ===========================================================================
# Wave M — forward conversions + ice-melt equilibrium + lapse from CT
# (GSW twins: gsw_CT_from_pt, gsw_entropy_from_pt,
# gsw_melting_ice_equilibrium_sa_ct_ratio_poly,
# gsw_adiabatic_lapse_rate_from_CT).
# ===========================================================================
def _fwd_conv_stages():
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_pt_sql,
        entropy_from_pt_sql,
    )

    # The grid's t column doubles as the potential temperature input
    # (pt and t share the ITS-90 scale and range).
    return [
        ("__fc_ct", ct_from_pt_sql("sa", "t")),
        ("__fc_eta", entropy_from_pt_sql("sa", "t")),
    ]


_gibbs_exact_query(
    "gsw_ct_entropy_from_pt",
    _fwd_conv_stages,
    [
        ("ct_from_pt", _q9("__fc_ct")),
        ("entropy_from_pt", _q9("__fc_eta")),
    ],
)


def _melt_eq_stages():
    """SA/CT ratio of ice melting into seawater at equilibrium (both at
    the freezing point; GSW twin the _poly form): ratio =
    SA·h_CT / (h − h_Ih − SA·h_SA) with h from the 75-term staged
    enthalpy at (SA, CT_f), h_SA/h_CT the analytic first derivatives,
    h_Ih the IAPWS-06 ice enthalpy at (t_f, p)."""
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_freezing_poly_sql,
        enthalpy_first_derivatives_stages,
        enthalpy_stages,
        t_freezing_sql,
    )

    stages = [
        ("__me_ctf", ct_freezing_poly_sql("sa", "p", "0.0e0")),
        ("__me_tf", t_freezing_sql("s", "p")),
    ]
    stages += enthalpy_stages("sa", "__me_ctf", "p", x="__me_h_")
    stages += enthalpy_first_derivatives_stages(
        "sa", "__me_ctf", "p", x="__me_d_"
    )
    stages += gibbs_ice_stages("__me_tf", "p", x="__me_gi_", out="__me_")
    return stages


_freeze_query(
    "gsw_melting_ice_equilibrium_ratio",
    _melt_eq_stages,
    [
        (
            "sa_ct_ratio",
            _q9(
                "(sa*h_ct / (__me_h_out - __me_enthalpy_ice - sa*h_sa))"
            ),
        ),
    ],
)


def _lapse_ct_stages():
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        gibbs_sw_sql,
    )

    # The (t, CT) pair is matched by construction (CT computed from the
    # grid's own t), so evaluating the Gibbs lapse at t IS the
    # lapse-from-CT surface on this grid.
    return [
        ("__lc_ct", ct_from_t_sql("s", "t", "p")),
        ("__lc_gtp", gibbs_sw_sql("sa", "t", "p", dt=1, dp=1)),
        ("__lc_gtt", gibbs_sw_sql("sa", "t", "p", dt=2)),
    ]


def _lapse_ct_oracle() -> str:
    staged = _stage_sql_cte(_freeze_in_sql(), _lapse_ct_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           {_q9("__lc_ct")} AS ct,
           {_q9("(-1.0e4 * __lc_gtp / __lc_gtt)")} AS lapse_e8
    FROM ({staged})
    """


@register("gsw_adiabatic_lapse_rate_from_ct", oracle=_lapse_ct_oracle())
def gsw_adiabatic_lapse_rate_from_ct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adiabatic lapse rate from Conservative Temperature (GSW twin:
    gsw_adiabatic_lapse_rate_from_CT = −g_tp/g_tt at the in-situ
    temperature of that CT; here the grid supplies the matched (t, CT)
    pair, exposed alongside). Emitted ×1e8 (K/Pa values ~2e-8)."""
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _inputs,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey", "l_linenumber", "s", "t", "p",
        F.expr(_SA_SQL).alias("sa"),
    )
    for sname, expr in _lapse_ct_stages():
        df = df.withColumn(sname, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_q9("__lc_ct")).alias("ct"),
        F.expr(_q9("(-1.0e4 * __lc_gtp / __lc_gtt)")).alias(
            "lapse_e8"
        ),
    )


