"""Round-6 query slate: 50 live queries, each registered at import
with ``register``; strict-harness coverage in tests/test_staged_r6.py.

Content:
- Wave A — TPC-H completion: the five remaining query shapes (Q2 min-cost
  supplier, Q9 product profit, Q11 important stock, Q16 supplier-count
  by descriptor, Q20 potential promotion), adapted partsupp-free like
  the seventeen already live (supply cost derives from lineitem /
  retail price; availability from shipped quantity).
- Wave B — GSW round-out: RK4 potential temperature (engine +
  nested-stage oracle), CT via the RK4 path, sigma3/sigma4 deep-ocean
  anomalies, pt_from_CT by Newton inversion with a finite-difference
  derivative (portable: both engines run the identical IEEE tree).
- Wave C — analytics: gaps-and-islands order streaks, lag-1
  autocorrelation, YoY growth, per-type value-entropy, first/last
  customer deltas, top-2 concentration share, region->nation rollup
  share, recency bands.
- Wave D — LLM-pipeline: duplicate n-gram fraction (MassiveText
  repetition metric), cross-source vocabulary JS divergence, embedding
  norm outliers, kNN-graph degree stats, window-level line dedup,
  train/val contamination audit, sentence-budget chunking.
- Wave E — sketch merges: per-day HLL union vs exact, grouped KLL
  quantile merge audit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cioos_siooc_data_transform_spark.plans.registry import register
from cioos_siooc_data_transform_spark.session import read_table as _t


# Shared integer-cents idiom (identical on both engines; see
# plans/relational.py): floor(x*100 + 0.5) per row, summed as BIGINT.
def _cents(col: Column) -> Column:
    return F.floor(col * 100.0 + F.lit(0.5)).cast("long")


def pearson_r_from_sums(dp: int = 6) -> Column:
    """THE shared Pearson finisher for the exact-sum correlation family
    (one definition so the dp-rounding and double-cast conventions
    cannot drift between the eight call sites across staged_r6/r7):
    expects columns n, sx, sy, sxx, syy, sxy holding exact
    integer/decimal sums; returns floor(r * 10^dp + 0.5) / 10^dp."""
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    # Zero-variance inputs (single point, constant x or y) make the
    # denominator 0: guard to NULL so both engines agree on degenerate
    # corpora (oracles mirror with NULLIF(sqrt(...), 0.0)).
    den = F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))
    r = (nd * sxy - sx * sy) / den
    scale = float(10 ** dp)
    return F.when(den != F.lit(0.0), F.floor(r * scale + 0.5) / scale)


def ols_slope_from_sums(dp: int = 6, scale_div: float = 1.0) -> Column:
    """Shared OLS-slope finisher (columns n, sx, sy, sxx, sxy of exact
    sums): floor(slope / scale_div * 10^dp + 0.5) / 10^dp."""
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    # Same degenerate-input guard as pearson_r_from_sums (oracles
    # mirror with NULLIF(denominator, 0.0)).
    den = nd * sxx - sx * sx
    slope = (nd * sxy - sx * sy) / den
    scale = float(10 ** dp)
    return F.when(
        den != F.lit(0.0), F.floor(slope / scale_div * scale + 0.5) / scale
    )


# ===========================================================================
# Wave A — TPC-H completion (Q2, Q9, Q11, Q16, Q20), partsupp-free
# adaptations on the trimmed schema (cited shapes: TPC-H spec v3; the
# seventeen live q* queries set the adaptation conventions).
# ===========================================================================

# ---------------------------------------------------------------------------
# Q2 shape: min-cost supplier. Supply cost adapts to the minimum
# observed unit price (extendedprice/quantity) a supplier ever charged
# for the part; the correlated-min subquery keeps Q2's signature plan
# (per-part min + join-back, dims broadcast).
# ---------------------------------------------------------------------------
@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             CAST(min(floor(l_extendedprice / l_quantity * 100.0 + 0.5)) AS BIGINT)
               AS unit_cost_cents
      FROM lineitem GROUP BY 1, 2
    ),
    eligible AS (
      SELECT c.l_partkey, c.l_suppkey, c.unit_cost_cents,
             s.s_name, s.s_acctbal, n.n_name
      FROM cost c
      JOIN supplier s ON s.s_suppkey = c.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
    ),
    best AS (
      SELECT l_partkey, min(unit_cost_cents) AS best_cents
      FROM eligible GROUP BY 1
    )
    SELECT e.l_partkey AS part_key, p.p_name AS part_name,
           e.s_name AS supp_name, e.n_name AS nation_name,
           CAST(floor(e.s_acctbal * 100.0 + 0.5) AS BIGINT) AS acctbal_cents,
           e.unit_cost_cents
    FROM eligible e
    JOIN best b ON b.l_partkey = e.l_partkey
              AND b.best_cents = e.unit_cost_cents
    JOIN part p ON p.p_partkey = e.l_partkey
    WHERE p.p_type = 'ECONOMY' AND p.p_size <= 10
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier in a region for a part slice),
    partsupp-free: supply cost := the cheapest unit price the supplier
    ever shipped the part at. Plan: one (part, supp) agg on lineitem,
    dims (supplier ⋈ nation ⋈ region, part) broadcast into it, then the
    per-part MIN joined back on (partkey, cents) — the min agg and the
    join-back share the l_partkey shuffle key so AQE reuses the
    Exchange; no window over the fact table. Ties (several suppliers at
    the min) are all kept, exactly as Q2's ORDER/LIMIT presentation
    would before its cut."""
    li = _t(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(
            F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 100.0 + 0.5)
        )
        .cast("long")
        .alias("unit_cost_cents")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    dims = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eligible = cost.join(
        F.broadcast(dims), cost["l_suppkey"] == dims["s_suppkey"]
    )
    best = eligible.groupBy(F.col("l_partkey").alias("best_partkey")).agg(
        F.min("unit_cost_cents").alias("best_cents")
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_type") == "ECONOMY") & (F.col("p_size") <= 10))
        .select("p_partkey", "p_name")
    )
    return (
        eligible.join(
            best,
            (F.col("l_partkey") == F.col("best_partkey"))
            & (F.col("unit_cost_cents") == F.col("best_cents")),
        )
        .drop("best_partkey", "best_cents")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("l_partkey").alias("part_key"),
            F.col("p_name").alias("part_name"),
            F.col("s_name").alias("supp_name"),
            F.col("n_name").alias("nation_name"),
            _cents(F.col("s_acctbal")).alias("acctbal_cents"),
            "unit_cost_cents",
        )
    )


# ---------------------------------------------------------------------------
# Q9 shape: product-type profit by nation and year. Supply cost adapts
# to 60% of the part's retail price per unit.
# ---------------------------------------------------------------------------
@register(
    "q9_product_type_profit",
    oracle="""
    SELECT n.n_name AS nation_name,
           CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(sum(
             CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100.0 + 0.5) AS BIGINT)
             - CAST(floor(0.6 * p.p_retailprice * l.l_quantity * 100.0 + 0.5) AS BIGINT)
           ) AS BIGINT) AS profit_cents
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY 1, 2
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (profit per nation per year over a part-name
    slice), partsupp-free: supply cost := 0.6 × retail price per unit.
    Per-row revenue and cost are floored to cents BEFORE the difference
    and sum, so the aggregate is exact integers in any order. Plan:
    part (name-filtered — the filter pushes to the part scan) and
    supplier⋈nation broadcast; orders⋈lineitem is the one big join,
    keyed on orderkey; the final agg is map-side combinable on a
    (25 nations × 7 years) key space."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey", "n_name"
    )
    profit = (
        _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        - _cents(0.6 * F.col("p_retailprice") * F.col("l_quantity"))
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(sn), li["l_suppkey"] == sn["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).cast("long").alias("profit_cents"))
    )


# ---------------------------------------------------------------------------
# Q11 shape: important stock. Part value adapts to revenue shipped by
# the region's suppliers; threshold = 0.1% of the region total (scalar
# subquery → 1-row broadcast).
# ---------------------------------------------------------------------------
@register(
    "q11_important_stock",
    oracle="""
    WITH val AS (
      SELECT l.l_partkey,
             CAST(sum(floor(l.l_extendedprice * 100.0 + 0.5)) AS BIGINT) AS value_cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'ASIA'
      GROUP BY 1
    )
    SELECT l_partkey AS part_key, value_cents
    FROM val
    WHERE value_cents * 1000 > (SELECT sum(value_cents) FROM val)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (parts representing a significant share of a
    region's stock value), partsupp-free: value := revenue shipped by
    ASIA suppliers. The threshold comparison is exact integer
    arithmetic (value·1000 > total). Plan: one part-keyed agg; the
    grand total reuses that agg's result as a 1-row broadcast (scalar
    subquery), so the fact table is scanned once."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    sd = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    val = (
        li.join(F.broadcast(sd), li["l_suppkey"] == sd["s_suppkey"])
        .groupBy("l_partkey")
        .agg(F.sum(_cents(F.col("l_extendedprice"))).cast("long").alias("value_cents"))
    )
    total = val.agg(F.sum("value_cents").cast("long").alias("total_cents"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select(F.col("l_partkey").alias("part_key"), "value_cents")
    )


# ---------------------------------------------------------------------------
# Q16 shape: supplier count per part descriptor with exclusions.
# The "customer complaints" exclusion adapts to negative-balance
# suppliers; the relationship comes from lineitem instead of partsupp.
# ---------------------------------------------------------------------------
@register(
    "q16_parts_supplier_count",
    oracle="""
    SELECT p.p_brand AS brand, p.p_type AS type,
           CAST(p.p_size AS BIGINT) AS size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#3'
      AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def q16_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (distinct supplier count per brand/type/size
    slice, with exclusions), partsupp-free: the part⋈supplier
    relationship derives from lineitem, and the complaints exclusion
    adapts to negative-balance suppliers (NOT IN → left-anti against a
    broadcast 100-row dim). countDistinct shuffles (brand, type, size,
    suppkey) once then counts — Spark's two-phase distinct-agg; part
    filters push to the dim scan before the broadcast."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#3")
            & (~F.col("p_type").like("PROMO%"))
            & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(
            F.broadcast(bad),
            li["l_suppkey"] == bad["s_suppkey"],
            "left_anti",
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").cast("long").alias("size"),
        )
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q20 shape: potential part promotion. "Excess availability" adapts to:
# the supplier shipped more than half of their total quantity of the
# part during 1995 (1995 qty × 2 > all-time qty, exact integers).
# ---------------------------------------------------------------------------
@register(
    "q20_potential_promotion",
    oracle="""
    WITH pq AS (
      SELECT l.l_suppkey, l.l_partkey,
             CAST(sum(CASE WHEN l.l_shipdate >= TIMESTAMP '1995-01-01'
                            AND l.l_shipdate < TIMESTAMP '1996-01-01'
                           THEN CAST(floor(l.l_quantity + 0.5) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS qty_1995,
             CAST(sum(CAST(floor(l.l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS qty_total
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE 'small%'
      GROUP BY 1, 2
    ),
    promo_supp AS (
      SELECT DISTINCT l_suppkey FROM pq WHERE qty_1995 * 2 > qty_total
    )
    SELECT s.s_name AS supp_name, n.n_name AS nation_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'AMERICA'
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM promo_supp)
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers with excess availability of a
    part-name slice, restricted to a region), partsupp-free: excess :=
    1995 shipped quantity exceeds half the all-time shipped quantity of
    that (supplier, part). Quantities are integral in the data and
    floored defensively, so the ×2 comparison is exact. Plan: the
    conditional + total sums share ONE (supp, part) agg pass (CASE
    inside sum — no second scan); the qualifying-supplier set is a
    distinct projection of it, then a left-semi into the 100-row
    supplier dim."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    qty = F.floor(F.col("l_quantity") + 0.5).cast("long")
    in_1995 = (
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    pq = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_1995, qty).otherwise(F.lit(0)))
            .cast("long")
            .alias("qty_1995"),
            F.sum(qty).cast("long").alias("qty_total"),
        )
    )
    promo = (
        pq.filter(F.col("qty_1995") * 2 > F.col("qty_total"))
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    return (
        s.join(promo, s["s_suppkey"] == promo["l_suppkey"], "left_semi")
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("s_name").alias("supp_name"),
            F.col("n_name").alias("nation_name"),
        )
    )


# ===========================================================================
# Wave B — GSW round-out: RK4 theta, RK4-path CT, sigma3/sigma4,
# pt_from_CT Newton inversion. Shares the synthetic oceanographic input
# derivation (and _SA_SQL) with the round-5 slate so the family joins
# the live oceanography queries unchanged on activation.
# ===========================================================================
from cioos_siooc_data_transform_spark.plans.staged_r5 import (  # noqa: E402
    _IN_SQL,
    _SA_SQL,
    _inputs,
)


def _stage_sql(inner_sql: str, stages: list[tuple[str, str]]) -> str:
    """Fold (name, expr) stages into nested SELECTs — the oracle-side
    twin of a Spark withColumn chain. Each stage's expression references
    earlier stages BY NAME, so both engines evaluate each intermediate
    once and the SQL text stays linear in the stage count."""
    q = f"({inner_sql})"
    for name, expr in stages:
        q = f"(SELECT *, {expr} AS {name} FROM {q})"
    return q


def _theta_rk4_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.oceanography import (
        theta_rk4_stages,
    )

    staged = _stage_sql(_IN_SQL, theta_rk4_stages("s", "t", "p"))
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(theta_rk4 * 1.0e6 + 0.5) / 1.0e6 AS theta
    FROM {staged}
    """


@register("gsw_theta_rk4", oracle=_theta_rk4_oracle())
def gsw_theta_rk4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNESCO RK4 potential temperature (reference 0 dbar) — the
    high-accuracy twin of the one-shot Bryden polynomial already live
    (gsw_potential_temperature): four lapse-rate evaluations through
    the published Runge-Kutta weights, materialized as stage columns so
    the expression tree stays linear (functions/oceanography.theta_rk4;
    check value theta(40,40,10000,0)=36.89073 pinned in
    tests/test_oceanography_checkvalues.py). Pure codegen, zero
    shuffle; both engines run the identical IEEE operation tree, so the
    6-dp floor is safe."""
    from cioos_siooc_data_transform_spark.functions.oceanography import theta_rk4

    df = theta_rk4(_inputs(spark, sf_dir), "s", "t", "p")
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("theta_rk4") * 1.0e6 + 0.5) / 1.0e6).alias("theta"),
    )


def _ct_rk4_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.oceanography import (
        theta_rk4_stages,
    )
    from cioos_siooc_data_transform_spark.functions.teos10 import ct_from_pt_sql

    staged = _stage_sql(_IN_SQL, theta_rk4_stages("s", "t", "p"))
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor({ct_from_pt_sql("sa", "theta_rk4")} * 1.0e6 + 0.5) / 1.0e6
             AS ct_rk4
    FROM (SELECT *, {_SA_SQL} AS sa FROM {staged})
    """


@register("gsw_ct_from_t_rk4", oracle=_ct_rk4_oracle())
def gsw_ct_from_t_rk4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conservative Temperature via the RK4-integrated pt0 instead of
    the Bryden composition the live gsw_ct_from_t uses — within 3e-6 K
    of GSW's entropy-iterated CT at the TEOS-10 check point (pinned in
    tests/test_oceanography_checkvalues.py). Zero shuffle."""
    from cioos_siooc_data_transform_spark.functions.oceanography import theta_rk4
    from cioos_siooc_data_transform_spark.functions.teos10 import ct_from_pt_sql

    df = theta_rk4(_inputs(spark, sf_dir), "s", "t", "p").withColumn(
        "sa", F.expr(_SA_SQL)
    )
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor(F.expr(ct_from_pt_sql("sa", "theta_rk4")) * 1.0e6 + 0.5)
            / 1.0e6
        ).alias("ct_rk4"),
    )


def _sigma34_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        rho_sql,
    )

    return f"""
    SELECT l_orderkey, l_linenumber,
           round({rho_sql("sa", "ct", "3000.0e0")} - 1000.0e0, 6) AS sigma3,
           round({rho_sql("sa", "ct", "4000.0e0")} - 1000.0e0, 6) AS sigma4
    FROM (
      SELECT l_orderkey, l_linenumber, {_SA_SQL} AS sa,
             {ct_from_t_sql("s", "t", "p")} AS ct
      FROM ({_IN_SQL})
    )
    """


@register("gsw_sigma3_sigma4", oracle=_sigma34_oracle())
def gsw_sigma3_sigma4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential density anomalies referenced to 3000/4000 dbar —
    completes the sigma0..sigma4 family (abyssal watermass analysis)
    from the committed 75-term polynomial; CT materialized once, same
    shape as the live sigma1/sigma2 pair."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        rho_sql,
    )

    df = _inputs(spark, sf_dir)
    staged = df.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    return staged.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.expr(rho_sql("sa", "ct", "3000.0e0")) - 1000.0, 6).alias("sigma3"),
        F.round(F.expr(rho_sql("sa", "ct", "4000.0e0")) - 1000.0, 6).alias("sigma4"),
    )


# ---------------------------------------------------------------------------
# pt_from_CT: Newton inversion of the committed CT_from_pt polynomial.
# The derivative is a CENTRAL FINITE DIFFERENCE of the same polynomial
# (eps = 1e-4 -> O(eps^2) ~ 1e-8 relative error), which keeps the whole
# iteration one portable expression family — both engines run the
# identical IEEE tree, so no epsilon between them; accuracy of the
# INVERSION itself is pinned by the round-trip property test
# (pt_from_ct(ct_from_pt(pt)) == pt to < 1e-9 K in
# tests/test_oceanography_checkvalues.py).
# ---------------------------------------------------------------------------
def pt_from_ct_stages(sa: str, ct: str) -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.teos10 import ct_from_pt_sql

    eps = "1.0e-4"
    stages: list[tuple[str, str]] = [("_pt0", f"({ct})")]
    for i in range(2):
        cur = f"_pt{i}"
        stages += [
            (f"_f{i}", f"({ct_from_pt_sql(sa, cur)} - ({ct}))"),
            (
                f"_df{i}",
                f"(({ct_from_pt_sql(sa, f'({cur} + {eps})')}"
                f" - {ct_from_pt_sql(sa, f'({cur} - {eps})')}) / (2.0e0*{eps}))",
            ),
            (f"_pt{i + 1}", f"({cur} - _f{i}/_df{i})"),
        ]
    stages.append(("pt_from_ct", "_pt2"))
    return stages


def _pt_from_ct_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import ct_from_t_sql

    inner = f"""
    SELECT l_orderkey, l_linenumber, {_SA_SQL} AS sa,
           {ct_from_t_sql("s", "t", "p")} AS ct
    FROM ({_IN_SQL})
    """
    staged = _stage_sql(inner, pt_from_ct_stages("sa", "ct"))
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(pt_from_ct * 1.0e6 + 0.5) / 1.0e6 AS pt
    FROM {staged}
    """


@register("gsw_pt_from_ct", oracle=_pt_from_ct_oracle())
def gsw_pt_from_ct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential temperature from Conservative Temperature — the
    inverse conversion GSW provides as gsw_pt_from_CT, here two Newton
    steps on the committed CT_from_pt polynomial with a
    finite-difference derivative (initial guess pt=CT converges
    quadratically: |CT - pt| <~ 0.5 K -> sub-nK after two steps).
    Stage columns keep the nine polynomial evaluations linear in the
    plan; zero shuffle, pure codegen."""
    from cioos_siooc_data_transform_spark.functions.teos10 import ct_from_t_sql

    df = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    for name, expr in pt_from_ct_stages("sa", "ct"):
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("pt_from_ct") * 1.0e6 + 0.5) / 1.0e6).alias("pt"),
    )


# ===========================================================================
# Wave C — analytics: gaps-and-islands, lag-1 autocorrelation, YoY
# growth, per-type value entropy, customer first/last deltas, top-2
# concentration, region->nation rollup share, recency bands. All exact
# integer aggregation with one final rounded expression (repo-wide
# invariant: rounding decisions happen on identical values).
# ===========================================================================

# ---------------------------------------------------------------------------
# Gaps-and-islands: per-customer runs of consecutive ORDER MONTHS — the
# classic streak detection (month_index - dense_rank is constant within
# a run). Output: per customer, longest streak and number of islands.
# ---------------------------------------------------------------------------
@register(
    "orders_gap_islands",
    oracle="""
    WITH months AS (
      SELECT DISTINCT o_custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m
      FROM orders
    ),
    runs AS (
      SELECT o_custkey, m,
             m - CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY m) AS BIGINT)
               AS grp
      FROM months
    ),
    islands AS (
      SELECT o_custkey, grp, CAST(count(*) AS BIGINT) AS len
      FROM runs GROUP BY 1, 2
    )
    SELECT o_custkey AS cust_key,
           CAST(max(len) AS BIGINT) AS longest_streak_months,
           CAST(count(*) AS BIGINT) AS n_islands
    FROM islands GROUP BY 1
    """,
)
def orders_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over order months per customer. Shape: one
    distinct on (cust, month) — collapses the fact table before any
    window — then a customer-partitioned dense_rank (bounded partitions:
    months per customer <= 80 here, <= years*12 generally), then two
    map-side-combinable aggs. The distinct and the window share the
    o_custkey hash partitioning, so AQE plans one exchange."""
    o = _t(spark, sf_dir, "orders")
    months = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("m"),
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("m")
    runs = months.select(
        "o_custkey", "m", (F.col("m") - F.dense_rank().over(w)).alias("grp")
    )
    islands = runs.groupBy("o_custkey", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    return islands.groupBy(F.col("o_custkey").alias("cust_key")).agg(
        F.max("len").cast("long").alias("longest_streak_months"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
    )


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation of event values per type: the standard "is this
# metric trending or white noise" pre-training signal check. Values are
# quantized to integer micro-units FIRST, every OLS-style sum is an
# exact decimal, and the Pearson formula runs in double on identical
# inputs in both engines.
# ---------------------------------------------------------------------------
@register(
    "events_autocorr_lag1",
    oracle="""
    WITH q AS (
      SELECT event_type,
             CAST(floor(value * 1.0e6 + 0.5) AS HUGEINT) AS v,
             ts, event_id
      FROM events
    ),
    pairs AS (
      SELECT event_type, v AS y,
             lag(v) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS x
      FROM q
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM pairs WHERE x IS NOT NULL
      GROUP BY 1
    )
    SELECT event_type, n AS n_pairs,
           floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0.0)
                 * 1.0e6 + 0.5) / 1.0e6 AS autocorr_lag1
    FROM s
    """,
)
def events_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type lag-1 Pearson autocorrelation. One window pass builds
    the (v_t, v_{t-1}) pairs (partition bounded by per-type volume —
    pre-aggregate to time buckets first at 100 TB), then one exact
    integer agg; sums are decimal(38,0) so partition layout cannot
    change a single bit before the one rounded expression."""
    ev = _t(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.floor(F.col("value") * 1.0e6 + 0.5).cast("decimal(19,0)").alias("v"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    pairs = q.select(
        "event_type",
        F.col("v").alias("y"),
        F.lag("v").over(w).alias("x"),
    ).filter(F.col("x").isNotNull())
    s = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_pairs"),
        pearson_r_from_sums().alias("autocorr_lag1"),
    )


# ---------------------------------------------------------------------------
# Year-over-year revenue growth per market segment.
# ---------------------------------------------------------------------------
@register(
    "orders_yoy_growth",
    oracle="""
    WITH rev AS (
      SELECT c.c_mktsegment AS segment,
             CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             CAST(sum(floor(o.o_totalprice * 100.0 + 0.5)) AS BIGINT) AS revenue_cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    )
    SELECT segment, o_year, revenue_cents,
           CASE WHEN lag(revenue_cents) OVER w IS NULL THEN NULL
                ELSE floor((CAST(revenue_cents AS DOUBLE)
                            / CAST(lag(revenue_cents) OVER w AS DOUBLE) - 1.0)
                           * 1.0e6 + 0.5) / 1.0e6
           END AS yoy_growth
    FROM rev
    WINDOW w AS (PARTITION BY segment ORDER BY o_year)
    """,
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YoY growth per segment: integer-cents yearly rollup (map-side
    combinable, ~5 segments x 7 years out), then a lag window over the
    TINY aggregate — the window never touches the fact table. Growth is
    one rounded division of two exact integers."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rev = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("revenue_cents"))
    )
    w = Window.partitionBy("segment").orderBy("o_year")
    prev = F.lag("revenue_cents").over(w)
    growth = F.when(
        prev.isNull(), F.lit(None).cast("double")
    ).otherwise(
        F.floor(
            (F.col("revenue_cents").cast("double") / prev.cast("double") - 1.0)
            * 1.0e6
            + 0.5
        )
        / 1.0e6
    )
    return rev.select("segment", "o_year", "revenue_cents", growth.alias("yoy_growth"))


# ---------------------------------------------------------------------------
# Shannon entropy of the integer-binned value distribution per event
# type: H = ln(n) - (1/n) * sum(c_i * ln(c_i)). Each ln is quantized to
# integer micro-units BEFORE the weighted sum, so the aggregate is
# exact; the final (ln(n)*1e6*n - sum) / (n*1e6) division runs on
# identical integers in both engines.
# ---------------------------------------------------------------------------
@register(
    "events_value_entropy",
    oracle="""
    WITH bins AS (
      SELECT event_type, CAST(floor(value) AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_bins,
             sum(CAST(c AS HUGEINT)
                 * CAST(floor(ln(CAST(c AS DOUBLE)) * 1.0e6 + 0.5) AS HUGEINT))
               AS wsum
      FROM bins GROUP BY 1
    )
    SELECT event_type, n_bins,
           floor((CAST(n AS DOUBLE) * floor(ln(CAST(n AS DOUBLE)) * 1.0e6 + 0.5)
                  - CAST(wsum AS DOUBLE))
                 / CAST(n AS DOUBLE) + 0.5) / 1.0e6 AS entropy_nats
    FROM s
    """,
)
def events_value_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-distribution entropy per type (the 'is this feed
    degenerate' data-quality gate). Two map-side-combinable aggs; every
    per-bin term is an exact integer (micro-nat-quantized ln weighted
    by the exact count), so the sum is order-independent; one final
    double division + floor."""
    ev = _t(spark, sf_dir, "events")
    bins = ev.groupBy(
        "event_type", F.floor(F.col("value")).cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    lnq = F.floor(F.log(F.col("c").cast("double")) * 1.0e6 + 0.5).cast(
        "decimal(19,0)"
    )
    s = bins.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum(F.col("c").cast("decimal(19,0)") * lnq).alias("wsum"),
    )
    nd = F.col("n").cast("double")
    ln_n_q = F.floor(F.log(nd) * 1.0e6 + 0.5)
    entropy = F.floor((nd * ln_n_q - F.col("wsum").cast("double")) / nd + 0.5) / 1.0e6
    return s.select("event_type", "n_bins", entropy.alias("entropy_nats"))


# ---------------------------------------------------------------------------
# Customer lifetime summary: first/last order, tenure days, lifetime
# revenue — the base table for churn features.
# ---------------------------------------------------------------------------
@register(
    "customer_first_last_delta",
    oracle="""
    SELECT o_custkey AS cust_key,
           min(o_orderdate) AS first_order,
           max(o_orderdate) AS last_order,
           CAST(date_diff('day', min(o_orderdate), max(o_orderdate)) AS BIGINT)
             AS tenure_days,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(floor(o_totalprice * 100.0 + 0.5)) AS BIGINT) AS lifetime_cents
    FROM orders GROUP BY 1
    """,
)
def customer_first_last_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hash agg on o_custkey, all five outputs from the same pass
    (min/max/count/sum are all map-side combinable). Exact integers."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_custkey").alias("cust_key")).agg(
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate"))
        .cast("long")
        .alias("tenure_days"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("lifetime_cents"),
    )


# ---------------------------------------------------------------------------
# Top-2 concentration per event type: what share of events carry the
# two most frequent integer-binned values (deterministic tiebreak:
# count desc, bin asc).
# ---------------------------------------------------------------------------
@register(
    "events_top2_share",
    oracle="""
    WITH bins AS (
      SELECT event_type, CAST(floor(value) AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, c,
             row_number() OVER (PARTITION BY event_type ORDER BY c DESC, bin ASC)
               AS rn
      FROM bins
    )
    SELECT event_type,
           CAST(sum(CASE WHEN rn <= 2 THEN c ELSE 0 END) AS BIGINT) AS top2_count,
           CAST(sum(c) AS BIGINT) AS total_count,
           floor(sum(CASE WHEN rn <= 2 THEN c ELSE 0 END) * 1.0e6 / sum(c) + 0.5)
             / 1.0e6 AS top2_share
    FROM ranked GROUP BY 1
    """,
)
def events_top2_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration check per type. The window ranks the BINNED
    aggregate (bounded by value cardinality), never raw events; shares
    are one rounded division of exact integers."""
    ev = _t(spark, sf_dir, "events")
    bins = ev.groupBy(
        "event_type", F.floor(F.col("value")).cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("c").desc(), F.col("bin").asc()
    )
    ranked = bins.withColumn("rn", F.row_number().over(w))
    top2 = F.sum(F.when(F.col("rn") <= 2, F.col("c")).otherwise(F.lit(0))).cast(
        "long"
    )
    total = F.sum("c").cast("long")
    return ranked.groupBy("event_type").agg(
        top2.alias("top2_count"),
        total.alias("total_count"),
        (F.floor(top2 * 1.0e6 / total + 0.5) / 1.0e6).alias("top2_share"),
    )


# ---------------------------------------------------------------------------
# Region -> nation revenue rollup share: each nation's share of its
# region's customer revenue (two-level hierarchy share).
# ---------------------------------------------------------------------------
@register(
    "nation_revenue_share",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region_name, n.n_name AS nation_name,
             CAST(sum(floor(o.o_totalprice * 100.0 + 0.5)) AS BIGINT) AS revenue_cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    )
    SELECT region_name, nation_name, revenue_cents,
           floor(revenue_cents * 1.0e6
                 / CAST(sum(revenue_cents)
                        OVER (PARTITION BY region_name) AS BIGINT) + 0.5) / 1.0e6
             AS share_of_region
    FROM rev
    """,
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy share: the fact table aggregates once to (region,
    nation) integer cents — 25 rows — and the region-total window runs
    on that aggregate. Broadcast dims; one real shuffle (the agg)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region")
    dims = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
    )
    rev = (
        o.join(F.broadcast(dims), o["o_custkey"] == dims["c_custkey"])
        .groupBy("region_name", "nation_name")
        .agg(F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("revenue_cents"))
    )
    w = Window.partitionBy("region_name")
    total = F.sum("revenue_cents").over(w).cast("long")
    return rev.select(
        "region_name",
        "nation_name",
        "revenue_cents",
        (F.floor(F.col("revenue_cents") * 1.0e6 / total + 0.5) / 1.0e6).alias(
            "share_of_region"
        ),
    )


# ---------------------------------------------------------------------------
# Recency bands: customers bucketed by days since their last order,
# relative to the corpus max date (deterministic anchor, no now()).
# ---------------------------------------------------------------------------
@register(
    "customer_recency_bands",
    oracle="""
    WITH anchor AS (SELECT max(o_orderdate) AS maxd FROM orders),
    last_o AS (
      SELECT o_custkey, max(o_orderdate) AS lastd FROM orders GROUP BY 1
    ),
    banded AS (
      SELECT CASE
               WHEN date_diff('day', lastd, maxd) < 180 THEN 'active_0_179'
               WHEN date_diff('day', lastd, maxd) < 365 THEN 'cooling_180_364'
               WHEN date_diff('day', lastd, maxd) < 730 THEN 'dormant_365_729'
               ELSE 'lost_730_plus'
             END AS band
      FROM last_o CROSS JOIN anchor
    )
    SELECT band, CAST(count(*) AS BIGINT) AS n_customers
    FROM banded GROUP BY 1
    """,
)
def customer_recency_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency segmentation anchored at max(o_orderdate) (replayable —
    no wall clock). One agg + a 1-row broadcast anchor + one count agg;
    integer day arithmetic only."""
    o = _t(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("maxd"))
    last_o = o.groupBy("o_custkey").agg(F.max("o_orderdate").alias("lastd"))
    days = F.datediff(F.col("maxd"), F.col("lastd"))
    band = (
        F.when(days < 180, F.lit("active_0_179"))
        .when(days < 365, F.lit("cooling_180_364"))
        .when(days < 730, F.lit("dormant_365_729"))
        .otherwise(F.lit("lost_730_plus"))
    )
    return (
        last_o.crossJoin(F.broadcast(anchor))
        .select(band.alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


# ===========================================================================
# Wave D — LLM-pipeline additions: repetition metric, cross-source JS
# divergence, embedding-norm outliers, kNN-graph degree histogram,
# window-level (C4-line-style) dedup, split-contamination audit,
# char-class quality profile, LSH band-tuning audit.
# ===========================================================================
from cioos_siooc_data_transform_spark.operators.dedup import (  # noqa: E402
    word_shingles,
    words_expr,
)
from cioos_siooc_data_transform_spark.plans.dedup_queries import (  # noqa: E402
    _EMB_BUCKET_CAP,
    _HP_BITS_SQL,
    _HP_BUCKETS_SQL,
    _LSH_CAND_CTES,
    _SHINGLES_CTE,
    distinct_shingles,
)
from cioos_siooc_data_transform_spark.plans.sampling_queries import (  # noqa: E402
    deterministic_bucket,
)


# ---------------------------------------------------------------------------
# Duplicate n-gram fraction (the MassiveText/Gopher repetition metric,
# restated over 3-gram occurrences): what share of a document's 3-gram
# OCCURRENCES belong to a gram that repeats within the document.
# ---------------------------------------------------------------------------
@register(
    "text_duplicate_ngram_fraction",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    gr AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS s
      FROM w
    ),
    cnt AS (
      SELECT doc_id, s, CAST(count(*) AS BIGINT) AS c FROM gr GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_occurrences,
           floor(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1.0e6 / sum(c) + 0.5)
             / 1.0e6 AS dup_fraction
    FROM cnt GROUP BY 1
    HAVING sum(c) > 0
    """,
)
def text_duplicate_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition score (high fraction = boilerplate /
    degenerate generation loops — the MassiveText filter signal). One
    explode + two map-side-combinable aggs keyed by doc; exact integer
    counts, one rounded division."""
    docs = _t(spark, sf_dir, "documents")
    gr = docs.select(
        "doc_id",
        F.explode(word_shingles(words_expr(F.col("text")), 3)).alias("s"),
    )
    cnt = gr.groupBy("doc_id", "s").agg(F.count(F.lit(1)).cast("long").alias("c"))
    dup = F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0))).cast("long")
    tot = F.sum("c").cast("long")
    return (
        cnt.groupBy("doc_id")
        .agg(
            tot.alias("n_grams"),
            dup.alias("dup_occurrences"),
            (F.floor(dup * 1.0e6 / tot + 0.5) / 1.0e6).alias("dup_fraction"),
        )
        .filter(F.col("n_grams") > 0)
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between the vocabulary distributions of two
# source cohorts (src0-9 vs src10-19) — the corpus-mixture drift gauge.
# Per-term contributions are quantized to integer PICO-nats before the
# sum (the order-independence invariant); both engines evaluate the
# identical per-term double expression.
# ---------------------------------------------------------------------------
@register(
    "vocab_js_divergence",
    oracle="""
    WITH tok AS (
      SELECT CASE WHEN CAST(substr(source, 4) AS INTEGER) < 10 THEN 'a' ELSE 'b' END
               AS grp,
             unnest(string_split(text, ' ')) AS t
      FROM documents
    ),
    c AS (
      SELECT t,
             CAST(sum(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM tok GROUP BY 1
    ),
    n AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM c
    ),
    terms AS (
      SELECT CAST(floor((
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
      FROM c CROSS JOIN n
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_terms,
           floor(CAST(sum(tq) AS DOUBLE) / 1.0e6 + 0.5) / 1.0e6 AS js_nats
    FROM terms
    """,
)
def vocab_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JS(P||Q) over token distributions of two source cohorts. Shape:
    one token-count agg (map-side combinable), 1-row totals broadcast
    back, per-term double contribution quantized to integer pico-nats,
    exact sum, one rounded scalar out. At 100 TB the vocab agg is the
    only real shuffle; everything after is a bounded reduction."""
    docs = _t(spark, sf_dir, "documents")
    grp = F.when(
        F.substring(F.col("source"), 4, 10).cast("int") < 10, F.lit("a")
    ).otherwise(F.lit("b"))
    tok = docs.select(
        grp.alias("grp"), F.explode(words_expr(F.col("text"))).alias("t")
    )
    c = tok.groupBy("t").agg(
        F.sum(F.when(F.col("grp") == "a", 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(F.col("grp") == "b", 1).otherwise(0)).cast("long").alias("cb"),
    )
    n = c.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    j = c.crossJoin(F.broadcast(n))
    pa = F.col("ca").cast("double") / F.col("na").cast("double")
    pb = F.col("cb").cast("double") / F.col("nb").cast("double")
    m = 0.5 * (pa + pb)
    contrib = F.when(F.col("ca") > 0, 0.5 * pa * F.log(pa / m)).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("cb") > 0, 0.5 * pb * F.log(pb / m)).otherwise(F.lit(0.0))
    terms = j.select(
        F.floor(contrib * 1.0e12 + 0.5).cast("decimal(38,0)").alias("tq")
    )
    n_terms = c.agg(F.count(F.lit(1)).cast("long").alias("n_terms"))
    agg = terms.agg(
        (F.floor(F.sum("tq").cast("double") / 1.0e6 + 0.5) / 1.0e6).alias("js_nats")
    )
    return n_terms.crossJoin(F.broadcast(agg))


# ---------------------------------------------------------------------------
# Embedding subspace-energy outliers: the corpus embeddings are
# unit-normalized (total L2 energy == 1 exactly — verified against the
# testdata), so the informative per-vector scalar is the energy
# CONCENTRATION in a fixed subspace (first 8 of 64 dims). Vectors whose
# concentration z-score (rounded at 6 dp BEFORE the comparison, both
# engines) exceeds |2.5| are flagged — the cheap corrupted-embedding /
# collapsed-encoder screen before ANN indexing.
# ---------------------------------------------------------------------------
@register(
    "embedding_energy_outliers",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             CAST(floor(list_reduce(
               list_transform(CAST(embedding AS DOUBLE[])[1:8], x -> x * x),
               (a, b) -> a + b) * 1.0e6 + 0.5) AS BIGINT) AS energy_micro
      FROM embeddings
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(energy_micro AS HUGEINT)) AS s1,
             sum(CAST(energy_micro AS HUGEINT) * CAST(energy_micro AS HUGEINT)) AS s2
      FROM q
    )
    SELECT vec_id, energy_micro, z_rounded FROM (
      SELECT vec_id, energy_micro,
             floor((CAST(energy_micro AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                   / sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                          - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                            * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                   * 1.0e6 + 0.5) / 1.0e6 AS z_rounded
      FROM q CROSS JOIN s
    ) WHERE z_rounded >= 2.5 OR z_rounded <= -2.5
    """,
)
def embedding_energy_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row subspace energy is quantized to integer micro-units
    (zero shuffle), population mean/std come from exact integer sums,
    and the z-score is rounded identically on both engines before the
    boundary comparison (the robust_zscore_outliers discipline). One
    1-row broadcast; the scan is the only real work."""
    emb = _t(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        F.transform(
            F.slice(F.col("embedding").cast("array<double>"), 1, 8),
            lambda x: x * x,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    q = emb.select(
        "vec_id",
        F.floor(sq_sum * 1.0e6 + 0.5).cast("long").alias("energy_micro"),
    )
    nm = F.col("energy_micro").cast("decimal(19,0)")
    s = q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(nm).alias("s1"),
        F.sum(nm * nm).alias("s2"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    var = F.col("s2").cast("double") / nd - mean * mean
    z = (F.col("energy_micro").cast("double") - mean) / F.sqrt(var)
    return (
        q.crossJoin(F.broadcast(s))
        .select(
            "vec_id",
            "energy_micro",
            (F.floor(z * 1.0e6 + 0.5) / 1.0e6).alias("z_rounded"),
        )
        .filter((F.col("z_rounded") >= 2.5) | (F.col("z_rounded") <= -2.5))
    )


# ---------------------------------------------------------------------------
# kNN-graph degree histogram from the hyperplane-LSH candidate graph —
# the connectivity diagnostic for ANN index tuning (a spike at 0 means
# bands too selective; a fat tail means mega-buckets).
# ---------------------------------------------------------------------------
@register(
    "knn_graph_degree_stats",
    oracle=f"""
    WITH bits AS (
      SELECT vec_id, {_HP_BITS_SQL}
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    ),
    bk AS (SELECT vec_id, unnest([{_HP_BUCKETS_SQL}]) AS bucket FROM bits),
    guarded AS (
      SELECT vec_id, bucket FROM (
        SELECT vec_id, bucket, count(*) OVER (PARTITION BY bucket) AS n FROM bk
      ) WHERE n <= {{cap}}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM guarded a JOIN guarded b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    und AS (
      SELECT doc_a AS v, doc_b AS w FROM cand
      UNION ALL
      SELECT doc_b AS v, doc_a AS w FROM cand
    ),
    deg AS (
      SELECT e.vec_id, CAST(COALESCE(d.dg, 0) AS BIGINT) AS degree
      FROM embeddings e
      LEFT JOIN (SELECT v, count(*) AS dg FROM und GROUP BY 1) d
        ON d.v = e.vec_id
    )
    SELECT degree, CAST(count(*) AS BIGINT) AS n_vectors
    FROM deg GROUP BY 1
    """.format(cap=_EMB_BUCKET_CAP),
)
def knn_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the guarded LSH candidate graph (shared
    hyperplane bank — same buckets the dedup/ANN paths use). cand pairs
    are distinct, so per-vertex degree = distinct neighbors; 0-degree
    vectors are kept via the left join. Histogram out: bounded rows."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        hyperplane_lsh_buckets,
        lsh_candidate_pairs,
    )
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        _EMB_BANDS,
        _EMB_HP,
    )

    emb = _t(spark, sf_dir, "embeddings")
    buckets = hyperplane_lsh_buckets(emb, "vec_id", "embedding", _EMB_HP, _EMB_BANDS)
    cand = lsh_candidate_pairs(buckets, "vec_id", max_bucket_size=_EMB_BUCKET_CAP)
    und = cand.select(F.col("doc_a").alias("v")).unionAll(
        cand.select(F.col("doc_b").alias("v"))
    )
    d = und.groupBy("v").agg(F.count(F.lit(1)).alias("dg"))
    deg = (
        emb.select("vec_id")
        .join(d, emb["vec_id"] == d["v"], "left")
        .select(F.coalesce(F.col("dg"), F.lit(0)).cast("long").alias("degree"))
    )
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )


# ---------------------------------------------------------------------------
# Window-level dedup (C4's line-dedup restated for the unpunctuated
# corpus): split each document into consecutive NON-OVERLAPPING 8-word
# windows; a window is boilerplate when its exact text appears in >= 2
# DISTINCT documents; report each document's boilerplate coverage.
# ---------------------------------------------------------------------------
@register(
    "dedup_window_lines",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    wins AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(0, len(words) // 8 - 1),
                    k -> array_to_string(words[k*8+1 : k*8+8], ' '))) AS win
      FROM w
      WHERE len(words) >= 8
    ),
    cross_doc AS (
      SELECT win FROM wins GROUP BY win HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN cd.win IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_windows,
           floor(sum(CASE WHEN cd.win IS NOT NULL THEN 1 ELSE 0 END) * 1.0e6
                 / count(*) + 0.5) / 1.0e6 AS dup_fraction
    FROM wins LEFT JOIN cross_doc cd USING (win)
    GROUP BY doc_id
    """,
)
def dedup_window_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate coverage per document. The window text derives from
    the words ARRAY by slicing (row-local — no per-window string
    re-tokenization, no positional window shuffle); the cross-doc test
    is one distinct-count agg on window text (map-side combinable)
    joined back as a semi-ish left join. At 100 TB hash the window text
    to 64 bits first so the shuffle carries 8 bytes, not 8 words."""
    docs = _t(spark, sf_dir, "documents")
    words = words_expr(F.col("text"))
    wins = (
        docs.select("doc_id", words.alias("words"))
        .filter(F.size("words") >= 8)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), (F.size("words") / 8).cast("int") - 1),
                    lambda k: F.array_join(
                        F.slice(F.col("words"), k * 8 + 1, 8), " "
                    ),
                )
            ).alias("win"),
        )
    )
    cross_doc = (
        wins.groupBy("win")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("win", F.lit(1).alias("_dup"))
    )
    dup = F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0)).cast("long")
    tot = F.count(F.lit(1)).cast("long")
    return (
        wins.join(cross_doc, "win", "left")
        .groupBy("doc_id")
        .agg(
            tot.alias("n_windows"),
            dup.alias("dup_windows"),
            (F.floor(dup * 1.0e6 / tot + 0.5) / 1.0e6).alias("dup_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# Split-contamination audit: after the hash-keyed 80/10/10 split (the
# SAME deterministic_bucket expression as train_val_test_split), count
# val/test documents whose exact digest also appears in train, and val/
# test documents sharing >= 5 distinct 3-gram shingles with any train
# doc (near-dup leakage) via the capped inverted index.
# ---------------------------------------------------------------------------
@register(
    "contamination_split_audit",
    oracle="""
    WITH split AS (
      SELECT doc_id, md5(text) AS digest, text,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                           AS INTEGER) % 100 < 80
                  THEN 'train' ELSE 'holdout' END AS part
      FROM documents
    ),
    w AS (SELECT doc_id, part, string_split(text, ' ') AS words FROM split),
    sh AS (
      SELECT DISTINCT doc_id, part, s FROM (
        SELECT doc_id, part,
               unnest(list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS s
        FROM w
      )
    ),
    keep AS (
      SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) <= 20
    ),
    overlap AS (
      SELECT h.doc_id, t.doc_id AS train_doc, count(*) AS n_shared
      FROM sh h
      JOIN keep k ON k.s = h.s
      JOIN sh t ON t.s = h.s AND t.part = 'train'
      WHERE h.part = 'holdout'
      GROUP BY 1, 2
    ),
    near AS (SELECT DISTINCT doc_id FROM overlap WHERE n_shared >= 5),
    exact AS (
      SELECT DISTINCT h.doc_id
      FROM split h JOIN split t ON t.digest = h.digest AND t.part = 'train'
      WHERE h.part = 'holdout'
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM split WHERE part = 'train')
             AS n_train,
           (SELECT CAST(count(*) AS BIGINT) FROM split WHERE part = 'holdout')
             AS n_holdout,
           (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact_leak,
           (SELECT CAST(count(*) AS BIGINT) FROM near) AS n_near_leak
    """,
)
def contamination_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The leakage gate every train/val split needs: exact-digest
    membership (train digests broadcast into the holdout side) plus
    near-dup leakage through the document-frequency-capped shingle
    inverted index (holdout x train only — never holdout x holdout or
    train x train). One row out; all counts exact."""
    docs = _t(spark, sf_dir, "documents")
    part = F.when(deterministic_bucket(F.col("doc_id")) < 80, "train").otherwise(
        "holdout"
    )
    split = docs.select(
        "doc_id", F.md5(F.col("text")).alias("digest"), "text", part.alias("part")
    )
    sh = split.select(
        "doc_id",
        "part",
        F.explode(
            F.array_distinct(word_shingles(words_expr(F.col("text")), 3))
        ).alias("s"),
    ).distinct()
    keep = (
        sh.groupBy("s")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= 20)
        .select("s")
    )
    shk = sh.join(keep, "s", "left_semi")
    h = shk.filter(F.col("part") == "holdout").select("doc_id", "s")
    t = shk.filter(F.col("part") == "train").select(
        F.col("doc_id").alias("train_doc"), "s"
    )
    near = (
        h.join(t, "s")
        .groupBy("doc_id", "train_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
        .select("doc_id")
        .distinct()
    )
    train_digests = (
        split.filter(F.col("part") == "train").select("digest").distinct()
    )
    exact = (
        split.filter(F.col("part") == "holdout")
        .join(F.broadcast(train_digests), "digest", "left_semi")
        .select("doc_id")
        .distinct()
    )
    n_train = split.filter(F.col("part") == "train").agg(
        F.count(F.lit(1)).cast("long").alias("n_train")
    )
    n_holdout = split.filter(F.col("part") == "holdout").agg(
        F.count(F.lit(1)).cast("long").alias("n_holdout")
    )
    n_exact = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact_leak"))
    n_near = near.agg(F.count(F.lit(1)).cast("long").alias("n_near_leak"))
    return (
        n_train.crossJoin(F.broadcast(n_holdout))
        .crossJoin(F.broadcast(n_exact))
        .crossJoin(F.broadcast(n_near))
    )


# ---------------------------------------------------------------------------
# Character-class profile per language: alpha/digit/space/other ratios —
# the first-pass OCR/encoding quality screen, all integer arithmetic.
# ---------------------------------------------------------------------------
@register(
    "text_char_class_profile",
    oracle="""
    WITH per_doc AS (
      SELECT lang,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
               AS n_alpha,
             CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
               AS n_digit,
             CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS BIGINT) AS n_space
      FROM documents
    )
    SELECT lang,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           floor(sum(n_alpha) * 1.0e6 / sum(n_chars) + 0.5) / 1.0e6 AS alpha_ratio,
           floor(sum(n_digit) * 1.0e6 / sum(n_chars) + 0.5) / 1.0e6 AS digit_ratio,
           floor(sum(n_space) * 1.0e6 / sum(n_chars) + 0.5) / 1.0e6 AS space_ratio
    FROM per_doc GROUP BY lang
    """,
)
def text_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language char-class ratios from exact per-doc integer counts
    (regexp_replace + length — row-local codegen), one small agg, three
    rounded divisions. The corpus is single-byte here; at 100 TB swap
    length() for a codepoint counter and add a UTF-8-validity class."""
    docs = _t(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("long")
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", "")).cast("long")
    n_digit = F.length(F.regexp_replace(F.col("text"), "[^0-9]", "")).cast("long")
    n_space = F.length(F.regexp_replace(F.col("text"), "[^ ]", "")).cast("long")
    per_doc = docs.select(
        "lang",
        n_chars.alias("n_chars"),
        n_alpha.alias("n_alpha"),
        n_digit.alias("n_digit"),
        n_space.alias("n_space"),
    )
    tot = F.sum("n_chars").cast("long")
    ratio = lambda c: F.floor(F.sum(c) * 1.0e6 / tot + 0.5) / 1.0e6  # noqa: E731
    return per_doc.groupBy("lang").agg(
        tot.alias("total_chars"),
        ratio("n_alpha").alias("alpha_ratio"),
        ratio("n_digit").alias("digit_ratio"),
        ratio("n_space").alias("space_ratio"),
    )


# ---------------------------------------------------------------------------
# LSH band-tuning audit: the SAME 8 minhashes banded two ways —
# 4 bands x 2 rows (high recall, the production config) vs 2 bands x
# 4 rows (high precision) — with candidate counts and >= 0.5-Jaccard
# confirm rates side by side. This is the measured S-curve trade-off a
# 100 TB dedup deployment tunes on, as a query instead of a notebook.
# ---------------------------------------------------------------------------
@register(
    "minhash_band_tuning_audit",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_LSH_CAND_CTES},
    bands2 AS (
      SELECT doc_id, unnest([
        md5('0' || h1 || h2 || h3 || h4), md5('1' || h5 || h6 || h7 || h8)
      ]) AS bucket
      FROM sig
    ),
    guarded2 AS (
      SELECT doc_id, bucket FROM (
        SELECT doc_id, bucket, count(*) OVER (PARTITION BY bucket) AS n FROM bands2
      ) WHERE n <= 50
    ),
    cand2 AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM guarded2 a JOIN guarded2 b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    conf4 AS (
      SELECT count(*) AS n FROM (
        SELECT c.doc_a, c.doc_b,
               round(count(*) / (sa.n + sb.n - count(*)), 6) AS j
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        GROUP BY c.doc_a, c.doc_b, sa.n, sb.n
      ) WHERE j >= 0.5
    ),
    conf2 AS (
      SELECT count(*) AS n FROM (
        SELECT c.doc_a, c.doc_b,
               round(count(*) / (sa.n + sb.n - count(*)), 6) AS j
        FROM cand2 c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        GROUP BY c.doc_a, c.doc_b, sa.n, sb.n
      ) WHERE j >= 0.5
    )
    SELECT * FROM (
      SELECT '4x2' AS config,
             (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
             (SELECT CAST(n AS BIGINT) FROM conf4) AS n_confirmed
      UNION ALL
      SELECT '2x4' AS config,
             (SELECT CAST(count(*) AS BIGINT) FROM cand2) AS n_candidates,
             (SELECT CAST(n AS BIGINT) FROM conf2) AS n_confirmed
    )
    """,
)
def minhash_band_tuning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two band configurations over ONE signature pass (the sig subtree
    is shared — Spark reuses its Exchange across both band explosions),
    each confirmed with exact Jaccard on candidates only. Output is two
    rows of exact counts; precision/recall arithmetic is the reader's
    division to keep every hashed value an integer."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        jaccard_for_pairs,
        lsh_band_buckets,
        lsh_candidate_pairs,
        minhash_signature,
    )

    sh = distinct_shingles(spark, sf_dir)
    sig = minhash_signature(sh, "doc_id", "s", num_hashes=8, hash_family="md5")
    rows = []
    for config, bands in (("4x2", 4), ("2x4", 2)):
        buckets = lsh_band_buckets(sig, "doc_id", num_hashes=8, bands=bands)
        cand = lsh_candidate_pairs(buckets, "doc_id", max_bucket_size=50)
        confirmed = jaccard_for_pairs(cand, sh, "doc_id", "s").filter(
            F.col("jaccard") >= 0.5
        )
        n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
        n_conf = confirmed.agg(F.count(F.lit(1)).cast("long").alias("n_confirmed"))
        rows.append(
            n_cand.crossJoin(F.broadcast(n_conf)).select(
                F.lit(config).alias("config"), "n_candidates", "n_confirmed"
            )
        )
    return rows[0].unionByName(rows[1])


# ===========================================================================
# Wave E — re-aggregatable sketch merges (the DataSketches HLL surface
# Spark exposes natively). The sketch bytes are engine-specific, so the
# driver-checked contract is the TOLERANCE pattern sketch_distinct_users
# established: exact values + a boolean the oracle pins TRUE.
# ===========================================================================

# ---------------------------------------------------------------------------
# Daily HLL sketches merged across the month: the shape that matters at
# 100 TB — per-partition sketches persist (bytes, mergeable), and any
# date-range cardinality is a UNION of sketches instead of a re-scan.
# ---------------------------------------------------------------------------
@register(
    "sketch_hll_merge_daily",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           TRUE AS merged_within_5pct
    FROM events GROUP BY event_type
    """,
)
def sketch_hll_merge_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level sketch rollup: hll_sketch_agg(user_id) per (type, day)
    — the persisted granular layer — then hll_union_agg per type. The
    merged estimate must land within 5% of the exact month-wide
    distinct count (lgConfigK=14 → ~0.8% rsd, wide margin); a sketch
    regression (wrong lg_k, hash change, broken merge) flips the
    boolean and fails the driver's hash-match. Exact side computed in
    the SAME plan for the comparison."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("_est"),
        F.countDistinct("day").cast("long").alias("n_days"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            "n_days",
            (
                F.abs(F.col("_est") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("merged_within_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# HLL set algebra: |A ∩ B| via inclusion-exclusion on mergeable
# sketches (|A| + |B| - |A ∪ B|) — audience-overlap estimation without
# a join. Tolerance is 10% of the UNION size (inclusion-exclusion
# compounds the per-sketch error).
# ---------------------------------------------------------------------------
@register(
    "sketch_hll_intersection",
    oracle="""
    WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    x AS (SELECT CAST(count(*) AS BIGINT) AS exact_overlap
          FROM a JOIN b USING (user_id))
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_click_users,
           (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_purchase_users,
           (SELECT exact_overlap FROM x) AS exact_overlap,
           TRUE AS estimate_within_10pct_of_union
    """,
)
def sketch_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap of click vs purchase audiences from three sketch reads
    (A, B, A∪B) — never a user-level join. The boolean asserts the
    inclusion-exclusion estimate lands within 10% of the exact UNION
    cardinality of the exact overlap; exact sides share the same scan."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    buys = ev.filter(F.col("event_type") == "purchase")
    sk = (
        clicks.agg(F.expr("hll_sketch_agg(user_id, 14)").alias("ska"))
        .crossJoin(buys.agg(F.expr("hll_sketch_agg(user_id, 14)").alias("skb")))
        .select(
            F.expr("hll_sketch_estimate(ska)").alias("_ea"),
            F.expr("hll_sketch_estimate(skb)").alias("_eb"),
            F.expr("hll_sketch_estimate(hll_union(ska, skb))").alias("_eu"),
        )
    )
    exact = (
        clicks.select("user_id")
        .distinct()
        .join(buys.select("user_id").distinct(), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_overlap"))
    )
    na = clicks.agg(F.countDistinct("user_id").cast("long").alias("n_click_users"))
    nb = buys.agg(F.countDistinct("user_id").cast("long").alias("n_purchase_users"))
    est = F.col("_ea") + F.col("_eb") - F.col("_eu")
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(sk))
        .select(
            "n_click_users",
            "n_purchase_users",
            "exact_overlap",
            (
                F.abs(est - F.col("exact_overlap")) <= 0.10 * F.col("_eu")
            ).alias("estimate_within_10pct_of_union"),
        )
    )


# ===========================================================================
# Wave F — reference-vertical end-to-end: IOS profile sigma-theta
# (parse -> mask -> pivot -> EOS-80 potential density), the CTD-derived
# quantity next to the live ios_profile_sound_speed.
# ===========================================================================
def _ios_sigma_theta_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import pt0_from_t_sql
    from cioos_siooc_data_transform_spark.plans.staged_r5 import _rho0_sql

    return f"""
    WITH rec AS (
      SELECT * FROM (VALUES
        ('sample-2024-001-0007', 0, 1.0, 7.1, 30.1),
        ('sample-2024-001-0007', 1, 2.0, 8.2, 30.8),
        ('sample-2024-001-0007', 2, 3.0, CAST(NULL AS DOUBLE), 31.2),
        ('sample-2024-001-0007', 3, 4.5, 9.9, 31.5)
      ) AS t(file_id, record_idx, depth, temp, sal)
    )
    SELECT file_id, record_idx, CAST(depth AS DOUBLE) AS depth,
           round({_rho0_sql("sal", "theta")} - 1000.0e0, 6) AS sigma_theta
    FROM (SELECT *, {pt0_from_t_sql("sal", "temp", "depth")} AS theta FROM rec)
    """


@register("ios_profile_sigma_theta", oracle=_ios_sigma_theta_oracle())
def ios_profile_sigma_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth/temperature/salinity pivot of the masked long-format IOS
    measurements, then sigma-theta = rho0(S, theta(S, T, p)) - 1000
    with pressure approximated by depth in dbar (the shallow-profile
    convention; <0.5% at these depths). The pad-masked temperature
    propagates to NULL. Same per-session parse cache as every ios_*
    query — one Python crossing total; the physics is the identical
    SQL template on both engines."""
    from cioos_siooc_data_transform_spark.functions.teos10 import pt0_from_t_sql
    from cioos_siooc_data_transform_spark.plans.ios_queries import _parsed_sample
    from cioos_siooc_data_transform_spark.plans.staged_r5 import _rho0_sql
    from cioos_siooc_data_transform_spark.sources.ios_source import (
        ios_measurements_masked,
    )

    meas = ios_measurements_masked(_parsed_sample(spark))
    pivoted = meas.groupBy("file_id", "record_idx").agg(
        F.max(F.when(F.col("channel_idx") == 1, F.col("value_num"))).alias("depth"),
        F.max(F.when(F.col("channel_idx") == 2, F.col("value_num"))).alias("temp"),
        F.max(F.when(F.col("channel_idx") == 3, F.col("value_num"))).alias("sal"),
    )
    return (
        pivoted.withColumn("theta", F.expr(pt0_from_t_sql("sal", "temp", "depth")))
        .select(
            "file_id",
            F.col("record_idx").cast("int").alias("record_idx"),
            "depth",
            F.round(F.expr(_rho0_sql("sal", "theta")) - 1000.0, 6).alias(
                "sigma_theta"
            ),
        )
    )


# ===========================================================================
# Wave G — forward-looking as-of join + conversion-time distribution.
# ===========================================================================

# ---------------------------------------------------------------------------
# Forward as-of: for every 'view' event, the NEXT 'purchase' by the
# same user STRICTLY after it, within a 24 h tolerance. The union +
# DESC-scan window trick: scanning time backwards, the most recently
# seen purchase is exactly the earliest future one, so one window pass
# replaces a range self-join.
# ---------------------------------------------------------------------------
@register(
    "asof_join_forward",
    oracle="""
    WITH u AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS p_us
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    scanned AS (
      SELECT user_id, event_id, ts, event_type,
             last_value(p_us IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts DESC, CASE WHEN event_type = 'view' THEN 0 ELSE 1 END ASC,
                        event_id DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS next_p_us
      FROM u
    )
    SELECT event_id AS view_event_id, user_id, ts AS view_ts,
           CASE WHEN next_p_us - epoch_us(ts) <= 86400000000
                THEN CAST(next_p_us AS BIGINT) END AS next_purchase_us,
           CASE WHEN next_p_us - epoch_us(ts) <= 86400000000
                THEN CAST(next_p_us - epoch_us(ts) AS BIGINT) END AS gap_us
    FROM scanned WHERE event_type = 'view'
    """,
)
def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of without a range join: one user-partitioned window
    over the DESC time scan (ties broken so an equal-timestamp purchase
    is NOT 'after' the view — strictly-after semantics). Partition size
    is per-user event volume; at 100 TB pre-bucket users by day first.
    Epoch microseconds keep every comparison integer-exact."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    u = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(
            F.col("event_type") == "purchase", F.unix_micros("ts")
        ).alias("p_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").desc(),
            F.when(F.col("event_type") == "view", 0).otherwise(1).asc(),
            F.col("event_id").desc(),
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scanned = u.withColumn("next_p_us", F.last("p_us", ignorenulls=True).over(w))
    within = (F.col("next_p_us") - F.unix_micros("ts")) <= 86400000000
    return scanned.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
        F.when(within, F.col("next_p_us")).cast("long").alias("next_purchase_us"),
        F.when(within, F.col("next_p_us") - F.unix_micros("ts"))
        .cast("long")
        .alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Conversion-time distribution built on the forward as-of: exact count,
# mean (floored micro), and exact DISCRETE median (no interpolation —
# element at floor((n-1)/2) of the sorted gaps, engine-identical).
# ---------------------------------------------------------------------------
@register(
    "funnel_time_to_convert",
    oracle="""
    WITH u AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS p_us
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    scanned AS (
      SELECT user_id, event_id, ts, event_type,
             last_value(p_us IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts DESC, CASE WHEN event_type = 'view' THEN 0 ELSE 1 END ASC,
                        event_id DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS next_p_us
      FROM u
    ),
    gaps AS (
      SELECT CAST(next_p_us - epoch_us(ts) AS BIGINT) AS gap_us
      FROM scanned
      WHERE event_type = 'view' AND next_p_us - epoch_us(ts) <= 86400000000
    ),
    ranked AS (
      SELECT gap_us,
             row_number() OVER (ORDER BY gap_us, 1) AS rn,
             count(*) OVER () AS n
      FROM gaps
    )
    SELECT CAST(max(n) AS BIGINT) AS n_conversions,
           CAST(floor(sum(gap_us) / max(n)) AS BIGINT) AS mean_gap_us,
           CAST(max(CASE WHEN rn = (n - 1) // 2 + 1 THEN gap_us END) AS BIGINT)
             AS median_gap_us
    FROM ranked
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View->purchase latency summary over the forward-as-of gaps. The
    median is the exact order statistic, ranked via
    ranked_cumsum_two_pass (round-9 migration — the conversion set
    scales with the data; duplicate gap values permute ranks only
    WITHIN equal values, so the rn-th smallest VALUE is unaffected);
    the total is a 1-row broadcast aggregate; mean = floor(sum/n) on
    exact integers."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    gaps = (
        asof_join_forward(spark, sf_dir)
        .filter(F.col("gap_us").isNotNull())
        .select("gap_us")
    )
    tot = gaps.agg(F.count(F.lit(1)).alias("n"))
    ranked = (
        ranked_cumsum_two_pass(
            gaps, "gap_us", "gap_us",
            out_rank="rn", out_cum="__cum_unused", ascending=True,
        )
        .crossJoin(F.broadcast(tot))
        .select("gap_us", "rn", "n")
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_conversions"),
        F.floor(F.sum("gap_us") / F.max("n")).cast("long").alias("mean_gap_us"),
        F.max(
            F.when(
                F.col("rn") == ((F.col("n") - 1) / 2).cast("long") + 1,
                F.col("gap_us"),
            )
        )
        .cast("long")
        .alias("median_gap_us"),
    )


# ===========================================================================
# Wave H — exact correlation matrix, 2-D histogram, pressure-from-depth
# Newton inversion.
# ===========================================================================

# ---------------------------------------------------------------------------
# Pearson correlation matrix over lineitem's numeric columns from ONE
# pass of exact integer sums (F.corr is float-accumulation-ordered and
# engine-specific; this is the order-independent formulation).
# ---------------------------------------------------------------------------
@register(
    "lineitem_corr_matrix",
    oracle="""
    WITH q AS (
      SELECT CAST(floor(l_quantity + 0.5) AS HUGEINT) AS a,
             CAST(floor(l_extendedprice * 100.0 + 0.5) AS HUGEINT) AS b,
             CAST(floor(l_discount * 100.0 + 0.5) AS HUGEINT) AS c
      FROM lineitem
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(a) AS sa, sum(b) AS sb, sum(c) AS sc,
             sum(a*a) AS saa, sum(b*b) AS sbb, sum(c*c) AS scc,
             sum(a*b) AS sab, sum(a*c) AS sac, sum(b*c) AS sbc
      FROM q
    )
    SELECT n,
           floor((CAST(n AS DOUBLE)*CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE)*CAST(sb AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE)*CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE))
                        * (CAST(n AS DOUBLE)*CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE)))
                 * 1.0e6 + 0.5) / 1.0e6 AS corr_qty_price,
           floor((CAST(n AS DOUBLE)*CAST(sac AS DOUBLE) - CAST(sa AS DOUBLE)*CAST(sc AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE)*CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE))
                        * (CAST(n AS DOUBLE)*CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE)*CAST(sc AS DOUBLE)))
                 * 1.0e6 + 0.5) / 1.0e6 AS corr_qty_disc,
           floor((CAST(n AS DOUBLE)*CAST(sbc AS DOUBLE) - CAST(sb AS DOUBLE)*CAST(sc AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE)*CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE))
                        * (CAST(n AS DOUBLE)*CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE)*CAST(sc AS DOUBLE)))
                 * 1.0e6 + 0.5) / 1.0e6 AS corr_price_disc
    FROM s
    """,
)
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three pairwise Pearson coefficients from ten exact decimal sums
    in one map-side-combinable agg — the feature-redundancy screen.
    Every cross-product fits decimal(38,0) at any realistic scale
    (price cents ~1e7, 1e12 rows -> ~1e26); the final formulas run on
    bit-identical doubles in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    q = li.select(
        F.floor(F.col("l_quantity") + 0.5).cast("decimal(19,0)").alias("a"),
        _cents(F.col("l_extendedprice")).cast("decimal(19,0)").alias("b"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("decimal(19,0)").alias("c"),
    )
    s = q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a").alias("sa"), F.sum("b").alias("sb"), F.sum("c").alias("sc"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("a") * F.col("c")).alias("sac"),
        F.sum(F.col("b") * F.col("c")).alias("sbc"),
    )
    nd = F.col("n").cast("double")

    def r(sxy, sx, sy, sxx, syy):
        num = nd * F.col(sxy).cast("double") - F.col(sx).cast("double") * F.col(
            sy
        ).cast("double")
        den = F.sqrt(
            (nd * F.col(sxx).cast("double")
             - F.col(sx).cast("double") * F.col(sx).cast("double"))
            * (nd * F.col(syy).cast("double")
               - F.col(sy).cast("double") * F.col(sy).cast("double"))
        )
        return F.floor(num / den * 1.0e6 + 0.5) / 1.0e6

    return s.select(
        "n",
        r("sab", "sa", "sb", "saa", "sbb").alias("corr_qty_price"),
        r("sac", "sa", "sc", "saa", "scc").alias("corr_qty_disc"),
        r("sbc", "sb", "sc", "sbb", "scc").alias("corr_price_disc"),
    )


# ---------------------------------------------------------------------------
# 2-D histogram (quantity x discount-percent): the joint-distribution
# heatmap feed — exact integer bins, one agg.
# ---------------------------------------------------------------------------
@register(
    "lineitem_hist2d",
    oracle="""
    SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
           CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS disc_pct,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY 1, 2
    """,
)
def lineitem_hist2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint (quantity, discount) counts — bounded output (50 x 11
    cells), single map-side-combinable agg."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("qty"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long").alias("disc_pct"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


# ---------------------------------------------------------------------------
# Pressure from depth: Newton inversion of the Saunders (1981) z(p)
# formula the live gsw_depth_from_pressure uses — z_from_p's inverse,
# closing the conversion pair. Three Newton steps from p0 = z (the
# quartic is gently nonlinear: |z - p| <~ 2% of p), analytic
# derivative, stage-folded on both engines; round-trip pinned to
# < 1e-6 dbar in tests.
# ---------------------------------------------------------------------------
def p_from_z_stages(z: str, lat: str) -> list[tuple[str, str]]:
    g = (
        f"(9.780318e0*(1.0e0 + 5.2788e-3*pow(sin(radians({lat})), 2)"
        f" + 2.36e-5*pow(sin(radians({lat})), 4)))"
    )
    stages: list[tuple[str, str]] = [("_g", g), ("_p0", f"({z})")]
    for i in range(3):
        cur = f"_p{i}"
        num = (
            f"(9.72659e0*{cur} - 2.2512e-5*{cur}*{cur}"
            f" + 2.279e-10*{cur}*{cur}*{cur}"
            f" - 1.82e-15*{cur}*{cur}*{cur}*{cur})"
        )
        f_ = f"({num} - ({z})*(_g + 1.092e-6*{cur}))"
        df = (
            f"(9.72659e0 - 4.5024e-5*{cur} + 6.837e-10*{cur}*{cur}"
            f" - 7.28e-15*{cur}*{cur}*{cur} - ({z})*1.092e-6)"
        )
        stages.append((f"_p{i + 1}", f"({cur} - {f_}/{df})"))
    stages.append(("p_from_z", "_p3"))
    return stages


def _p_from_z_oracle() -> str:
    inner = """
    SELECT l_orderkey, l_linenumber,
           CAST(l_linenumber * 100.0 AS DOUBLE) AS z,
           CAST(l_discount * 90.0 AS DOUBLE) AS lat
    FROM lineitem
    """
    staged = _stage_sql(inner, p_from_z_stages("z", "lat"))
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(p_from_z * 1.0e6 + 0.5) / 1.0e6 AS p_dbar
    FROM {staged}
    """


@register("gsw_pressure_from_depth", oracle=_p_from_z_oracle())
def gsw_pressure_from_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p(z, lat) by inverting Saunders' z(p) — the conversion GSW ships
    as p_from_z. Zero shuffle, pure codegen; the iteration count is
    fixed so the plan is static."""
    li = _t(spark, sf_dir, "lineitem")
    df = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_linenumber") * 100.0).cast("double").alias("z"),
        (F.col("l_discount") * 90.0).cast("double").alias("lat"),
    )
    for name, expr in p_from_z_stages("z", "lat"):
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("p_from_z") * 1.0e6 + 0.5) / 1.0e6).alias("p_dbar"),
    )


# ===========================================================================
# Wave I — product-quantization ADC top-k as a registered, oracle-paired
# query. The live PQ operators (operators/similarity.py: pq_encode /
# pq_adc_topk) were pytest-only; this pins the whole encode -> LUT ->
# scan path against DuckDB with DETERMINISTIC codebooks (the first 4
# corpus vectors' subvectors per subspace — the KMeans-trained path
# stays the operator default, tested in test_pq.py).
# ===========================================================================
@register(
    "similarity_pq_adc_topk",
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
    lut AS (
      SELECT query_id, list(dl ORDER BY j) AS lut
      FROM (
        SELECT vec_id AS query_id, j, list(d ORDER BY code) AS dl
        FROM dist WHERE vec_id < 3 GROUP BY 1, 2
      ) GROUP BY 1
    ),
    scored AS (
      SELECT l.query_id, c.vec_id AS neighbor_id,
             round(list_reduce(list_transform(generate_series(1, 8),
                     j -> l.lut[j][c.codes[j] + 1]),
                   (a, b) -> a + b), 6) AS approx_dist2
      FROM lut l CROSS JOIN codes c
      WHERE c.vec_id <> l.query_id
    )
    SELECT query_id, neighbor_id, approx_dist2, CAST(rn AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY approx_dist2, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN: 64-dim vectors -> 8 subspaces x 4-entry
    codebooks (here the first 4 corpus vectors, collected once with
    their vec_id and put in vec_id order in Python — one 4-row bounded
    driver fetch, one job, standing in for the KMeans training the
    operator default uses), corpus encoded to 8 codes/vector
    (row-local argmin codegen), each of 3 probe queries builds its
    8x4 LUT once and every corpus code row is scored with 8 lookups +
    a fold. At 100 TB the codes table is 32x smaller than the raw
    vectors, the query side broadcasts, and the corpus streams once —
    the IVF-PQ memory story with zero Python in the scan path."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # sorted here, not by an orderBy: a global sort adds a sampling job
    seeds = sorted(
        emb.filter(F.col("vec_id") < 4)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .collect(),
        key=lambda row: row.vec_id,
    )
    books = [
        [[float(x) for x in row.v[j * 8 : j * 8 + 8]] for row in seeds]
        for j in range(8)
    ]
    codes = pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") < 3)
    return pq_adc_topk(queries, codes, books, k_top=5, round_dp=6)


# ---------------------------------------------------------------------------
# Hapax-legomena ratio per source: the share of a source's vocabulary
# seen exactly once in it — the fast vocabulary-health signal (too low
# = templated text; too high = OCR noise / id soup).
# ---------------------------------------------------------------------------
@register(
    "text_hapax_ratio",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    freq AS (
      SELECT source, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           floor(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0e6 / count(*) + 0.5)
             / 1.0e6 AS hapax_ratio
    FROM freq GROUP BY 1
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two map-side-combinable aggs (token counts, then vocabulary
    rollup); exact integers, one rounded division."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(words_expr(F.col("text"))).alias("t"))
    freq = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
    vocab = F.count(F.lit(1)).cast("long")
    return freq.groupBy("source").agg(
        vocab.alias("vocab_size"),
        hapax.alias("n_hapax"),
        (F.floor(hapax * 1.0e6 / vocab + 0.5) / 1.0e6).alias("hapax_ratio"),
    )


# ---------------------------------------------------------------------------
# Inter-arrival time stats per event type: mean + exact discrete median
# of consecutive gaps — the feed-health pulse check (rising median =
# producer slowdown; bimodal mean/median split = batching).
# ---------------------------------------------------------------------------
@register(
    "events_interarrival_stats",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    g AS (SELECT event_type, CAST(gap_us AS BIGINT) AS gap_us
          FROM gaps WHERE gap_us IS NOT NULL),
    ranked AS (
      SELECT event_type, gap_us,
             row_number() OVER (PARTITION BY event_type ORDER BY gap_us) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM g
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_gaps,
           CAST(floor(sum(gap_us) / max(n)) AS BIGINT) AS mean_gap_us,
           CAST(max(CASE WHEN rn = (n - 1) // 2 + 1 THEN gap_us END) AS BIGINT)
             AS median_gap_us
    FROM ranked GROUP BY 1
    """,
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One lag window per type (epoch-microsecond integers), then the
    exact order-statistic median via a second bounded window + agg.
    mean = floor(sum/n) on exact integers — no float accumulation."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("gap_us")
    wn = Window.partitionBy("event_type")
    ranked = gaps.select(
        "event_type",
        F.col("gap_us").cast("long").alias("gap_us"),
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_gaps"),
        F.floor(F.sum("gap_us") / F.max("n")).cast("long").alias("mean_gap_us"),
        F.max(
            F.when(
                F.col("rn") == ((F.col("n") - 1) / 2).cast("long") + 1,
                F.col("gap_us"),
            )
        )
        .cast("long")
        .alias("median_gap_us"),
    )


# ---------------------------------------------------------------------------
# Document length deciles: ntile(10) over (n_chars, doc_id) with
# per-decile min/max/mean — the corpus shape summary feeding length
# filters and packing capacity choices.
# ---------------------------------------------------------------------------
@register(
    "doc_length_deciles",
    oracle="""
    WITH t AS (
      SELECT n_chars,
             ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
      FROM documents
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(floor(sum(n_chars) / count(*)) AS BIGINT) AS mean_chars
    FROM t GROUP BY 1
    """,
)
def doc_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Migrated (round 8) onto ntile_two_pass: the global decile
    assignment runs as range-bucketed rank + the exact ntile remainder
    formula, so no window sorts more than ~|docs|/512 rows at any
    corpus size (the old ntile(10) was one single-partition sort over
    every doc). Deterministic tiebreak on doc_id keeps the decile
    boundaries engine-identical; all stats exact integers."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ntile_two_pass,
    )

    docs = _t(spark, sf_dir, "documents")
    t = ntile_two_pass(
        docs.select("n_chars", "doc_id"), "n_chars", "doc_id", 10,
        out_col="decile",
    )
    return t.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.floor(F.sum("n_chars") / F.count(F.lit(1))).cast("long").alias("mean_chars"),
    )


# ===========================================================================
# Wave J — ABC classification, empirical CDF probes, association-rule
# metrics, LSH recall audit, OHLC time-bucket downsample.
# ===========================================================================

# ---------------------------------------------------------------------------
# ABC inventory classification: parts by revenue, class A = first 80%
# of cumulative revenue, B = next 15%, C = tail — with PURE INTEGER
# boundary comparisons (cum*100 <= 80*total), no float thresholds.
# ---------------------------------------------------------------------------
@register(
    "orders_abc_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5))
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ),
    cum AS (
      SELECT l_partkey, cents,
             CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_cents,
             CAST(sum(cents) OVER () AS BIGINT) AS total_cents
      FROM rev
    )
    SELECT CASE WHEN cum_cents * 100 <= 80 * total_cents THEN 'A'
                WHEN cum_cents * 100 <= 95 * total_cents THEN 'B'
                ELSE 'C' END AS abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM cum GROUP BY 1
    """,
)
def orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inventory-policy rollup of the Pareto curve. Migrated
    (round 8) onto ranked_cumsum_two_pass: the cumulative pass over the
    part-level aggregate runs per value-range bucket (~|parts|/512 rows
    per window task) instead of one global ordered partition, so the
    plan survives any part cardinality; exact integer cents keep the
    bucketed running sums bit-equal to the single-window oracle. Class
    boundaries are exact integer inequalities, so no part can flip
    class on a different machine."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .cast("long")
        .alias("cents")
    )
    cum = ranked_cumsum_two_pass(
        rev, "cents", "l_partkey", out_rank="__rnk", out_cum="cum_cents"
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("total_cents"))
    cum = cum.crossJoin(F.broadcast(tot))
    cls = (
        F.when(F.col("cum_cents") * 100 <= 80 * F.col("total_cents"), "A")
        .when(F.col("cum_cents") * 100 <= 95 * F.col("total_cents"), "B")
        .otherwise("C")
    )
    return cum.groupBy(cls.alias("abc_class")).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# Empirical CDF probed at fixed values per event type — the drift
# monitor's cheap cousin (compare probe vectors across snapshots
# instead of full KS). Exact integer rationals at each probe.
# ---------------------------------------------------------------------------
@register(
    "events_cdf_at_values",
    oracle="""
    WITH probes AS (
      SELECT CAST(unnest([50.0, 100.0, 200.0, 400.0]) AS DOUBLE) AS probe
    ),
    s AS (
      SELECT event_type, probe,
             CAST(sum(CASE WHEN value <= probe THEN 1 ELSE 0 END) AS BIGINT) AS le,
             CAST(count(*) AS BIGINT) AS n
      FROM events CROSS JOIN probes
      GROUP BY 1, 2
    )
    SELECT event_type, probe,
           le AS n_le, n AS n_total,
           floor(le * 1.0e6 / n + 0.5) / 1.0e6 AS cdf
    FROM s
    """,
)
def events_cdf_at_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4 probes x type from ONE scan (probe table broadcast, counts
    map-side combinable) — never a sort. Exact integers, one rounded
    division per cell."""
    ev = _t(spark, sf_dir, "events")
    probes = ev.sparkSession.createDataFrame(
        [(50.0,), (100.0,), (200.0,), (400.0,)], "probe DOUBLE"
    )
    s = (
        ev.crossJoin(F.broadcast(probes))
        .groupBy("event_type", "probe")
        .agg(
            F.sum(F.when(F.col("value") <= F.col("probe"), 1).otherwise(0))
            .cast("long")
            .alias("le"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    return s.select(
        "event_type",
        "probe",
        F.col("le").alias("n_le"),
        F.col("n").alias("n_total"),
        (F.floor(F.col("le") * 1.0e6 / F.col("n") + 0.5) / 1.0e6).alias("cdf"),
    )


# ---------------------------------------------------------------------------
# Association-rule metrics over co-purchase pairs: support, directed
# confidence, and lift — the market_basket_pairs follow-through.
# ---------------------------------------------------------------------------
@register(
    "basket_rule_metrics",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_b AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM baskets),
    item AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM baskets GROUP BY 1
    ),
    pair AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(count(*) AS BIGINT) AS cab
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 3
    )
    SELECT pa AS part_a, pb AS part_b, cab AS n_co,
           floor(cab * 1.0e6 / ia.c + 0.5) / 1.0e6 AS conf_a_to_b,
           floor(cab * 1.0e6 / ib.c + 0.5) / 1.0e6 AS conf_b_to_a,
           floor(CAST(cab AS DOUBLE) * CAST(n_b.n AS DOUBLE)
                 / (CAST(ia.c AS DOUBLE) * CAST(ib.c AS DOUBLE))
                 * 1.0e6 + 0.5) / 1.0e6 AS lift
    FROM pair
    JOIN item ia ON ia.l_partkey = pa
    JOIN item ib ON ib.l_partkey = pb
    CROSS JOIN n_b
    """,
)
def basket_rule_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed confidences + lift for co-purchase pairs with support
    >= 3. The basket self-join is the standard equi-keyed wedge (at
    100 TB: cap basket size first — the mega-basket guard mirrors the
    LSH bucket cap); item supports broadcast back into the pair set;
    every ratio is one rounded division of exact integers."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    n_b = baskets.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n")
    )
    item = baskets.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    a = baskets.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = baskets.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    pair = (
        a.join(b, "k")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("cab"))
        .filter(F.col("cab") >= 3)
    )
    ia = item.select(F.col("l_partkey").alias("pa"), F.col("c").alias("ca"))
    ib = item.select(F.col("l_partkey").alias("pb"), F.col("c").alias("cb"))
    return (
        pair.join(F.broadcast(ia), "pa")
        .join(F.broadcast(ib), "pb")
        .crossJoin(F.broadcast(n_b))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("cab").alias("n_co"),
            (F.floor(F.col("cab") * 1.0e6 / F.col("ca") + 0.5) / 1.0e6).alias(
                "conf_a_to_b"
            ),
            (F.floor(F.col("cab") * 1.0e6 / F.col("cb") + 0.5) / 1.0e6).alias(
                "conf_b_to_a"
            ),
            (
                F.floor(
                    F.col("cab").cast("double")
                    * F.col("n").cast("double")
                    / (F.col("ca").cast("double") * F.col("cb").cast("double"))
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# LSH recall audit — the complement of the band-tuning precision view:
# ground truth = every pair with exact Jaccard >= 0.5 REACHABLE through
# a rare shingle (document frequency <= 20 — the same reachability the
# production inverted index has), vs the 4x2 LSH candidate set.
# ---------------------------------------------------------------------------
@register(
    "dedup_lsh_recall_audit",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_LSH_CAND_CTES},
    keep AS (SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) <= 20),
    truth_cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN keep k ON k.s = a.s
      JOIN sh b ON b.s = a.s AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    truth AS (
      SELECT doc_a, doc_b FROM (
        SELECT t.doc_a, t.doc_b,
               round(count(*) / (sa.n + sb.n - count(*)), 6) AS j
        FROM truth_cand t
        JOIN sh a ON a.doc_id = t.doc_a
        JOIN sh b ON b.doc_id = t.doc_b AND b.s = a.s
        JOIN sizes sa ON sa.doc_id = t.doc_a
        JOIN sizes sb ON sb.doc_id = t.doc_b
        GROUP BY t.doc_a, t.doc_b, sa.n, sb.n
      ) WHERE j >= 0.5
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_lsh_candidates,
           (SELECT CAST(count(*) AS BIGINT)
            FROM truth t JOIN cand c
              ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_true_found
    """,
)
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many true near-dup pairs the 4x2 LSH chain actually
    surfaces. Ground truth goes through the capped inverted index
    (reachable truth — the uncapped truth is quadratic by definition);
    three exact counts out, recall = found/true left to the reader to
    keep every value an integer."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        jaccard_for_pairs,
        lsh_band_buckets,
        lsh_candidate_pairs,
        minhash_signature,
    )

    sh = distinct_shingles(spark, sf_dir)
    keep = (
        sh.groupBy("s")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= 20)
        .select("s")
    )
    shk = sh.join(keep, "s", "left_semi")
    a = shk.select(F.col("doc_id").alias("doc_a"), "s")
    b = sh.select(F.col("doc_id").alias("doc_b"), "s")
    truth_cand = (
        a.join(b, "s").filter(F.col("doc_a") < F.col("doc_b")).select(
            "doc_a", "doc_b"
        ).distinct()
    )
    truth = jaccard_for_pairs(truth_cand, sh, "doc_id", "s").filter(
        F.col("jaccard") >= 0.5
    ).select("doc_a", "doc_b")
    sig = minhash_signature(sh, "doc_id", "s", num_hashes=8, hash_family="md5")
    cand = lsh_candidate_pairs(
        lsh_band_buckets(sig, "doc_id", num_hashes=8, bands=4),
        "doc_id",
        max_bucket_size=50,
    )
    n_true = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_lsh_candidates"))
    n_found = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_true_found")
    )
    return n_true.crossJoin(F.broadcast(n_cand)).crossJoin(F.broadcast(n_found))


# ---------------------------------------------------------------------------
# OHLC time-bucket downsample: open/high/low/close per (type, 6 h
# bucket) — the TSDB continuous-aggregate shape, on integer buckets and
# micro-unit values.
# ---------------------------------------------------------------------------
@register(
    "events_ohlc_downsample",
    oracle="""
    WITH q AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 21600000000 AS BIGINT) AS bucket_idx,
             CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) AS v,
             epoch_us(ts) AS us, event_id
      FROM events
    ),
    r AS (
      SELECT event_type, bucket_idx, v,
             row_number() OVER (PARTITION BY event_type, bucket_idx
                                ORDER BY us, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, bucket_idx
                                ORDER BY us DESC, event_id DESC) AS rn_d
      FROM q
    )
    SELECT event_type, bucket_idx,
           CAST(max(CASE WHEN rn_a = 1 THEN v END) AS BIGINT) AS open_micro,
           CAST(max(v) AS BIGINT) AS high_micro,
           CAST(min(v) AS BIGINT) AS low_micro,
           CAST(max(CASE WHEN rn_d = 1 THEN v END) AS BIGINT) AS close_micro,
           CAST(count(*) AS BIGINT) AS n_events
    FROM r GROUP BY 1, 2
    """,
)
def events_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate downsample: integer epoch-µs buckets (6 h),
    open/close via two windows over the SAME (type, bucket) partitioning
    (one shuffle — Spark reuses the Exchange for both sort orders),
    min/max/count map-side combinable. Everything integer-exact."""
    ev = _t(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        (F.unix_micros("ts") / 21600000000).cast("long").alias("bucket_idx"),
        F.floor(F.col("value") * 1.0e6 + 0.5).cast("long").alias("v"),
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    wa = Window.partitionBy("event_type", "bucket_idx").orderBy("us", "event_id")
    wd = Window.partitionBy("event_type", "bucket_idx").orderBy(
        F.col("us").desc(), F.col("event_id").desc()
    )
    r = q.select(
        "event_type",
        "bucket_idx",
        "v",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return r.groupBy("event_type", "bucket_idx").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("v"))).cast("long").alias("open_micro"),
        F.max("v").cast("long").alias("high_micro"),
        F.min("v").cast("long").alias("low_micro"),
        F.max(F.when(F.col("rn_d") == 1, F.col("v"))).cast("long").alias("close_micro"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


# ===========================================================================
# Wave K — diversity-vs-length correlation, Herfindahl concentration,
# missing-hours completeness audit, per-dimension embedding variance,
# n-gram coverage curve.
# ===========================================================================

# ---------------------------------------------------------------------------
# Lexical diversity vs length: Pearson r between each document's char
# count and its DISTINCT-word count — the duplicate-boilerplate smell
# at corpus level (templated corpora decorrelate).
# ---------------------------------------------------------------------------
@register(
    "doc_diversity_length_corr",
    oracle="""
    WITH per_doc AS (
      SELECT d.doc_id,
             CAST(d.n_chars AS HUGEINT) AS x,
             CAST((SELECT count(DISTINCT t) FROM (
                     SELECT unnest(string_split(d.text, ' ')) AS t)) AS HUGEINT) AS y
      FROM documents d
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
      FROM per_doc
    )
    SELECT n AS n_docs,
           floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                 / NULLIF(sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 0.0)
                 * 1.0e6 + 0.5) / 1.0e6 AS corr_len_vocab
    FROM s
    """,
)
def doc_diversity_length_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both variables are exact integers per document (char count from
    the table, distinct-word count via one row-local array_distinct),
    so the correlation reduces to the shared exact-sum formula — no
    float accumulation anywhere before the final rounded expression."""
    docs = _t(spark, sf_dir, "documents")
    per_doc = docs.select(
        F.col("n_chars").cast("decimal(19,0)").alias("x"),
        F.size(F.array_distinct(words_expr(F.col("text"))))
        .cast("decimal(19,0)")
        .alias("y"),
    )
    s = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return s.select(
        F.col("n").alias("n_docs"),
        pearson_r_from_sums().alias("corr_len_vocab"),
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman concentration of supplier revenue within each
# nation: HHI = sum over suppliers of (share)^2, per-supplier terms
# quantized to integer pico-units before the sum.
# ---------------------------------------------------------------------------
@register(
    "supplier_nation_herfindahl",
    oracle="""
    WITH rev AS (
      SELECT s.s_nationkey, l.l_suppkey,
             CAST(sum(floor(l.l_extendedprice * 100.0 + 0.5)) AS BIGINT) AS cents
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT s_nationkey, CAST(sum(cents) AS BIGINT) AS total_cents,
             CAST(count(*) AS BIGINT) AS n_suppliers
      FROM rev GROUP BY 1
    ),
    terms AS (
      SELECT r.s_nationkey,
             CAST(floor((CAST(r.cents AS DOUBLE) / CAST(t.total_cents AS DOUBLE))
                        * (CAST(r.cents AS DOUBLE) / CAST(t.total_cents AS DOUBLE))
                        * 1.0e12 + 0.5) AS HUGEINT) AS tq
      FROM rev r JOIN tot t USING (s_nationkey)
    )
    SELECT n.n_name AS nation_name, t.n_suppliers,
           floor(CAST(x.s AS DOUBLE) / 1.0e6 + 0.5) / 1.0e6 AS hhi
    FROM (SELECT s_nationkey, sum(tq) AS s FROM terms GROUP BY 1) x
    JOIN tot t USING (s_nationkey)
    JOIN nation n ON n.n_nationkey = x.s_nationkey
    """,
)
def supplier_nation_herfindahl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration index per nation (1/n = perfect
    competition, 1 = monopoly). Per-supplier squared shares are
    quantized to pico-units before the order-independent sum; nation
    dim broadcast at the end."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(_cents(F.col("l_extendedprice"))).cast("long").alias("cents"))
    )
    tot = rev.groupBy("s_nationkey").agg(
        F.sum("cents").cast("long").alias("total_cents"),
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
    )
    share = F.col("cents").cast("double") / F.col("total_cents").cast("double")
    terms = rev.join(F.broadcast(tot), "s_nationkey").select(
        "s_nationkey",
        F.floor(share * share * 1.0e12 + 0.5).cast("decimal(38,0)").alias("tq"),
    )
    x = terms.groupBy("s_nationkey").agg(F.sum("tq").alias("sq"))
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        x.join(F.broadcast(tot), "s_nationkey")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation_name"),
            "n_suppliers",
            (F.floor(F.col("sq").cast("double") / 1.0e6 + 0.5) / 1.0e6).alias("hhi"),
        )
    )


# ---------------------------------------------------------------------------
# Missing-hours completeness audit: which (type, hour) grid cells of
# the observed time range have NO events — the feed-gap detector.
# ---------------------------------------------------------------------------
@register(
    "events_missing_hours_audit",
    oracle="""
    WITH bounds AS (
      SELECT CAST(epoch_us(min(ts)) // 3600000000 AS BIGINT) AS h0,
             CAST(epoch_us(max(ts)) // 3600000000 AS BIGINT) AS h1
      FROM events
    ),
    grid AS (
      SELECT t.event_type, g.h
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series(h0, h1)) AS h FROM bounds) g
    ),
    got AS (
      SELECT DISTINCT event_type,
             CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h
      FROM events
    )
    SELECT g.event_type,
           CAST(count(*) AS BIGINT) AS n_hours_expected,
           CAST(sum(CASE WHEN o.h IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hours_missing
    FROM grid g LEFT JOIN got o
      ON o.event_type = g.event_type AND o.h = g.h
    GROUP BY 1
    """,
)
def events_missing_hours_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected grid = distinct types x hour sequence between the
    corpus bounds (sequence explode of a 1-row broadcast — never a
    driver loop); observed hours collapse BEFORE the join. Integer hour
    indices end to end."""
    ev = _t(spark, sf_dir, "events")
    hour = (F.unix_micros("ts") / 3600000000).cast("long")
    bounds = ev.agg(
        F.min(hour).alias("h0"), F.max(hour).alias("h1")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
    )
    got = ev.select("event_type", hour.alias("h")).distinct().withColumn(
        "_seen", F.lit(1)
    )
    return (
        grid.join(got, ["event_type", "h"], "left")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours_expected"),
            F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hours_missing"),
        )
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding variance profile: mean/variance of every
# coordinate — collapsed dimensions (near-zero variance) are the
# encoder-health red flag, and the variance ranking feeds PQ subspace
# allocation. Exact micro-quantized sums per dim.
# ---------------------------------------------------------------------------
@register(
    "embedding_dim_variance",
    oracle="""
    WITH x AS (
      SELECT u.i AS dim,
             CAST(floor(u.v * 1.0e6 + 0.5) AS HUGEINT) AS q
      FROM (
        SELECT unnest(CAST(embedding AS DOUBLE[])) AS v,
               generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS i
        FROM embeddings
      ) u
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           floor(CAST(sum(q) AS DOUBLE) / count(*) + 0.5) / 1.0e6 AS mean_val,
           floor((CAST(sum(q*q) AS DOUBLE) / count(*)
                  - (CAST(sum(q) AS DOUBLE) / count(*))
                    * (CAST(sum(q) AS DOUBLE) / count(*))) / 1.0e6 + 0.5) / 1.0e6
             AS var_val
    FROM x GROUP BY 1
    """,
)
def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode to (dim, micro-quantized value), one 64-key agg of
    exact sums — map-side combine collapses each partition to 64 rows
    before the shuffle, so the network cost is partitions x 64 rows
    regardless of corpus size."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("p", "v")
    ).select(
        (F.col("p") + 1).cast("long").alias("dim"),
        F.floor(F.col("v") * 1.0e6 + 0.5).cast("decimal(19,0)").alias("q"),
    )
    s = x.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").alias("s1"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
    )
    nd = F.col("n").cast("double")
    mean_q = F.col("s1").cast("double") / nd
    var_q = F.col("s2").cast("double") / nd - mean_q * mean_q
    return s.select(
        "dim",
        "n",
        (F.floor(mean_q + 0.5) / 1.0e6).alias("mean_val"),
        (F.floor(var_q / 1.0e6 + 0.5) / 1.0e6).alias("var_val"),
    )


# ---------------------------------------------------------------------------
# N-gram coverage curve: what fraction of all 3-gram OCCURRENCES the
# top-{10,100,1000} most frequent grams cover — the dedup-payoff
# forecast (steep curve = heavy boilerplate, flat = diverse corpus).
# ---------------------------------------------------------------------------
@register(
    "doc_ngram_coverage_curve",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    gr AS (
      SELECT unnest(list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS s
      FROM w
    ),
    freq AS (SELECT s, CAST(count(*) AS BIGINT) AS c FROM gr GROUP BY 1),
    ranked AS (
      SELECT c, CAST(row_number() OVER (ORDER BY c DESC, s) AS BIGINT) AS r,
             CAST(sum(c) OVER () AS BIGINT) AS total
      FROM freq
    ),
    ks AS (SELECT unnest([10, 100, 1000]) AS k)
    SELECT CAST(ks.k AS BIGINT) AS top_k,
           CAST(sum(CASE WHEN r <= ks.k THEN c ELSE 0 END) AS BIGINT) AS covered,
           CAST(max(total) AS BIGINT) AS total_occurrences,
           floor(sum(CASE WHEN r <= ks.k THEN c ELSE 0 END) * 1.0e6 / max(total)
                 + 0.5) / 1.0e6 AS coverage
    FROM ranked CROSS JOIN ks
    GROUP BY 1
    """,
)
def doc_ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage at three cut points. Round-9 migration: only the top
    max(k)=1000 grams can ever contribute to a cut point, so the plan
    is a TakeOrdered (orderBy().limit(1000) — per-partition top-k, no
    global sort over the distinct-gram table, which is LARGER than the
    vocabulary) ranked by a window over the 1000-row result; the
    occurrence total is a 1-row broadcast aggregate. Exact integers,
    rounded division."""
    docs = _t(spark, sf_dir, "documents")
    gr = docs.select(
        F.explode(word_shingles(words_expr(F.col("text")), 3)).alias("s")
    )
    freq = gr.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = freq.agg(F.sum("c").cast("long").alias("total"))
    top = freq.orderBy(F.col("c").desc(), F.col("s")).limit(1000)
    wr = Window.orderBy(F.col("c").desc(), F.col("s"))
    ranked = (
        top.select("s", "c")
        .withColumn("r", F.row_number().over(wr).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select("c", "r", "total")
    )
    ks = docs.sparkSession.createDataFrame([(10,), (100,), (1000,)], "k LONG")
    cov = F.sum(F.when(F.col("r") <= F.col("k"), F.col("c")).otherwise(0)).cast(
        "long"
    )
    return (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy(F.col("k").alias("top_k"))
        .agg(
            cov.alias("covered"),
            F.max("total").cast("long").alias("total_occurrences"),
            (F.floor(cov * 1.0e6 / F.max("total") + 0.5) / 1.0e6).alias("coverage"),
        )
    )


# ===========================================================================
# Wave L — final three: word-length profile, monthly returns rate,
# source x lang chi-square independence.
# ===========================================================================
@register(
    "text_word_length_profile",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    x AS (SELECT lang, CAST(length(t) AS BIGINT) AS l FROM tok)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(max(l) AS BIGINT) AS max_len,
           floor(sum(l) * 1.0e6 / count(*) + 0.5) / 1.0e6 AS mean_len,
           floor(sum(CASE WHEN l >= 8 THEN 1 ELSE 0 END) * 1.0e6 / count(*) + 0.5)
             / 1.0e6 AS long_word_ratio
    FROM x GROUP BY 1
    """,
)
def text_word_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-length morphology per language — one explode + one agg of
    exact integers, two rounded divisions."""
    docs = _t(spark, sf_dir, "documents")
    x = docs.select(
        "lang", F.explode(words_expr(F.col("text"))).alias("t")
    ).select("lang", F.length("t").cast("long").alias("l"))
    n = F.count(F.lit(1)).cast("long")
    longw = F.sum(F.when(F.col("l") >= 8, 1).otherwise(0)).cast("long")
    return x.groupBy("lang").agg(
        n.alias("n_words"),
        F.max("l").cast("long").alias("max_len"),
        (F.floor(F.sum("l") * 1.0e6 / n + 0.5) / 1.0e6).alias("mean_len"),
        (F.floor(longw * 1.0e6 / n + 0.5) / 1.0e6).alias("long_word_ratio"),
    )


@register(
    "lineitem_returns_rate_by_month",
    oracle="""
    SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ship_month,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_returned,
           floor(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) * 1.0e6
                 / count(*) + 0.5) / 1.0e6 AS return_rate
    FROM lineitem GROUP BY 1
    """,
)
def lineitem_returns_rate_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly return-flag rate — the ops-health time series. One
    map-side-combinable agg on an integer yyyymm key."""
    li = _t(spark, sf_dir, "lineitem")
    ret = F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).cast("long")
    n = F.count(F.lit(1)).cast("long")
    return li.groupBy(
        (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .cast("long")
        .alias("ship_month")
    ).agg(
        n.alias("n_lines"),
        ret.alias("n_returned"),
        (F.floor(ret * 1.0e6 / n + 0.5) / 1.0e6).alias("return_rate"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence of (source, lang): is the language mix the
# same across sources? Per-cell (observed - expected)^2 / expected
# terms quantized to micro-units before the order-independent sum.
# ---------------------------------------------------------------------------
@register(
    "doc_source_lang_chi2",
    oracle="""
    WITH cells AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS o
      FROM documents GROUP BY 1, 2
    ),
    rows_t AS (SELECT source, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
    cols_t AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
    n_t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    full_grid AS (
      SELECT r.source, c.lang, r.rt, c.ct, n.n,
             COALESCE(x.o, 0) AS o
      FROM rows_t r CROSS JOIN cols_t c CROSS JOIN n_t n
      LEFT JOIN cells x ON x.source = r.source AND x.lang = c.lang
    ),
    terms AS (
      SELECT CAST(floor(
               (CAST(o AS DOUBLE)
                - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(o AS DOUBLE)
                  - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
               * 1.0e6 + 0.5) AS HUGEINT) AS tq,
             1 AS one
      FROM full_grid
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM rows_t) AS n_sources,
           (SELECT CAST(count(*) AS BIGINT) FROM cols_t) AS n_langs,
           floor(CAST(sum(tq) AS DOUBLE) + 0.5) / 1.0e6 AS chi2
    FROM terms
    """,
)
def doc_source_lang_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square over the full source x lang grid (absent
    cells count as observed 0 — the grid is the cross join of the two
    BOUNDED margin tables, never of raw rows). Per-cell terms quantized
    to micro-units, exact sum, one scalar out."""
    docs = _t(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    rows_t = cells.groupBy("source").agg(F.sum("o").cast("long").alias("rt"))
    cols_t = cells.groupBy("lang").agg(F.sum("o").cast("long").alias("ct"))
    n_t = cells.agg(F.sum("o").cast("long").alias("n"))
    grid = (
        rows_t.crossJoin(F.broadcast(cols_t))
        .crossJoin(F.broadcast(n_t))
        .join(cells, ["source", "lang"], "left")
        .select(
            "rt",
            "ct",
            "n",
            F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("o"),
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
    n_sources = rows_t.agg(F.count(F.lit(1)).cast("long").alias("n_sources"))
    n_langs = cols_t.agg(F.count(F.lit(1)).cast("long").alias("n_langs"))
    chi2 = terms.agg(
        (F.floor(F.sum("tq").cast("double") + 0.5) / 1.0e6).alias("chi2")
    )
    return n_sources.crossJoin(F.broadcast(n_langs)).crossJoin(F.broadcast(chi2))
