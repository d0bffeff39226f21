"""Round-11 query slate: 50 live queries, each registered at import
with ``register``; strict-harness coverage in tests/test_staged_r11.py.

Content:
- Wave A — dedup/cluster-quality audits: transitivity, Burrows'
  Delta, TwoNN intrinsic dimension, rich-club coefficient.
- Wave B — time-series/econometrics: weighted price quantiles
  (two-pass weighted cumsum), max drawdown, Ferro-Segers extremal
  index, fixed-effects vs pooled trend, as-of conversion lag,
  Tukey median polish.
- Wave C — GSW via symbolic differentiation (functions/symdiff.py):
  cp_t_exact (check value bit-exact), potential enthalpy of ice.
- Wave D — chem-potential T-derivative + Gibbs-exact lapse,
  component source purity (CC reuse), Little's law audit.
- Wave E — knob sweeps: Matryoshka prefix-dim recall, packing
  chunk-size sweep.
- Wave F — GSW twins: ice expansion/pressure coefficients,
  spiciness1/2, Baltic SA special case.
- Wave G — Grubbs test, Allan variance, Breusch-Pagan LM.

Plan audit (plan_guards.find_unpartitioned_windows at sf0.001): exactly
THREE queries carry a bounded unpartitioned window, allowlisted in
tests/test_plans.py::_ALLOWED_UNPARTITIONED_WINDOWS; everything else in
the slate is detector-clean:
- events_changepoint_binseg2: "runs over the per-DAY rollup +
  TakeOrdered(limit=1) split picks (calendar-bounded axis)"
- orders_max_drawdown: "runs over the per-MONTH revenue rollup
  (calendar-bounded axis)"
- orders_rolling_corr_12m: "runs over the per-MONTH rollup
  (calendar-bounded axis)"

- Wave H — SimHash bit balance, brand modularity, partsupp
  price-spread audit.
- Wave I — pt/CT from entropy (Newton on symbolic eta_t), two-sample
  KS via two-pass cumsums, Davies-Bouldin terms.
- Wave J — forward as-of (time-to-next-event), rolling 12m
  revenue/volume correlation.
- Wave K — Jarque-Bera, Lorenz asymmetry, GPD return levels,
  lang-source mutual information.
- Wave L — entropy from CT, Duncan dissimilarity, NBD fit,
  Pareto-vs-lognormal tail comparison.
- Wave M — PQ codebook utilization, Bowley skew, return-rate
  p-chart, chars-per-token by language.
- Wave N — attribution-window as-of (tolerance), Chow test, annual
  harmonics, binseg-2 changepoints, MinHash width sweep, HLL
  precision sweep, langid confusion matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cioos_siooc_data_transform_spark.plans.registry import register
from cioos_siooc_data_transform_spark.session import read_table as _t


# ===========================================================================
# Wave A — dedup/cluster-quality and corpus-health audits.
# ===========================================================================
@register(
    "dedup_transitivity_audit",
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
    e AS (
      SELECT doc_a AS a, doc_b AS b FROM (
        SELECT doc_a, doc_b,
               round(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
        FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
      ) WHERE jaccard >= 0.5
    ),
    adj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT u, CAST(count(*) AS HUGEINT) AS d FROM adj GROUP BY u),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_tri
      FROM e e1 JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges,
             CAST(max(d) AS BIGINT) AS max_degree
      FROM deg
    ),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
    SELECT n_edges, n_nodes, n_tri AS n_triangles, n_wedges, max_degree,
           CASE WHEN n_wedges = 0 THEN NULL
                ELSE floor(3.0e0 * n_tri / n_wedges * 1.0e6 + 0.5) / 1.0e6
           END AS transitivity
    FROM ne, agg, tri
    """,
)
def dedup_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitivity audit of the near-duplicate pair graph: if a~b and
    b~c at Jaccard >= 0.5, how often is a~c? Low global transitivity
    (3·triangles/wedges) means the threshold is slicing through real
    clusters — keep-one-per-component dedup will then merge docs that
    are NOT mutually similar, which is exactly the failure mode a
    rollout checks before trusting connected-component canonicalization
    (dedup_components). Edges come from the shared hot-shingle-capped
    inverted-index pair machinery (never quadratic in docs); the pair
    graph is bounded by the near-dup count, so the a<b<c triangle join
    runs on a small relation. Counts are exact integers; only the final
    ratio is double."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        distinct_shingles,
    )

    sh = distinct_shingles(spark, sf_dir)
    e = ngram_jaccard_pairs(sh, "doc_id", "s", threshold=0.5, max_doc_freq=10).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    adj = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("d"))
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = (
        e1.join(e2, F.col("y") == F.col("y2"))
        .join(e3, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    agg = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
        F.max("d").cast("long").alias("max_degree"),
    )
    ne = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        ne.crossJoin(F.broadcast(agg))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_edges",
            "n_nodes",
            F.col("n_tri").alias("n_triangles"),
            "n_wedges",
            "max_degree",
            F.when(
                F.col("n_wedges") == 0, F.lit(None).cast("double")
            )
            .otherwise(
                F.floor(
                    F.lit(3.0) * F.col("n_tri") / F.col("n_wedges") * 1.0e6
                    + 0.5
                )
                / 1.0e6
            )
            .alias("transitivity"),
        )
    )


@register(
    "text_burrows_delta",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    t AS (SELECT source, w FROM tok WHERE w <> ''),
    topw AS (
      SELECT w FROM (
        SELECT w, count(*) AS c FROM t GROUP BY w
        ORDER BY c DESC, w LIMIT 50
      )
    ),
    ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM t GROUP BY 1),
    csw AS (
      SELECT t.source, t.w, CAST(count(*) AS BIGINT) AS c
      FROM t JOIN topw USING (w) GROUP BY 1, 2
    ),
    f AS (
      SELECT ns.source, topw.w,
             CAST(floor(CAST(coalesce(c, 0) AS DOUBLE)
                        / CAST(n_s AS DOUBLE) * 1.0e12 + 0.5) AS HUGEINT)
               AS fu
      FROM ns CROSS JOIN topw
      LEFT JOIN csw ON csw.source = ns.source AND csw.w = topw.w
    ),
    stats AS (
      SELECT w, CAST(count(*) AS HUGEINT) AS k, sum(fu) AS s,
             sum(fu * fu) AS ss
      FROM f GROUP BY w
    ),
    z AS (
      SELECT f.source, f.w,
             CAST(floor((CAST(fu AS DOUBLE)
                         - CAST(s AS DOUBLE) / CAST(k AS DOUBLE))
                        / sqrt((CAST(k AS DOUBLE) * CAST(ss AS DOUBLE)
                                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                               / (CAST(k AS DOUBLE)
                                  * (CAST(k AS DOUBLE) - 1.0e0)))
                        * 1.0e6 + 0.5) AS BIGINT) AS zu
      FROM f JOIN stats USING (w)
    )
    SELECT a.source AS source_a, b.source AS source_b,
           floor(CAST(sum(abs(a.zu - b.zu)) AS DOUBLE) / count(*) + 0.5)
             / 1.0e6 AS burrows_delta
    FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta (Burrows 2002) stylometric distance between every
    source pair: relative frequencies of the corpus's 50 most frequent
    words (the classic function-word proxy), z-scored ACROSS sources
    per word, Delta = mean |z_a − z_b|. The attribution-grade duplicate
    detector for style rather than content — two sources with near-zero
    Delta are likely the same upstream crawler under different labels.
    Frequencies are quantized to 1e-12 units before the cross-source
    mean/sd (exact HUGEINT sums), z to 1e-6 before the pair mean, so
    every aggregate is an exact integer sum; the pair join runs on the
    bounded |sources|x50 matrix."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    topw = (
        t.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(50)
        .select("w")
    )
    ns = t.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_s"))
    csw = (
        t.join(F.broadcast(topw), "w")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    f = (
        ns.crossJoin(F.broadcast(topw))
        .join(csw, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.floor(
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("n_s").cast("double")
                * 1.0e12
                + 0.5
            )
            .cast("decimal(38,0)")
            .alias("fu"),
        )
    )
    stats = f.groupBy("w").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        F.sum("fu").alias("s"),
        F.sum(F.col("fu") * F.col("fu")).alias("ss"),
    )
    kd = F.col("k").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    z = f.join(stats, "w").select(
        "source",
        "w",
        F.floor(
            (F.col("fu").cast("double") - sd / kd)
            / F.sqrt((kd * ssd - sd * sd) / (kd * (kd - F.lit(1.0))))
            * 1.0e6
            + 0.5
        )
        .cast("long")
        .alias("zu"),
    )
    za = z.select(F.col("source").alias("source_a"), "w", F.col("zu").alias("za"))
    zb = z.select(F.col("source").alias("source_b"), F.col("w").alias("w2"), F.col("zu").alias("zb"))
    return (
        za.join(
            zb,
            (F.col("w") == F.col("w2"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(
            (
                F.floor(
                    F.sum(F.abs(F.col("za") - F.col("zb"))).cast("double")
                    / F.count(F.lit(1))
                    + 0.5
                )
                / 1.0e6
            ).alias("burrows_delta")
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "embedding_intrinsic_dim_two_nn",
    oracle="""
    WITH sub AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 500
    ),
    nn AS (
      SELECT query_id, rank,
             1000000 - CAST(round(cs, 6) * 1000000 AS BIGINT) AS dist_u
      FROM (
        SELECT q.vec_id AS query_id,
               list_cosine_similarity(q.v, c.v) AS cs,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC,
                          c.vec_id ASC
               ) AS rank
        FROM sub q, sub c WHERE c.vec_id != q.vec_id
      ) WHERE rank <= 2
    ),
    p AS (
      SELECT query_id,
             max(CASE WHEN rank = 1 THEN dist_u END) AS d1,
             max(CASE WHEN rank = 2 THEN dist_u END) AS d2
      FROM nn GROUP BY query_id
    ),
    lr AS (
      SELECT CAST(floor(ln(CAST(d2 AS DOUBLE) / CAST(d1 AS DOUBLE))
                        * 1.0e9 + 0.5) AS HUGEINT) AS lmu
      FROM p WHERE d1 > 0
    ),
    a AS (
      SELECT CAST(count(*) AS BIGINT) AS n_used, sum(lmu) AS slmu FROM lr
    ),
    b AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM p)
    SELECT n_total, n_used, n_total - n_used AS n_degenerate,
           floor(CAST(n_used AS DOUBLE)
                 / (CAST(slmu AS DOUBLE) / 1.0e9) * 1.0e6 + 0.5) / 1.0e6
             AS id_two_nn,
           floor(CAST(slmu AS DOUBLE) / 1.0e9 / CAST(n_used AS DOUBLE)
                 * 1.0e9 + 0.5) / 1.0e9 AS mean_log_ratio
    FROM a, b
    """,
)
def embedding_intrinsic_dim_two_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco, d'Errico, Rodriguez
    & Laio 2017): for each point the ratio mu = r2/r1 of its second-
    to first-nearest-neighbor distances is Pareto(d) under local
    uniformity, so the MLE is d = n / sum(ln mu) — the modern check
    that a 64-dim embedding actually lives on a much lower-dimensional
    manifold (high d => cosine contrast is thin and ANN/dedup
    thresholds need headroom). Distances are cosine distances in exact
    integer micro-units (1e6 − rounded-similarity·1e6, the engine-
    stable neighbor contract); zero-distance duplicates are EXCLUDED
    and counted (`n_degenerate`) rather than blowing up the ratio.
    Per-point ln(mu) quantizes to 1e-9 units before the exact sum.
    Probe subset bounded at vec_id<500 (the 100 TB path feeds IVF
    neighbor lists)."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    sub = emb.filter(F.col("vec_id") < 500)
    nn = brute_force_topk(sub, sub, k=2, round_dp=6).select(
        "query_id",
        "rank",
        (F.lit(1000000) - (F.col("cos_sim") * 1000000).cast("long")).alias(
            "dist_u"
        ),
    )
    p = nn.groupBy("query_id").agg(
        F.max(F.when(F.col("rank") == 1, F.col("dist_u"))).alias("d1"),
        F.max(F.when(F.col("rank") == 2, F.col("dist_u"))).alias("d2"),
    )
    lr = p.filter(F.col("d1") > 0).select(
        F.floor(
            F.log(F.col("d2").cast("double") / F.col("d1").cast("double"))
            * 1.0e9
            + 0.5
        )
        .cast("decimal(38,0)")
        .alias("lmu")
    )
    a = lr.agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        F.sum("lmu").alias("slmu"),
    )
    b = p.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    slmu = F.col("slmu").cast("double") / 1.0e9
    nu = F.col("n_used").cast("double")
    return (
        b.crossJoin(F.broadcast(a))
        .select(
            "n_total",
            "n_used",
            (F.col("n_total") - F.col("n_used")).alias("n_degenerate"),
            (F.floor(nu / slmu * 1.0e6 + 0.5) / 1.0e6).alias("id_two_nn"),
            (F.floor(slmu / nu * 1.0e9 + 0.5) / 1.0e9).alias(
                "mean_log_ratio"
            ),
        )
    )


@register(
    "graph_rich_club_coefficient",
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
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u),
    ks AS (SELECT unnest([2, 4, 8, 16, 32]) AS k),
    nk AS (
      SELECT k, CAST(count(deg.d) AS BIGINT) AS n_k
      FROM ks LEFT JOIN deg ON d > k GROUP BY k
    ),
    ek AS (
      SELECT k, CAST(count(x.d_a) AS BIGINT) AS e_k
      FROM ks LEFT JOIN (
        SELECT e.a, e.b, da.d AS d_a, db.d AS d_b
        FROM e JOIN deg da ON da.u = e.a JOIN deg db ON db.u = e.b
      ) x ON x.d_a > k AND x.d_b > k
      GROUP BY k
    )
    SELECT nk.k, n_k AS n_nodes, e_k AS n_edges,
           CASE WHEN n_k < 2 THEN NULL
                ELSE floor(2.0e0 * e_k / (CAST(n_k AS DOUBLE)
                           * (CAST(n_k AS DOUBLE) - 1.0e0)) * 1.0e6 + 0.5)
                     / 1.0e6
           END AS phi
    FROM nk JOIN ek ON nk.k = ek.k
    ORDER BY nk.k
    """,
)
def graph_rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient phi(k) (Zhou & Mondragon 2004) of the
    co-purchase graph at degree cutoffs k in {2,4,8,16,32}: the edge
    density among nodes of degree > k. phi rising with k means the
    hubs preferentially interconnect — the structural reason hub-heavy
    candidate buckets explode quadratically, so this is the readout
    that justifies the bucket-cap guards on the graph/dedup joins.
    Degrees from one shuffle; each cutoff is a broadcast-filtered
    count over the same bounded edge relation (the 5-row threshold
    table is the broadcast side, never the edges)."""
    from cioos_siooc_data_transform_spark.plans.staged_r8 import (
        _copurchase_edges,
    )

    e = _copurchase_edges(spark, sf_dir)
    adj = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("d"))
    ks = spark.range(1, 6).select(
        F.pow(F.lit(2.0), F.col("id")).cast("long").alias("k")
    )
    nk = (
        F.broadcast(ks)
        .join(deg, F.col("d") > F.col("k"), "left")
        .groupBy("k")
        .agg(F.count(F.col("d")).cast("long").alias("n_k"))
    )
    da = deg.select(F.col("a").alias("ea"), F.col("d").alias("d_a"))
    db = deg.select(F.col("a").alias("eb"), F.col("d").alias("d_b"))
    edges_deg = (
        e.join(da, F.col("a") == F.col("ea"))
        .join(db, F.col("b") == F.col("eb"))
        .select("d_a", "d_b")
    )
    ek = (
        F.broadcast(ks)
        .join(
            edges_deg,
            (F.col("d_a") > F.col("k")) & (F.col("d_b") > F.col("k")),
            "left",
        )
        .groupBy("k")
        .agg(F.count(F.col("d_a")).cast("long").alias("e_k"))
    )
    nkd = F.col("n_k").cast("double")
    return (
        nk.join(ek, "k")
        .select(
            "k",
            F.col("n_k").alias("n_nodes"),
            F.col("e_k").alias("n_edges"),
            F.when(F.col("n_k") < 2, F.lit(None).cast("double"))
            .otherwise(
                F.floor(
                    F.lit(2.0)
                    * F.col("e_k")
                    / (nkd * (nkd - F.lit(1.0)))
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            )
            .alias("phi"),
        )
        .orderBy("k")
    )


# ===========================================================================
# Wave B — time-series / econometric statistics: weighted price
# quantiles from the two-pass weighted cumsum (no global window),
# monthly-revenue maximum drawdown, and the Ferro–Segers intervals
# estimator of the extremal index (does risk cluster in time?). Exact
# integer units everywhere; doubles only in final scalar algebra.
# ===========================================================================
@register(
    "lineitem_weighted_price_quantiles",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS wq
      FROM lineitem
    ),
    d AS (SELECT cents, CAST(sum(wq) AS BIGINT) AS w FROM v GROUP BY cents),
    r AS (
      SELECT cents, w,
             sum(w) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum
      FROM d
    ),
    t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM d)
    SELECT tw AS total_weight,
           floor(CAST(min(CASE WHEN 4 * cum >= tw THEN cents END) AS DOUBLE)
                 / 100.0e0 * 1.0e2 + 0.5) / 1.0e2 AS wq25_dollars,
           floor(CAST(min(CASE WHEN 2 * cum >= tw THEN cents END) AS DOUBLE)
                 / 100.0e0 * 1.0e2 + 0.5) / 1.0e2 AS wmedian_dollars,
           floor(CAST(min(CASE WHEN 4 * cum >= 3 * tw THEN cents END)
                      AS DOUBLE) / 100.0e0 * 1.0e2 + 0.5) / 1.0e2
             AS wq75_dollars
    FROM r, t GROUP BY tw
    """,
)
def lineitem_weighted_price_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantity-weighted price quartiles: the smallest price whose
    cumulative quantity weight reaches q·W (the classic weighted-
    quantile definition, in pure integer arithmetic — 4·cum >= q·4W
    comparisons, no floating thresholds). The cumulative weights come
    from ranked_cumsum_two_pass's weight_col mode over the DISTINCT
    price table (ascending via negated cents) — zero single-partition
    windows at any cardinality, unlike a naive sum-over-global-window.
    The volume-weighted center of a price book is what a pricing audit
    actually wants (the unweighted median over line items overweights
    small orders)."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    li = _t(spark, sf_dir, "lineitem")
    v = li.select(
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("wq"),
    )
    d = v.groupBy("cents").agg(F.sum("wq").cast("long").alias("w")).select(
        "cents", "w", (-F.col("cents")).alias("neg")
    )
    r = ranked_cumsum_two_pass(d, "neg", "neg", weight_col="w")
    t = d.agg(F.sum("w").cast("long").alias("tw"))
    j = r.crossJoin(F.broadcast(t))

    def wq(cond, name):
        return (
            F.floor(
                F.min(F.when(cond, F.col("cents"))).cast("double")
                / F.lit(100.0)
                * 1.0e2
                + 0.5
            )
            / 1.0e2
        ).alias(name)

    return j.groupBy("tw").agg(
        wq(4 * F.col("cum") >= F.col("tw"), "wq25_dollars"),
        wq(2 * F.col("cum") >= F.col("tw"), "wmedian_dollars"),
        wq(4 * F.col("cum") >= 3 * F.col("tw"), "wq75_dollars"),
    ).select(
        F.col("tw").alias("total_weight"),
        "wq25_dollars",
        "wmedian_dollars",
        "wq75_dollars",
    )


@register(
    "orders_max_drawdown",
    oracle="""
    WITH m AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS ym,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT ym, rev,
             max(rev) OVER (ORDER BY ym ROWS UNBOUNDED PRECEDING) AS peak
      FROM m
    ),
    d AS (
      SELECT ym, rev, peak,
             CAST(floor((CAST(peak AS DOUBLE) - CAST(rev AS DOUBLE))
                        / CAST(peak AS DOUBLE) * 1.0e9 + 0.5) AS BIGINT)
               AS dd_u
      FROM r
    )
    SELECT CAST(ym // 12 AS BIGINT) AS year,
           CAST(ym % 12 + 1 AS BIGINT) AS month,
           CAST(floor(CAST(peak AS DOUBLE) / 100.0e0 + 0.5) AS BIGINT)
             AS peak_dollars,
           CAST(floor(CAST(rev AS DOUBLE) / 100.0e0 + 0.5) AS BIGINT)
             AS trough_dollars,
           floor(CAST(dd_u AS DOUBLE) / 1.0e3 + 0.5) / 1.0e6
             AS max_drawdown_frac
    FROM d ORDER BY dd_u DESC, ym LIMIT 1
    """,
)
def orders_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the monthly-revenue series: the largest
    peak-to-trough fractional drop from a running maximum — the
    risk-report headline number, located (year, month of the trough)
    and sized. The running max is a window over the MONTH table, whose
    cardinality is the calendar (bounded ~10² rows here, ~10³ at a
    century of data) — the docstring-bound idiom the concentration
    family uses; the raw scan is a single month group-by. Drawdown
    fractions quantize to 1e-9 integers before the argmax so the
    winning month is engine-exact under ties (earliest month wins)."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("ym")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("rev")
    )
    w = Window.orderBy("ym").rowsBetween(Window.unboundedPreceding, 0)
    r = m.withColumn("peak", F.max("rev").over(w))
    d = r.withColumn(
        "dd_u",
        F.floor(
            (F.col("peak").cast("double") - F.col("rev").cast("double"))
            / F.col("peak").cast("double")
            * 1.0e9
            + 0.5
        ).cast("long"),
    )
    return (
        d.orderBy(F.col("dd_u").desc(), "ym")
        .limit(1)
        .select(
            F.floor(F.col("ym") / 12).cast("long").alias("year"),
            (F.col("ym") % 12 + 1).cast("long").alias("month"),
            F.floor(F.col("peak").cast("double") / 100.0 + 0.5).alias(
                "peak_dollars"
            ),
            F.floor(F.col("rev").cast("double") / 100.0 + 0.5).alias(
                "trough_dollars"
            ),
            (F.floor(F.col("dd_u").cast("double") / 1.0e3 + 0.5) / 1.0e6).alias(
                "max_drawdown_frac"
            ),
        )
    )


@register(
    "events_extremal_index_intervals",
    oracle="""
    WITH v AS (
      SELECT event_type, event_id, ts,
             CAST(CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) AS HUGEINT) AS vu
      FROM events WHERE value IS NOT NULL
    ),
    m AS (
      SELECT event_type, CAST(count(*) AS HUGEINT) AS n, sum(vu) AS s,
             sum(vu * vu) AS ss
      FROM v GROUP BY 1
    ),
    u AS (
      SELECT event_type, CAST(floor(
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
               + 2.0e0 * sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                              / (CAST(n AS DOUBLE)
                                 * (CAST(n AS DOUBLE) - 1.0e0)))
               + 0.5) AS HUGEINT) AS uu
      FROM m
    ),
    exc AS (
      SELECT v.event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY v.event_type ORDER BY ts, event_id
             ) AS prev
      FROM v JOIN u ON v.event_type = u.event_type AND v.vu > u.uu
    ),
    g AS (
      SELECT event_type, CAST(t - prev AS HUGEINT) AS gap
      FROM exc WHERE prev IS NOT NULL
    ),
    a AS (
      SELECT event_type, CAST(count(*) AS HUGEINT) AS n, sum(gap) AS s,
             sum(gap * gap) AS ss
      FROM g GROUP BY 1
    )
    SELECT event_type, CAST(n + 1 AS BIGINT) AS n_exceed,
           floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 1.0e3 + 0.5) / 1.0e3
             AS mean_interexceed_s,
           floor(least(2.0e0 * CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)), 1.0e0)
                 * 1.0e6 + 0.5) / 1.0e6 AS extremal_index
    FROM a ORDER BY event_type
    """,
)
def events_extremal_index_intervals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ferro & Segers (2003) intervals estimator of the extremal index
    theta per event type: over interexceedance times T of the
    mean+2-sigma threshold (the same aggregate-derived integer-grid cut
    as events_pot_gpd_fit), theta-hat = min(1, 2(ΣT)²/(N·ΣT²)) —
    theta near 1 means extremes arrive independently, near 0 they
    cluster into bursts, which decides whether a POT fit may treat
    exceedances as independent (declustering needed below ~0.7). The
    lag window is PARTITIONED by event type over the FILTERED
    exceedance set (a small fraction of events by construction of the
    2-sigma cut); gaps are whole epoch seconds, all moment sums exact
    HUGEINT/decimal."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        "event_type",
        "event_id",
        "ts",
        F.floor(F.col("value") * 1.0e6 + 0.5).cast("decimal(38,0)").alias("vu"),
    )
    m = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("vu").alias("s"),
        F.sum(F.col("vu") * F.col("vu")).alias("ss"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    u = m.select(
        "event_type",
        F.floor(
            sd / nd
            + F.lit(2.0)
            * F.sqrt((nd * ssd - sd * sd) / (nd * (nd - F.lit(1.0))))
            + 0.5
        )
        .cast("decimal(38,0)")
        .alias("uu"),
    )
    exc = v.join(F.broadcast(u), "event_type").filter(
        F.col("vu") > F.col("uu")
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t = F.col("ts").cast("long")
    g = (
        exc.select("event_type", t.alias("t"), F.lag(t).over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .select(
            "event_type",
            (F.col("t") - F.col("prev")).cast("decimal(38,0)").alias("gap"),
        )
    )
    a = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("gap").alias("s"),
        F.sum(F.col("gap") * F.col("gap")).alias("ss"),
    )
    nd2 = F.col("n").cast("double")
    sd2 = F.col("s").cast("double")
    ssd2 = F.col("ss").cast("double")
    return a.select(
        "event_type",
        (F.col("n").cast("long") + 1).alias("n_exceed"),
        (F.floor(sd2 / nd2 * 1.0e3 + 0.5) / 1.0e3).alias(
            "mean_interexceed_s"
        ),
        (
            F.floor(
                F.least(
                    F.lit(2.0) * sd2 * sd2 / (nd2 * ssd2), F.lit(1.0)
                )
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("extremal_index"),
    ).orderBy("event_type")


@register(
    "orders_fixed_effects_trend",
    oracle="""
    WITH o AS (
      SELECT o_custkey AS cust,
             CAST(date_diff('day', DATE '1992-01-01',
                            CAST(o_orderdate AS DATE)) AS HUGEINT) AS x,
             CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                  AS HUGEINT) AS y
      FROM orders
    ),
    per AS (
      SELECT cust, CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM o GROUP BY cust
    ),
    fe AS (
      SELECT CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(n) AS BIGINT) AS n_orders,
             sum(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                 / CAST(n AS DOUBLE)) AS w_sxy,
             sum(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                 / CAST(n AS DOUBLE)) AS w_sxx,
             CAST(sum(sx) AS DOUBLE) AS tsx, CAST(sum(sy) AS DOUBLE) AS tsy,
             CAST(sum(sxy) AS DOUBLE) AS tsxy,
             CAST(sum(sxx) AS DOUBLE) AS tsxx,
             CAST(sum(n) AS DOUBLE) AS tn
      FROM per WHERE n >= 2
    )
    SELECT n_customers, n_orders,
           floor((tsxy - tsx * tsy / tn) / (tsxx - tsx * tsx / tn)
                 / 100.0e0 * 1.0e6 + 0.5) / 1.0e6 AS slope_pooled_dpd,
           floor(w_sxy / w_sxx / 100.0e0 * 1.0e6 + 0.5) / 1.0e6
             AS slope_within_dpd
    FROM fe
    """,
)
def orders_fixed_effects_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer fixed-effects (within) regression of order value on
    time, next to the naive pooled OLS slope: the within estimator
    demeans x and y PER CUSTOMER (algebraically Σ(Sxy_i − SxSy/n_i) /
    Σ(Sxx_i − Sx²/n_i) from per-customer raw sums — one groupBy, no
    demeaned row materialization), so between-customer composition
    shifts (rich cohorts joining late) cannot masquerade as a trend.
    Pooled vs within disagreement IS the finding. x = days since
    1992-01-01 (exact integers), y = cents; every per-customer sum is
    exact HUGEINT/decimal; only customers with >= 2 orders enter (a
    single order has no within variation). Dollars-per-day outputs."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        .cast("decimal(38,0)")
        .alias("x"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("decimal(38,0)")
        .alias("y"),
    )
    per = o.groupBy("cust").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).filter(F.col("n") >= 2)
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    fe = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("n").cast("long").alias("n_orders"),
        F.sum(sxyd - sxd * syd / nd).alias("w_sxy"),
        F.sum(sxxd - sxd * sxd / nd).alias("w_sxx"),
        F.sum("sx").cast("double").alias("tsx"),
        F.sum("sy").cast("double").alias("tsy"),
        F.sum("sxy").cast("double").alias("tsxy"),
        F.sum("sxx").cast("double").alias("tsxx"),
        F.sum("n").cast("double").alias("tn"),
    )
    pooled = (
        F.col("tsxy") - F.col("tsx") * F.col("tsy") / F.col("tn")
    ) / (F.col("tsxx") - F.col("tsx") * F.col("tsx") / F.col("tn"))
    within = F.col("w_sxy") / F.col("w_sxx")
    return fe.select(
        "n_customers",
        "n_orders",
        (F.floor(pooled / F.lit(100.0) * 1.0e6 + 0.5) / 1.0e6).alias(
            "slope_pooled_dpd"
        ),
        (F.floor(within / F.lit(100.0) * 1.0e6 + 0.5) / 1.0e6).alias(
            "slope_within_dpd"
        ),
    )


@register(
    "events_conversion_lag",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT p.ts AS pts, c.ts AS cts
      FROM purch p ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND c.ts <= p.ts
    ),
    lag_s AS (
      SELECT CASE WHEN cts IS NULL THEN NULL
                  ELSE CAST(floor(epoch(pts)) AS BIGINT)
                       - CAST(floor(epoch(cts)) AS BIGINT) END AS s
      FROM j
    ),
    b AS (
      SELECT CASE
               WHEN s IS NULL THEN 'z_no_prior_click'
               WHEN s < 60 THEN 'a_under_1m'
               WHEN s < 300 THEN 'b_1m_5m'
               WHEN s < 1800 THEN 'c_5m_30m'
               WHEN s < 3600 THEN 'd_30m_1h'
               WHEN s < 21600 THEN 'e_1h_6h'
               ELSE 'f_over_6h'
             END AS bucket
      FROM lag_s
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_purchases
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-to-purchase conversion-lag histogram via the engine's
    as-of join operator (operators/asof.py — the union+window
    formulation: ONE shuffle on user_id, zero pair explosion): each
    purchase attaches its most recent preceding click for the same
    user, lag buckets into fixed funnel bands, purchases with no prior
    click land in their own bucket. The attribution-latency readout
    behind every funnel dashboard, and a second live proof of the
    as-of operator against DuckDB's native ASOF JOIN as the oracle.
    Lags in whole epoch seconds; bucket edges are integer compares."""
    from cioos_siooc_data_transform_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    j = asof_join(purch, clicks, key="user_id", right_cols=["ts"])
    s = j.select(
        (
            F.col("ts").cast("long") - F.col("right_ts").cast("long")
        ).alias("s")
    )
    bucket = (
        F.when(F.col("s").isNull(), "z_no_prior_click")
        .when(F.col("s") < 60, "a_under_1m")
        .when(F.col("s") < 300, "b_1m_5m")
        .when(F.col("s") < 1800, "c_5m_30m")
        .when(F.col("s") < 3600, "d_30m_1h")
        .when(F.col("s") < 21600, "e_1h_6h")
        .otherwise("f_over_6h")
    )
    return (
        s.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_purchases"))
        .orderBy("bucket")
    )


@register(
    "lineitem_median_polish",
    oracle="""
    WITH cell AS (
      SELECT month(l_shipdate) AS mth, l_returnflag AS flag,
             quantile_cont(CAST(floor(l_extendedprice * 100.0 + 0.5)
                                AS BIGINT) * 2, 0.5) / 2.0e0 AS cell_c
      FROM lineitem GROUP BY 1, 2
    ),
    rowm AS (
      SELECT mth, quantile_cont(cell_c * 4, 0.5) / 4.0e0 AS row_eff
      FROM cell GROUP BY mth
    ),
    r1 AS (
      SELECT cell.mth, flag, cell_c, row_eff,
             cell_c - row_eff AS resid1
      FROM cell JOIN rowm USING (mth)
    ),
    colm AS (
      SELECT flag, quantile_cont(resid1 * 8, 0.5) / 8.0e0 AS col_eff
      FROM r1 GROUP BY flag
    )
    SELECT CAST(r1.mth AS BIGINT) AS mth, r1.flag,
           floor(cell_c / 100.0e0 * 1.0e4 + 0.5) / 1.0e4 AS cell_dollars,
           floor(row_eff / 100.0e0 * 1.0e4 + 0.5) / 1.0e4 AS row_effect,
           floor(col_eff / 100.0e0 * 1.0e4 + 0.5) / 1.0e4 AS col_effect,
           floor((resid1 - col_eff) / 100.0e0 * 1.0e4 + 0.5) / 1.0e4
             AS residual_dollars
    FROM r1 JOIN colm USING (flag)
    ORDER BY mth, flag
    """,
)
def lineitem_median_polish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One sweep of Tukey's median polish (EDA, 1977) on the
    ship-month x return-flag grid of median line prices: row effects =
    row medians of the cell matrix, column effects = column medians of
    the row-demeaned residuals — the robust two-way decomposition whose
    residual grid surfaces interaction cells a mean-based two-way ANOVA
    smears. Exactness: the cell stat is the interpolated median of
    integer cents, an exact dyadic rational; every later median doubles
    the scale first (x2, x4, x8) so each interpolated midpoint is
    computed on integer-VALUED doubles and all subtractions stay exact
    dyadic — bit-identical across engines with no quantization drift
    until the final dollar rounding. The raw scan is one bounded
    36-cell group-by; the polish runs on that 36-row grid."""
    li = _t(spark, sf_dir, "lineitem")
    cell = li.groupBy(
        F.month("l_shipdate").alias("mth"), F.col("l_returnflag").alias("flag")
    ).agg(
        (
            F.expr(
                "percentile(CAST(floor(l_extendedprice * 100.0 + 0.5)"
                " AS BIGINT) * 2, 0.5)"
            )
            / 2.0
        ).alias("cell_c")
    )
    rowm = cell.groupBy("mth").agg(
        (F.expr("percentile(cell_c * 4, 0.5)") / 4.0).alias("row_eff")
    )
    r1 = cell.join(F.broadcast(rowm), "mth").withColumn(
        "resid1", F.col("cell_c") - F.col("row_eff")
    )
    colm = r1.groupBy("flag").agg(
        (F.expr("percentile(resid1 * 8, 0.5)") / 8.0).alias("col_eff")
    )

    def dollars(col):
        return F.floor(col / F.lit(100.0) * 1.0e4 + 0.5) / 1.0e4

    return (
        r1.join(F.broadcast(colm), "flag")
        .select(
            F.col("mth").cast("long").alias("mth"),
            "flag",
            dollars(F.col("cell_c")).alias("cell_dollars"),
            dollars(F.col("row_eff")).alias("row_effect"),
            dollars(F.col("col_eff")).alias("col_effect"),
            dollars(F.col("resid1") - F.col("col_eff")).alias(
                "residual_dollars"
            ),
        )
        .orderBy("mth", "flag")
    )


# ===========================================================================
# Wave C — GSW Gibbs-derivative tail via symbolic differentiation
# (functions/symdiff.py): isobaric heat capacity cp_t_exact =
# (T0+t)·η_t with η_t the SYMBOLIC t-derivative of the shipped entropy
# polynomial (GSW twin gsw_cp_t_exact; published check value
# 4002.888003958537 J/(kg·K) at (34.7118, 28.7856, 10) reproduced
# bit-for-bit), and potential enthalpy of ice (enthalpy_ice evaluated
# at the pt0_from_t_ice Newton chain's output at p=0 — GSW twin
# gsw_pot_enthalpy_from_t_ice, the heat-content variable of ice-ocean
# flux budgets). Zero shuffle; identical literal trees on both
# engines.
# ===========================================================================
def _cp_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        cp_t_exact_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _IN_SQL,
        _SA_SQL,
    )

    return f"""
    SELECT l_orderkey, l_linenumber,
           floor({cp_t_exact_sql(_SA_SQL, "t", "p")} * 1.0e6 + 0.5) / 1.0e6
             AS cp_j_kg_k
    FROM ({_IN_SQL})
    """


@register("gsw_cp_t_exact", oracle=_cp_oracle())
def gsw_cp_t_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isobaric specific heat capacity cp(SA, t, p) = −(T0+t)·g_TT =
    (T0+t)·η_t (IOC et al. 2010 eqn 2.20.3; GSW twin gsw_cp_t_exact).
    η_t is produced by SYMBOLIC differentiation of the entropy
    polynomial string (functions/symdiff.py) — no hand-transcribed
    derivative table to get wrong, and the differentiated expression is
    again one literal tree shared verbatim by both engines, so oracle
    parity is structural. Correctness is pinned three ways in
    tests/test_oceanography_checkvalues.py: the published GSW check
    value 4002.888003958537 J/(kg·K), finite-difference agreement of
    η_t, and the physical range over the input envelope. Pure per-row
    math, zero shuffles."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        cp_t_exact_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _inputs,
    )

    df = _inputs(spark, sf_dir)
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor(
                F.expr(cp_t_exact_sql(_SA_SQL, "t", "p")) * 1.0e6 + 0.5
            )
            / 1.0e6
        ).alias("cp_j_kg_k"),
    )


#: Final-surface columns each prefixed Gibbs chain emits; the potential-
#: enthalpy composition reads only entropy (Newton residual) and
#: enthalpy (final readoff), so the rest are pruned from every chain —
#: smaller Spark projections AND a shallower oracle.
_ICE_SURFACE_DROP = (
    "gibbs_ice", "rho_ice", "cp_ice", "kappa_const_t_ice",
    "internal_energy_ice", "helmholtz_energy_ice", "sound_speed_ice",
)


def _poth_ice_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r10 import (
        _pt0_ice_stages,
    )

    def prune(stages, keep_enthalpy: bool):
        out = []
        for name, expr in stages:
            tail = name.split("o_", 1)[-1]
            if tail in _ICE_SURFACE_DROP:
                continue
            if tail == "enthalpy_ice" and not keep_enthalpy:
                continue
            out.append((name, expr))
        return out

    stages = prune(_pt0_ice_stages(), keep_enthalpy=False)
    stages += prune(
        gibbs_ice_stages("pt0_ice", "0.0e0", x="__ph_", out="__pho_"),
        keep_enthalpy=True,
    )
    stages.append(("pot_enthalpy_ice", "__pho_enthalpy_ice"))
    return stages


def _stage_sql_cte(inner_sql: str, stages: list[tuple[str, str]]) -> str:
    """Flat CTE-chain twin of staged_r6._stage_sql: one WITH step per
    stage instead of one nesting LEVEL per stage — semantically
    identical (each intermediate named once, evaluated once), but the
    parser cost is linear-and-shallow, which keeps very long chains
    (the 4x ice Gibbs composition here) inside DuckDB's recursion
    budget."""
    parts = [f"__s0 AS ({inner_sql})"]
    for i, (name, expr) in enumerate(stages, start=1):
        parts.append(f"__s{i} AS (SELECT *, {expr} AS {name} FROM __s{i-1})")
    sep = ",\n"
    return "WITH " + sep.join(parts) + f" SELECT * FROM __s{len(stages)}"


def _poth_ice_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r8 import _ICE_IN_SQL

    staged = _stage_sql_cte(_ICE_IN_SQL, _poth_ice_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(pot_enthalpy_ice * 1.0e6 + 0.5) / 1.0e6 AS pot_enthalpy_ice
    FROM ({staged})
    """


@register("gsw_pot_enthalpy_from_t_ice", oracle=_poth_ice_oracle())
def gsw_pot_enthalpy_from_t_ice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential enthalpy of ice Ih, h_ice(pt0_ice, 0) (GSW twin:
    gsw_pot_enthalpy_from_t_ice) — the conservative heat-content
    variable for ice in ice–ocean flux budgets (McDougall 2003 applied
    to the IAPWS-06 ice surface): first recover pt0_ice by the two-step
    Newton entropy match (the registered gsw_pt0_from_t_ice chain,
    reused verbatim), then evaluate the ice Gibbs chain once more at
    (pt0_ice, 0) and read off g − T·g_T. Four prefixed Gibbs chains
    (~16 KB of expression text) stay under the janino method limit via
    the staged-column discipline; zero shuffle."""
    from cioos_siooc_data_transform_spark.plans.staged_r8 import _ice_inputs

    df = _ice_inputs(spark, sf_dir)
    for name, expr in _poth_ice_stages():
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("pot_enthalpy_ice") * 1.0e6 + 0.5) / 1.0e6).alias(
            "pot_enthalpy_ice"
        ),
    )


def _gibbs_deriv_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        adiabatic_lapse_rate_t_exact_sql,
        t_deriv_chem_potential_water_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _IN_SQL,
        _SA_SQL,
    )

    return f"""
    SELECT l_orderkey, l_linenumber,
           floor({t_deriv_chem_potential_water_sql(_SA_SQL, "t", "p")}
                 * 1.0e9 + 0.5) / 1.0e9 AS dmu_w_dt,
           floor({adiabatic_lapse_rate_t_exact_sql(_SA_SQL, "t", "p")}
                 * 1.0e12 + 0.5) / 1.0e12 AS lapse_t_exact
    FROM ({_IN_SQL})
    """


@register("gsw_chem_potential_t_derivative", oracle=_gibbs_deriv_oracle())
def gsw_chem_potential_t_derivative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature derivative of the chemical potential of water in
    seawater, ∂μ_W/∂T = g_T − SA·g_SAT = −η + SA·η_SA (GSW twin:
    gsw_t_deriv_chem_potential_water_t_exact, J/(g·K)), alongside the
    Gibbs-exact adiabatic lapse rate Γ = −η_p/η_t (K/dbar) — both
    assembled from SYMBOLIC derivatives of the entropy polynomial
    (functions/symdiff.py), no hand-transcribed tables. μ_W's T-slope
    drives freezing-point depression sensitivity; Γ_exact is
    FD-pinned and cross-checked against the independent EOS-80 lapse
    fit in tests (two different published sources agreeing is a real
    check). Pure per-row expressions, zero shuffle."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        adiabatic_lapse_rate_t_exact_sql,
        t_deriv_chem_potential_water_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _inputs,
    )

    df = _inputs(spark, sf_dir)
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor(
                F.expr(t_deriv_chem_potential_water_sql(_SA_SQL, "t", "p"))
                * 1.0e9
                + 0.5
            )
            / 1.0e9
        ).alias("dmu_w_dt"),
        (
            F.floor(
                F.expr(adiabatic_lapse_rate_t_exact_sql(_SA_SQL, "t", "p"))
                * 1.0e12
                + 0.5
            )
            / 1.0e12
        ).alias("lapse_t_exact"),
    )


@register(
    "dedup_component_source_purity",
    oracle="""
    WITH RECURSIVE w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
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
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    walk(node, label) AS (
      SELECT src, src FROM (SELECT DISTINCT src FROM edges)
      UNION
      SELECT e.src, w2.label FROM edges e JOIN walk w2 ON e.dst = w2.node
    ),
    cc AS (SELECT node, min(label) AS comp FROM walk GROUP BY node),
    lab AS (
      SELECT comp, d.source, CAST(count(*) AS BIGINT) AS c
      FROM cc JOIN documents d ON d.doc_id = cc.node
      GROUP BY 1, 2
    ),
    per AS (
      SELECT comp, CAST(sum(c) AS BIGINT) AS size,
             CAST(count(*) AS BIGINT) AS n_sources,
             CAST(max(c) AS BIGINT) AS max_src,
             CAST(floor(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
                        * 1.0e6 + 0.5) AS BIGINT) AS purity_u
      FROM lab GROUP BY comp
    )
    SELECT CAST(count(*) AS BIGINT) AS n_components,
           CAST(sum(size) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (n_sources > 1) AS BIGINT)
             AS n_cross_source,
           CAST(max(size) AS BIGINT) AS max_component_size,
           floor(CAST(sum(purity_u) AS DOUBLE) / count(*) + 0.5) / 1.0e6
             AS mean_purity,
           floor(CAST(min(purity_u) AS DOUBLE) + 0.5) / 1.0e6 AS min_purity
    FROM per
    """,
)
def dedup_component_source_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source purity of near-duplicate components: run the pointer-
    jumping connected-components operator over the exact Jaccard>=0.5
    pair graph, then ask how often a component spans MULTIPLE sources —
    cross-source components mean the same upstream content is entering
    the corpus through different feeds (the dedup-between-crawls
    finding), while the majority-source share (purity) says whether
    keep-by-source survivorship rules are even well-defined. Component
    labels from O(log diameter) min-label rounds (operators/dedup.py,
    recursive-CTE oracle twin); per-component purity quantized to 1e-6
    before the exact cross-component mean."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        distinct_shingles,
    )

    sh = distinct_shingles(spark, sf_dir)
    pairs = ngram_jaccard_pairs(sh, "doc_id", "s", threshold=0.5, max_doc_freq=10)
    cc = connected_components(pairs)
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node"), "source"
    )
    lab = (
        cc.select(F.col("doc_id").alias("node"), F.col("component"))
        .join(docs, "node")
        .groupBy(F.col("component").alias("comp"), "source")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per = lab.groupBy("comp").agg(
        F.sum("c").cast("long").alias("size"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.max("c").cast("long").alias("max_src"),
    ).select(
        "size",
        "n_sources",
        F.floor(
            F.col("max_src").cast("double") / F.col("size").cast("double")
            * 1.0e6
            + 0.5
        )
        .cast("long")
        .alias("purity_u"),
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_components"),
        F.sum("size").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_sources") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_cross_source"),
        F.max("size").cast("long").alias("max_component_size"),
        (
            F.floor(
                F.sum("purity_u").cast("double") / F.count(F.lit(1)) + 0.5
            )
            / 1.0e6
        ).alias("mean_purity"),
        (F.floor(F.min("purity_u").cast("double") + 0.5) / 1.0e6).alias(
            "min_purity"
        ),
    )


@register(
    "orders_littles_law_audit",
    oracle="""
    WITH o AS (
      SELECT * FROM (
        SELECT l.l_orderkey,
               CAST(min(o_orderdate) AS DATE) AS d0,
               CAST(max(l_shipdate) AS DATE) AS d1
        FROM lineitem l JOIN orders ON o_orderkey = l_orderkey
        GROUP BY 1
      ) WHERE d1 >= d0
    ),
    arr AS (
      SELECT CAST(count(*) AS BIGINT) AS n_arrivals,
             CAST(sum(date_diff('day', d0, d1) + 1) AS BIGINT) AS sum_open
      FROM o WHERE year(d0) = 1998
    ),
    days AS (
      SELECT o.l_orderkey,
             unnest(generate_series(o.d0, o.d1, INTERVAL 1 DAY)) AS day
      FROM o
    ),
    l_emp AS (
      SELECT CAST(count(*) AS BIGINT) AS open_days,
             CAST(count(DISTINCT CAST(day AS DATE)) AS BIGINT) AS n_days
      FROM days WHERE year(day) = 1998
    )
    SELECT n_arrivals, 
           floor(CAST(n_arrivals AS DOUBLE) / 365.0e0 * 1.0e6 + 0.5) / 1.0e6
             AS lambda_per_day,
           floor(CAST(sum_open AS DOUBLE) / CAST(n_arrivals AS DOUBLE)
                 * 1.0e6 + 0.5) / 1.0e6 AS w_days,
           floor(CAST(open_days AS DOUBLE) / CAST(n_days AS DOUBLE)
                 * 1.0e6 + 0.5) / 1.0e6 AS l_time_avg,
           floor(CAST(open_days AS DOUBLE) / CAST(n_days AS DOUBLE)
                 / (CAST(n_arrivals AS DOUBLE) / 365.0e0
                    * CAST(sum_open AS DOUBLE) / CAST(n_arrivals AS DOUBLE))
                 * 1.0e6 + 0.5) / 1.0e6 AS littles_ratio
    FROM arr, l_emp
    """,
)
def orders_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law audit L = lambda*W on the 1998 order book: an order
    is 'open' from order date to its last line shipment; lambda = 1998
    arrivals/day, W = mean open duration of 1998 arrivals, and L is
    measured INDEPENDENTLY as the time-average number open per 1998
    calendar day (per-day explode of open intervals — row growth
    bounded by the max open duration, ~3 months here; inverted
    intervals are filtered as data-quality rejects on both engines). The
    ratio
    L/(lambda*W) deviates from 1 exactly by the boundary terms (orders
    open across the window edges) — the bias a naive capacity dashboard
    carries, quantified. Integer day counts throughout; the explode is
    the only row expansion and it is interval-bounded."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    iv = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey")
        .agg(
            F.min(F.col("o_orderdate").cast("date")).alias("d0"),
            F.max(F.col("l_shipdate").cast("date")).alias("d1"),
        )
        # inverted intervals (last shipment before order date exist in
        # the synthetic data) are data-quality rejects, not open time
        .filter(F.col("d1") >= F.col("d0"))
    )
    arr = iv.filter(F.year("d0") == 1998).agg(
        F.count(F.lit(1)).cast("long").alias("n_arrivals"),
        F.sum(F.datediff("d1", "d0") + 1).cast("long").alias("sum_open"),
    )
    days = iv.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    ).filter(F.year("day") == 1998)
    l_emp = days.agg(
        F.count(F.lit(1)).cast("long").alias("open_days"),
        F.countDistinct("day").cast("long").alias("n_days"),
    )
    na = F.col("n_arrivals").cast("double")
    so = F.col("sum_open").cast("double")
    od = F.col("open_days").cast("double")
    ndy = F.col("n_days").cast("double")
    lam = na / F.lit(365.0)
    w = so / na
    l_avg = od / ndy
    return arr.crossJoin(F.broadcast(l_emp)).select(
        "n_arrivals",
        (F.floor(lam * 1.0e6 + 0.5) / 1.0e6).alias("lambda_per_day"),
        (F.floor(w * 1.0e6 + 0.5) / 1.0e6).alias("w_days"),
        (F.floor(l_avg * 1.0e6 + 0.5) / 1.0e6).alias("l_time_avg"),
        (F.floor(l_avg / (lam * w) * 1.0e6 + 0.5) / 1.0e6).alias(
            "littles_ratio"
        ),
    )


# ===========================================================================
# Wave E — pipeline knob-tuning curves: Matryoshka-style prefix-
# dimension retrieval recall (how many dims does the index really
# need?), and a greedy-packing chunk-size sweep (tokens wasted per
# capacity choice). Both are parameter sweeps of machinery that
# already has a single-point registered query.
# ===========================================================================
_MRL_DIMS = (8, 16, 32)


def _mrl_oracle() -> str:
    probes = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 100"
    corpus = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"
    per_dim = []
    for d in _MRL_DIMS + (64,):
        sl = f"v[1:{d}]" if d < 64 else "v"
        per_dim.append(f"""
    nn{d} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.{sl}, c.{sl}), 6)
                          DESC, c.vec_id ASC
               ) AS rank
        FROM qs q, cs c WHERE c.vec_id != q.vec_id
      ) WHERE rank <= 10
    )""")
    unions = " UNION ALL ".join(
        f"""SELECT {d} AS dim, query_id,
               CAST(count(*) AS BIGINT) AS n_hit
            FROM nn{d} JOIN nn64 USING (query_id, neighbor_id)
            GROUP BY query_id"""
        for d in _MRL_DIMS
    )
    return f"""
    WITH qs AS ({probes}), cs AS ({corpus}),
    {", ".join(p.strip() for p in per_dim)},
    hits AS ({unions})
    SELECT dim, CAST(count(*) AS BIGINT) AS n_probes,
           floor(CAST(sum(n_hit) AS DOUBLE) / (10.0e0 * count(*)) * 1.0e6
                 + 0.5) / 1.0e6 AS recall_at_10
    FROM hits GROUP BY dim ORDER BY dim
    """


@register("embedding_prefix_dim_recall", oracle=_mrl_oracle())
def embedding_prefix_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style prefix-dimension recall curve (Kusupati et al.
    2022): re-rank the exact top-10 (full 64-dim rounded cosine, the
    engine-stable contract) using only the first 8/16/32 coordinates
    and measure recall@10 — the knob-tuning readout for shipping a
    truncated-dimension ANN index (storage and bandwidth drop linearly
    in d; this curve says what recall that buys). Probe set bounded at
    vec_id<100 with the corpus streamed once per dim via the broadcast
    brute-force arm; per-probe hit counts are integers, the mean is an
    exact sum."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        cosine_sql,
    )

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    pairs = corpus.crossJoin(F.broadcast(probes)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )

    def topk(d: int) -> DataFrame:
        if d < 64:
            qv, cv = f"slice(qv, 1, {d})", f"slice(cv, 1, {d})"
        else:
            qv, cv = "qv", "cv"
        w = Window.partitionBy("query_id").orderBy(
            F.expr(f"round({cosine_sql(qv, cv)}, 6)").desc(),
            F.col("neighbor_id").asc(),
        )
        return (
            pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .select("query_id", "neighbor_id")
        )

    truth = topk(64)
    out = None
    for d in _MRL_DIMS:
        hits = (
            topk(d)
            .join(truth, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_probes"),
                F.sum("n_hit").cast("long").alias("s_hit"),
            )
            .select(
                F.lit(d).cast("long").alias("dim"),
                "n_probes",
                (
                    F.floor(
                        F.col("s_hit").cast("double")
                        / (F.lit(10.0) * F.col("n_probes"))
                        * 1.0e6
                        + 0.5
                    )
                    / 1.0e6
                ).alias("recall_at_10"),
            )
        )
        out = hits if out is None else out.unionByName(hits)
    return out.orderBy("dim")


_PACK_SWEEP_CAPS = (256, 512, 1024, 2048)


@register(
    "pack_chunk_size_sweep",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
      WHERE len(string_split(text, ' ')) > 0
    ),
    caps AS (SELECT unnest([{", ".join(str(c) for c in _PACK_SWEEP_CAPS)}]) AS cap),
    s AS (
      SELECT cap, source, doc_id, tokens, rn,
             CAST(1 AS BIGINT) AS bin_id, tokens AS fill
      FROM d, caps WHERE rn = 1
      UNION ALL
      SELECT s.cap, d.source, d.doc_id, d.tokens, d.rn,
             CASE WHEN s.fill + d.tokens > s.cap
                  THEN s.bin_id + 1 ELSE s.bin_id END,
             CASE WHEN s.fill + d.tokens > s.cap
                  THEN d.tokens ELSE s.fill + d.tokens END
      FROM d JOIN s ON d.source = s.source AND d.rn = s.rn + 1
    ),
    bins AS (
      SELECT cap, source, bin_id, CAST(sum(tokens) AS BIGINT) AS fill
      FROM s GROUP BY 1, 2, 3
    )
    SELECT CAST(cap AS BIGINT) AS capacity,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(fill) AS BIGINT) AS total_tokens,
           floor(CAST(sum(fill) AS DOUBLE)
                 / (CAST(count(*) AS DOUBLE) * cap) * 1.0e6 + 0.5) / 1.0e6
             AS mean_fill_ratio
    FROM bins GROUP BY cap ORDER BY cap
    """,
)
def pack_chunk_size_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy no-split packing swept over capacities 256..2048: bins
    produced and mean fill ratio per capacity — the curve that decides
    a training-batch token budget (small capacities waste long-doc
    remainders as extra bins; large ones waste padding). Each point
    runs the SAME pack_greedy_nosplit operator (applyInPandas per
    source, shard-guarded at scale) that the single-point registered
    query pins, so the sweep is a second live contract on the operator;
    the oracle carries capacity through the recursive-CTE scan as part
    of the recursion key. Sweep loop is over 4 constants — 4 bounded
    jobs, not a data-dependent loop."""
    from cioos_siooc_data_transform_spark.operators.packing import (
        pack_greedy_nosplit,
    )

    docs = _t(spark, sf_dir, "documents")
    out = None
    for cap in _PACK_SWEEP_CAPS:
        bins = (
            pack_greedy_nosplit(docs, cap)
            .groupBy("source", "bin_id")
            .agg(F.sum("tokens").cast("long").alias("fill"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_bins"),
                F.sum("fill").cast("long").alias("total_tokens"),
            )
            .select(
                F.lit(cap).cast("long").alias("capacity"),
                "n_bins",
                "total_tokens",
                (
                    F.floor(
                        F.col("total_tokens").cast("double")
                        / (F.col("n_bins").cast("double") * cap)
                        * 1.0e6
                        + 0.5
                    )
                    / 1.0e6
                ).alias("mean_fill_ratio"),
            )
        )
        out = bins if out is None else out.unionByName(bins)
    return out.orderBy("capacity")


# ===========================================================================
# Wave F — GSW twin tail: ice expansion/pressure coefficients (two
# more ratios on the existing IAPWS-06 second-derivative chain),
# spiciness referenced to 1000/2000 dbar (the shipped McDougall-Krzysik
# polynomial helpers, previously unregistered), and the Baltic Sea
# Absolute-Salinity special case (published GSW Baltic polygon +
# linear SA(SP) relation — McDougall & Barker toolbox; constants are
# published scientific data, cited, not code).
# ===========================================================================
def _ice_coef_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r8 import _ICE_IN_SQL

    staged = _stage_sql_cte(
        _ICE_IN_SQL, list(gibbs_ice_stages("t", "p", x="__gc_", out="__gco_"))
    )
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(__gc_gtp / __gc_gp * 1.0e12 + 0.5) / 1.0e12
             AS alpha_wrt_t_ice,
           floor((-__gc_gtp / __gc_gpp) * 1.0e0 + 0.5) / 1.0e0
             AS pressure_coefficient_ice
    FROM ({staged})
    """


@register("gsw_ice_expansion_coefficients", oracle=_ice_coef_oracle())
def gsw_ice_expansion_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thermal expansion of ice wrt in-situ temperature alpha =
    g_TP/g_P [1/K] and the isochoric pressure coefficient (dP/dT)_v =
    -g_TP/g_PP [Pa/K] (GSW twins: gsw_alpha_wrt_t_ice,
    gsw_pressure_coefficient_ice) — two more readoffs on the SAME
    IAPWS-06 Gibbs second-derivative chain that already powers
    rho/cp/sound-speed of ice (functions/ice.py; Table-6 pinned).
    Zero shuffle; the pressure coefficient is quantized to whole Pa/K
    (magnitude ~1.3e5 Pa/K)."""
    from cioos_siooc_data_transform_spark.functions.ice import (
        gibbs_ice_stages,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r8 import _ice_inputs

    df = _ice_inputs(spark, sf_dir)
    for name, expr in gibbs_ice_stages("t", "p", x="__gc_", out="__gco_"):
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor(F.col("__gc_gtp") / F.col("__gc_gp") * 1.0e12 + 0.5)
            / 1.0e12
        ).alias("alpha_wrt_t_ice"),
        (
            F.floor(-F.col("__gc_gtp") / F.col("__gc_gpp") * 1.0 + 0.5) / 1.0
        ).alias("pressure_coefficient_ice"),
    )


def _spice12_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        spiciness1_sql,
        spiciness2_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _IN_SQL,
        _SA_SQL,
    )

    inner = f"""
      SELECT l_orderkey, l_linenumber, {_SA_SQL} AS sa,
             {ct_from_t_sql("s", "t", "p")} AS ct
      FROM ({_IN_SQL})
    """
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor({spiciness1_sql("sa", "ct")} * 1.0e9 + 0.5) / 1.0e9
             AS spiciness1,
           floor({spiciness2_sql("sa", "ct")} * 1.0e9 + 0.5) / 1.0e9
             AS spiciness2
    FROM ({inner})
    """


@register("gsw_spiciness1_2", oracle=_spice12_oracle())
def gsw_spiciness1_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spiciness referenced to 1000 and 2000 dbar (GSW twins:
    gsw_spiciness1, gsw_spiciness2; McDougall & Krzysik 2015
    polynomials — the 0-dbar form and the deep composition are already
    registered, these complete the reference-pressure family). Water-
    mass analysis picks the reference closest to the layer under study;
    all three surfaces are the same published coefficient-table Horner
    form. Pure per-row math."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        spiciness1_sql,
        spiciness2_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _inputs,
    )

    df = _inputs(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.expr(spiciness1_sql("sa", "ct")) * 1.0e9 + 0.5) / 1.0e9).alias(
            "spiciness1"
        ),
        (F.floor(F.expr(spiciness2_sql("sa", "ct")) * 1.0e9 + 0.5) / 1.0e9).alias(
            "spiciness2"
        ),
    )


_BALTIC_SQL = """
    CASE WHEN lat > 50.0e0 AND lat < 69.0e0 AND lon > 7.0e0 AND lon < 45.0e0
         AND lon >= (CASE WHEN lat < 59.0e0
                          THEN 12.6e0 + (7.0e0 - 12.6e0)*(lat - 50.0e0)/9.0e0
                          ELSE 7.0e0 + (26.0e0 - 7.0e0)*(lat - 59.0e0)/10.0e0
                     END)
         AND lon <= (45.0e0 + (26.0e0 - 45.0e0)*(lat - 50.0e0)/19.0e0)
    THEN ((35.16504e0 - 0.087e0)/35.0e0)*sp + 0.087e0
    ELSE sp*(35.16504e0/35.0e0)
    END
"""


def _baltic_oracle() -> str:
    return f"""
    WITH pts AS (
      SELECT l_orderkey, l_linenumber,
             5.0e0 + CAST(l_orderkey % 50 AS DOUBLE) AS lon,
             48.0e0 + CAST(l_suppkey % 24 AS DOUBLE) AS lat,
             CAST(30.0 + l_discount * 50 AS DOUBLE) AS sp
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           floor(({_BALTIC_SQL}) * 1.0e9 + 0.5) / 1.0e9 AS sa_baltic,
           (lat > 50.0e0 AND lat < 69.0e0 AND lon > 7.0e0 AND lon < 45.0e0
            AND lon >= (CASE WHEN lat < 59.0e0
                        THEN 12.6e0 + (7.0e0 - 12.6e0)*(lat - 50.0e0)/9.0e0
                        ELSE 7.0e0 + (26.0e0 - 7.0e0)*(lat - 59.0e0)/10.0e0
                   END)
            AND lon <= (45.0e0 + (26.0e0 - 45.0e0)*(lat - 50.0e0)/19.0e0))
             AS in_baltic
    FROM pts
    """


@register("gsw_sa_from_sp_baltic", oracle=_baltic_oracle())
def gsw_sa_from_sp_baltic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absolute Salinity from Practical Salinity with the Baltic Sea
    special case (GSW twin: gsw_SA_from_SP_Baltic; IOC, SCOR & IAPSO
    2010 appendix — inside the published Baltic polygon, river-borne
    dissolved material makes SA(SP) the linear relation
    ((SSO−0.087)/35)·SP + 0.087 rather than the open-ocean ratio).
    The polygon test is the published two-polyline longitude band
    (left boundary interpolating (50°N,12.6°E)→(59°N,7°E)→(69°N,26°E),
    right (50°N,45°E)→(69°N,26°E)); points outside fall back to the
    atlas-free open-ocean baseline this engine documents in
    COVERAGE.md. Synthetic (lon,lat) grid from order/supp keys covers
    inside, outside, and boundary bands. Pure per-row CASE."""
    from cioos_siooc_data_transform_spark.plans.staged_r5 import _inputs

    df = _inputs(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.lit(5.0) + (F.col("l_orderkey") % 50).cast("double")).alias("lon"),
        (F.lit(48.0) + (F.col("l_suppkey") % 24).cast("double")).alias("lat"),
        (F.lit(30.0) + F.col("l_discount") * 50).cast("double").alias("sp"),
    )
    return pts.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.expr(_BALTIC_SQL) * 1.0e9 + 0.5) / 1.0e9).alias(
            "sa_baltic"
        ),
        F.expr(
            """CASE WHEN lat > 50.0e0 AND lat < 69.0e0
                     AND lon > 7.0e0 AND lon < 45.0e0
                     AND lon >= (CASE WHEN lat < 59.0e0
                                 THEN 12.6e0 + (7.0e0 - 12.6e0)*(lat - 50.0e0)/9.0e0
                                 ELSE 7.0e0 + (26.0e0 - 7.0e0)*(lat - 59.0e0)/10.0e0
                            END)
                     AND lon <= (45.0e0 + (26.0e0 - 45.0e0)*(lat - 50.0e0)/19.0e0)
                THEN TRUE ELSE FALSE END"""
        ).alias("in_baltic"),
    )


# ===========================================================================
# Wave G — diagnostics battery growth: Grubbs' extreme-outlier test,
# Allan variance of the event rate across averaging scales, and the
# Breusch–Pagan heteroskedasticity test on the price~quantity OLS.
# Integer-exact sums, doubles in the final scalar algebra only.
# ===========================================================================
@register(
    "lineitem_grubbs_outlier_test",
    oracle="""
    WITH v AS (
      SELECT CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                  AS HUGEINT) AS c
      FROM lineitem
    ),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, sum(c) AS s, sum(c * c) AS ss,
             CAST(max(c) AS BIGINT) AS mx, CAST(min(c) AS BIGINT) AS mn
      FROM v
    )
    SELECT CAST(n AS BIGINT) AS n,
           floor(CAST(mx AS DOUBLE) / 100.0e0 * 1.0e2 + 0.5) / 1.0e2
             AS max_dollars,
           floor((CAST(mx AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)))
                 * 1.0e6 + 0.5) / 1.0e6 AS g_max,
           floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE) - CAST(mn AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)))
                 * 1.0e6 + 0.5) / 1.0e6 AS g_min
    FROM m
    """,
)
def lineitem_grubbs_outlier_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' test statistics (1950) for the most extreme price on
    both tails: G = (max − mean)/s and (mean − min)/s — the classical
    single-outlier screen (compare against the t-based critical value
    offline; the engine's job is the exact statistic). One map-side-
    combinable aggregate over integer cents; max/min/mean/s all from
    exact HUGEINT sums. Complements the IQR-based Tukey fences already
    registered (supplier_acctbal_tukey_outliers) with the parametric
    form."""
    li = _t(spark, sf_dir, "lineitem")
    v = li.select(
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
        .cast("decimal(38,0)")
        .alias("c")
    )
    m = v.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
        F.max("c").cast("long").alias("mx"),
        F.min("c").cast("long").alias("mn"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    sdev = F.sqrt((nd * ssd - sd * sd) / (nd * (nd - F.lit(1.0))))
    mean = sd / nd
    return m.select(
        F.col("n").cast("long").alias("n"),
        (
            F.floor(F.col("mx").cast("double") / 100.0 * 1.0e2 + 0.5) / 1.0e2
        ).alias("max_dollars"),
        (
            F.floor((F.col("mx").cast("double") - mean) / sdev * 1.0e6 + 0.5)
            / 1.0e6
        ).alias("g_max"),
        (
            F.floor((mean - F.col("mn").cast("double")) / sdev * 1.0e6 + 0.5)
            / 1.0e6
        ).alias("g_min"),
    )


@register(
    "events_allan_variance",
    oracle="""
    WITH scales AS (SELECT unnest([60, 300, 900]) AS tau_s),
    b AS (
      SELECT tau_s,
             CAST(floor(epoch(ts)) AS BIGINT) // tau_s AS bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM events, scales
      GROUP BY 1, 2
    ),
    d AS (
      SELECT tau_s, n,
             lead(n) OVER (PARTITION BY tau_s ORDER BY bucket) AS n_next,
             lead(bucket) OVER (PARTITION BY tau_s ORDER BY bucket)
               - bucket AS gap
      FROM b
    ),
    p AS (
      SELECT tau_s,
             CAST(CAST(n_next - n AS HUGEINT)
                  * CAST(n_next - n AS HUGEINT) AS HUGEINT) AS sq
      FROM d WHERE n_next IS NOT NULL AND gap = 1
    )
    SELECT CAST(tau_s AS BIGINT) AS tau_s,
           CAST(count(*) AS BIGINT) AS n_pairs,
           floor(0.5e0 * CAST(sum(sq) AS DOUBLE) / count(*) * 1.0e6 + 0.5)
             / 1.0e6 AS allan_variance
    FROM p GROUP BY tau_s ORDER BY tau_s
    """,
)
def events_allan_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allan variance of the event arrival rate at averaging scales
    60/300/900 s: sigma²(tau) = mean((n_{i+1} − n_i)²)/2 over ADJACENT
    count buckets (non-adjacent pairs are excluded, the standard
    contiguity rule) — the clock-stability statistic that separates
    white arrival noise (sigma² ∝ rate, flat per-bucket) from drift and
    flicker, which single-scale dispersion tests can't see. Bucket
    tables are bounded by the calendar over tau; the lead window is
    partitioned per scale over those bounded tables. Integer counts
    throughout."""
    ev = _t(spark, sf_dir, "events")
    scales = spark.range(0, 3).select(
        F.element_at(
            F.array(F.lit(60), F.lit(300), F.lit(900)), (F.col("id") + 1).cast("int")
        ).alias("tau_s")
    )
    b = (
        ev.crossJoin(F.broadcast(scales))
        .groupBy(
            "tau_s",
            F.floor(F.col("ts").cast("long") / F.col("tau_s"))
            .cast("long")
            .alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("tau_s").orderBy("bucket")
    d = b.select(
        "tau_s",
        "n",
        F.lead("n").over(w).alias("n_next"),
        (F.lead("bucket").over(w) - F.col("bucket")).alias("gap"),
    ).filter(F.col("n_next").isNotNull() & (F.col("gap") == 1))
    p = d.select(
        "tau_s",
        ((F.col("n_next") - F.col("n")) * (F.col("n_next") - F.col("n")))
        .cast("decimal(38,0)")
        .alias("sq"),
    )
    return (
        p.groupBy("tau_s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            (
                F.floor(
                    F.lit(0.5)
                    * F.sum("sq").cast("double")
                    / F.count(F.lit(1))
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("allan_variance"),
        )
        .select(
            F.col("tau_s").cast("long").alias("tau_s"),
            "n_pairs",
            "allan_variance",
        )
        .orderBy("tau_s")
    )


@register(
    "lineitem_breusch_pagan_test",
    oracle="""
    WITH v AS (
      SELECT CAST(CAST(floor(l_quantity + 0.5) AS BIGINT) AS HUGEINT) AS x,
             CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                  AS HUGEINT) AS y
      FROM lineitem
    ),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM v
    ),
    ols AS (
      SELECT CAST(n AS DOUBLE) AS n,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
             CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
               - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS a
      FROM m
    ),
    r AS (
      SELECT CAST(x AS DOUBLE) AS x,
             CAST(floor((CAST(y AS DOUBLE) - a - b * CAST(x AS DOUBLE))
                        * (CAST(y AS DOUBLE) - a - b * CAST(x AS DOUBLE))
                        * 1.0e-4 + 0.5) AS HUGEINT) AS e2u
      FROM v, ols
    ),
    aux AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(floor(x) AS HUGEINT)) AS DOUBLE) AS sx,
             CAST(sum(e2u) AS DOUBLE) AS se,
             CAST(sum(CAST(floor(x) AS HUGEINT) * e2u) AS DOUBLE) AS sxe,
             CAST(sum(CAST(floor(x) AS HUGEINT)
                      * CAST(floor(x) AS HUGEINT)) AS DOUBLE) AS sxx,
             CAST(sum(e2u * e2u) AS DOUBLE) AS see
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n,
           floor((n * sxe - sx * se) * (n * sxe - sx * se)
                 / ((n * sxx - sx * sx) * (n * see - se * se))
                 * n * 1.0e6 + 0.5) / 1.0e6 AS bp_lm_stat
    FROM aux
    """,
)
def lineitem_breusch_pagan_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch–Pagan (1979) heteroskedasticity test on the price ~
    quantity OLS: LM = n·R² of the auxiliary regression of squared
    residuals on x — the diagnostic that says whether the OLS standard
    errors other queries report can be trusted. Two aggregate passes:
    exact-integer OLS sums give (a, b) as one broadcast row; squared
    residuals are per-row doubles quantized to 1e-4 cent² units BEFORE
    the auxiliary sums, so the cross-row aggregation is an exact
    integer sum in any order ([[oracle-parity-gotchas]]). LM ~ chi²(1)
    under homoskedasticity."""
    li = _t(spark, sf_dir, "lineitem")
    v = li.select(
        F.floor(F.col("l_quantity") + 0.5).cast("decimal(38,0)").alias("x"),
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
        .cast("decimal(38,0)")
        .alias("y"),
    )
    m = v.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    b = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    a = syd / nd - b * sxd / nd
    ols = m.select(b.alias("b"), a.alias("a"))
    resid = (
        F.col("y").cast("double")
        - F.col("a")
        - F.col("b") * F.col("x").cast("double")
    )
    r = v.crossJoin(F.broadcast(ols)).select(
        F.col("x").cast("double").alias("x"),
        F.floor(resid * resid * 1.0e-4 + 0.5)
        .cast("decimal(38,0)")
        .alias("e2u"),
    )
    aux = r.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.floor(F.col("x")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sx"),
        F.sum("e2u").cast("double").alias("se"),
        F.sum(F.floor(F.col("x")).cast("decimal(38,0)") * F.col("e2u"))
        .cast("double")
        .alias("sxe"),
        F.sum(
            F.floor(F.col("x")).cast("decimal(38,0)")
            * F.floor(F.col("x")).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("e2u") * F.col("e2u")).cast("double").alias("see"),
    )
    nn = F.col("n")
    num = (nn * F.col("sxe") - F.col("sx") * F.col("se")) * (
        nn * F.col("sxe") - F.col("sx") * F.col("se")
    )
    den = (nn * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        nn * F.col("see") - F.col("se") * F.col("se")
    )
    return aux.select(
        nn.cast("long").alias("n"),
        (F.floor(num / den * nn * 1.0e6 + 0.5) / 1.0e6).alias("bp_lm_stat"),
    )


# ===========================================================================
# Wave H — structure-quality audits: SimHash per-bit balance (LSH
# banding assumes ~fair bits), attribute modularity of the
# co-purchase graph (brand homophily), and the partsupp multi-sourcing
# price-spread audit over the derived deterministic partsupp table.
# ===========================================================================
@register(
    "dedup_simhash_bit_balance",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    tok AS (SELECT DISTINCT doc_id, unnest(words) AS t FROM w),
    val AS (
      SELECT doc_id,
             ((instr('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 4096 +
              (instr('0123456789abcdef', substr(md5(t), 2, 1)) - 1) * 256 +
              (instr('0123456789abcdef', substr(md5(t), 3, 1)) - 1) * 16 +
              (instr('0123456789abcdef', substr(md5(t), 4, 1)) - 1)) AS v
      FROM tok
    ),
    bits AS (SELECT unnest(generate_series(0, 15)) AS bit),
    sums AS (
      SELECT bit, val.doc_id,
             CASE WHEN sum(CASE WHEN (v // (1 << bit)) % 2 = 1
                                THEN 1 ELSE -1 END) > 0
                  THEN 1 ELSE 0 END AS b
      FROM val, bits GROUP BY bit, val.doc_id
    ),
    per AS (
      SELECT bit, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(b) AS BIGINT) AS n_set
      FROM sums GROUP BY bit
    )
    SELECT CAST(bit AS BIGINT) AS bit, n_set,
           floor(CAST(n_set AS DOUBLE) / CAST(n_docs AS DOUBLE) * 1.0e6
                 + 0.5) / 1.0e6 AS set_rate,
           floor(abs(CAST(2 * n_set - n_docs AS DOUBLE))
                 / CAST(n_docs AS DOUBLE) * 1.0e6 + 0.5) / 1.0e6 AS bias
    FROM per ORDER BY bit
    """,
)
def dedup_simhash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bit balance audit of the 16-bit SimHash: the Hamming-
    distance calibration (and any banding built on it) assumes each bit
    is ~Bernoulli(1/2) across docs; a biased bit carries less than one
    bit of discrimination, silently inflating near-dup collision rates.
    Reuses the registered simhash operator verbatim, then unpivots its
    bits and reports set-rate and |2p−1| bias per position. Two bounded
    shuffles (per-doc vote, per-bit count); 16-row output."""
    from cioos_siooc_data_transform_spark.operators.dedup import simhash
    from cioos_siooc_data_transform_spark.operators.text import words_expr

    docs = _t(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id",
        F.explode(F.array_distinct(words_expr(F.col("text")))).alias("t"),
    )
    sh = simhash(tokens, "doc_id", "t", bits=16)
    stack = ", ".join(
        f"{i}L, CAST((simhash >> {i}) & 1 AS INT)" for i in range(16)
    )
    bits = sh.select(
        F.expr(f"stack(16, {stack}) AS (bit, b)")
    )
    per = bits.groupBy("bit").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("b").cast("long").alias("n_set"),
    )
    nd = F.col("n_docs").cast("double")
    return per.select(
        F.col("bit").cast("long").alias("bit"),
        "n_set",
        (
            F.floor(F.col("n_set").cast("double") / nd * 1.0e6 + 0.5) / 1.0e6
        ).alias("set_rate"),
        (
            F.floor(
                F.abs((2 * F.col("n_set") - F.col("n_docs")).cast("double"))
                / nd
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("bias"),
    ).orderBy("bit")


@register(
    "graph_brand_modularity",
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
    eb AS (
      SELECT pa.p_brand AS brand_a, pb.p_brand AS brand_b
      FROM e JOIN part pa ON pa.p_partkey = e.a
             JOIN part pb ON pb.p_partkey = e.b
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM eb),
    within AS (
      SELECT brand_a AS brand, CAST(count(*) AS BIGINT) AS e_bb
      FROM eb WHERE brand_a = brand_b GROUP BY 1
    ),
    degs AS (
      SELECT brand, CAST(sum(c) AS BIGINT) AS d_b FROM (
        SELECT brand_a AS brand, count(*) AS c FROM eb GROUP BY 1
        UNION ALL
        SELECT brand_b AS brand, count(*) AS c FROM eb GROUP BY 1
      ) GROUP BY brand
    ),
    terms AS (
      SELECT degs.brand,
             CAST(floor((CAST(coalesce(e_bb, 0) AS DOUBLE) / m
                         - (CAST(d_b AS DOUBLE) / (2.0e0 * m))
                           * (CAST(d_b AS DOUBLE) / (2.0e0 * m)))
                        * 1.0e12 + 0.5) AS BIGINT) AS q_u,
             coalesce(e_bb, 0) AS e_bb
      FROM degs LEFT JOIN within ON degs.brand = within.brand, m
    )
    SELECT CAST((SELECT m FROM m) AS BIGINT) AS n_edges,
           CAST(count(*) AS BIGINT) AS n_brands,
           CAST(sum(e_bb) AS BIGINT) AS n_within_edges,
           floor(CAST(sum(q_u) AS DOUBLE) / 1.0e6 + 0.5) / 1.0e6
             AS modularity
    FROM terms
    """,
)
def graph_brand_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the brand partition over the co-purchase
    graph: Q = Σ_b (e_bb/m − (d_b/2m)²) — do parts of the same brand
    co-sell more than degree chance predicts? Positive Q justifies
    brand-keyed bucketing for graph joins; ~0 says brand is not a
    community structure and such bucketing buys nothing. Edge-endpoint
    brands from two broadcast-sized dimension joins; per-brand terms
    quantized to 1e-12 before the exact cross-brand sum."""
    from cioos_siooc_data_transform_spark.plans.staged_r8 import (
        _copurchase_edges,
    )

    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    e = _copurchase_edges(spark, sf_dir)
    eb = (
        e.join(
            F.broadcast(part.select(F.col("p_partkey").alias("a"), F.col("p_brand").alias("brand_a"))),
            "a",
        )
        .join(
            F.broadcast(part.select(F.col("p_partkey").alias("b"), F.col("p_brand").alias("brand_b"))),
            "b",
        )
        .select("brand_a", "brand_b")
    )
    m = eb.agg(F.count(F.lit(1)).cast("long").alias("m"))
    within = (
        eb.filter(F.col("brand_a") == F.col("brand_b"))
        .groupBy(F.col("brand_a").alias("brand"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_bb"))
    )
    degs = (
        eb.select(F.col("brand_a").alias("brand"))
        .unionAll(eb.select(F.col("brand_b").alias("brand")))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).cast("long").alias("d_b"))
    )
    md = F.col("m").cast("double")
    terms = (
        degs.join(within, "brand", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.coalesce(F.col("e_bb"), F.lit(0)).cast("long").alias("e_bb"),
            F.floor(
                (
                    F.coalesce(F.col("e_bb"), F.lit(0)).cast("double") / md
                    - (F.col("d_b").cast("double") / (F.lit(2.0) * md))
                    * (F.col("d_b").cast("double") / (F.lit(2.0) * md))
                )
                * 1.0e12
                + 0.5
            )
            .cast("long")
            .alias("q_u"),
            "m",
        )
    )
    return terms.agg(
        F.max("m").cast("long").alias("n_edges"),
        F.count(F.lit(1)).cast("long").alias("n_brands"),
        F.sum("e_bb").cast("long").alias("n_within_edges"),
        (F.floor(F.sum("q_u").cast("double") / 1.0e6 + 0.5) / 1.0e6).alias(
            "modularity"
        ),
    )


def _partsupp_spread_oracle() -> str:
    from cioos_siooc_data_transform_spark.sources.partsupp import PARTSUPP_CTE

    return f"""
    WITH {PARTSUPP_CTE},
    per AS (
      SELECT ps_partkey, CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(min(ps_supplycost_cents) AS BIGINT) AS mn,
             CAST(max(ps_supplycost_cents) AS BIGINT) AS mx
      FROM partsupp GROUP BY 1
    ),
    b AS (
      SELECT least(n_suppliers, 5) AS supplier_bucket,
             CAST(floor(CAST(mx - mn AS DOUBLE) / CAST(mn AS DOUBLE)
                        * 1.0e6 + 0.5) AS BIGINT) AS spread_u
      FROM per
    )
    SELECT supplier_bucket, CAST(count(*) AS BIGINT) AS n_parts,
           floor(CAST(sum(spread_u) AS DOUBLE) / count(*) + 0.5) / 1.0e6
             AS mean_rel_spread,
           max(spread_u) / 1.0e6 AS max_rel_spread
    FROM b GROUP BY 1 ORDER BY 1
    """


@register("partsupp_price_spread_audit", oracle=_partsupp_spread_oracle())
def partsupp_price_spread_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-sourcing audit over the derived deterministic partsupp
    relation (sources/partsupp.py): per supplier-count bucket, how many
    parts, and among multi-sourced parts the mean relative supply-cost
    spread (max−min)/min — the procurement readout for dual-sourcing
    leverage (single-sourced parts are supply risks; wide spreads are
    renegotiation targets). Cents-integer min/max per part, per-part
    spread quantized to 1e-6 before the exact bucket mean; one groupBy
    per level."""
    from cioos_siooc_data_transform_spark.sources.partsupp import (
        ensure_partsupp,
    )

    ps = ensure_partsupp(spark, sf_dir)
    per = ps.groupBy("ps_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.min("ps_supplycost_cents").cast("long").alias("mn"),
        F.max("ps_supplycost_cents").cast("long").alias("mx"),
    )
    spread_u = F.floor(
        (F.col("mx") - F.col("mn")).cast("double")
        / F.col("mn").cast("double")
        * 1.0e6
        + 0.5
    ).cast("long")
    b = per.select(
        F.least(F.col("n_suppliers"), F.lit(5)).alias("supplier_bucket"),
        spread_u.alias("spread_u"),
    )
    return (
        b.groupBy("supplier_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            (
                F.floor(
                    F.sum("spread_u").cast("double") / F.count(F.lit(1)) + 0.5
                )
                / 1.0e6
            ).alias("mean_rel_spread"),
            (F.max("spread_u") / 1.0e6).alias("max_rel_spread"),
        )
        .orderBy("supplier_bucket")
    )


# ===========================================================================
# Wave I — inversions and distribution machinery: pt from entropy
# (Newton with the ANALYTIC symbolic eta_t — the payoff of
# functions/symdiff.py), two-sample Kolmogorov-Smirnov via the
# two-pass weighted cumsum (zero global windows), and the
# Davies-Bouldin cluster-separation index over the label partition.
# ===========================================================================
def _pt_from_entropy_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_pt_sql,
        entropy_from_t_sql,
        entropy_t_derivative_sql,
    )

    stages: list[tuple[str, str]] = [
        ("__pfe_target", entropy_from_t_sql("sa", "t", "p")),
        ("__pfe_pt0", "t"),
    ]
    for k in (1, 2):
        prev = f"__pfe_pt{k - 1}"
        stages += [
            (f"__pfe_eta{k}", entropy_from_t_sql("sa", prev, "0.0e0")),
            (f"__pfe_deta{k}", entropy_t_derivative_sql("sa", prev, "0.0e0")),
            (
                f"__pfe_pt{k}",
                f"({prev} - (__pfe_eta{k} - __pfe_target) / __pfe_deta{k})",
            ),
        ]
    stages += [
        ("pt_from_entropy", "__pfe_pt2"),
        ("ct_from_entropy", ct_from_pt_sql("sa", "__pfe_pt2")),
    ]
    return stages


def _pt_from_entropy_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _IN_SQL,
        _SA_SQL,
    )

    inner = f"""
      SELECT l_orderkey, l_linenumber, t, p, {_SA_SQL} AS sa
      FROM ({_IN_SQL})
    """
    staged = _stage_sql_cte(inner, _pt_from_entropy_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(pt_from_entropy * 1.0e9 + 0.5) / 1.0e9 AS pt_from_entropy,
           floor(ct_from_entropy * 1.0e9 + 0.5) / 1.0e9 AS ct_from_entropy
    FROM ({staged})
    """


@register("gsw_pt_from_entropy", oracle=_pt_from_entropy_oracle())
def gsw_pt_from_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential temperature from entropy (GSW twins:
    gsw_pt_from_entropy, gsw_CT_from_entropy): the target eta comes
    from the forward polynomial at (SA, t, p) — the roundtrip contract
    of the other inversions — then two Newton steps at p=0 using the
    ANALYTIC symbolic derivative eta_t (functions/symdiff.py), the same
    derivative that powers cp_t_exact; CT follows by the exact
    ct_from_pt polynomial. Entropy is nearly linear in T, so two steps
    from pt=t land at ~1e-9 K (the quantization grid). Staged columns
    keep the five ~6 KB polynomial evaluations under the janino method
    limit; flat-CTE oracle; zero shuffle."""
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _inputs,
    )

    df = _inputs(spark, sf_dir).withColumn("sa", F.expr(_SA_SQL))
    for name, expr in _pt_from_entropy_stages():
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("pt_from_entropy") * 1.0e9 + 0.5) / 1.0e9).alias(
            "pt_from_entropy"
        ),
        (F.floor(F.col("ct_from_entropy") * 1.0e9 + 0.5) / 1.0e9).alias(
            "ct_from_entropy"
        ),
    )


@register(
    "events_ks_two_sample",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) AS vq
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
    ),
    c AS (
      SELECT vq,
             CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS c1,
             CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS c2
      FROM v GROUP BY vq
    ),
    r AS (
      SELECT vq,
             sum(c1) OVER (ORDER BY vq ROWS UNBOUNDED PRECEDING) AS f1,
             sum(c2) OVER (ORDER BY vq ROWS UNBOUNDED PRECEDING) AS f2
      FROM c
    ),
    t AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
      FROM c
    ),
    d AS (
      SELECT CAST(abs(f1 * n2 - f2 * n1) AS HUGEINT) AS du FROM r, t
    )
    SELECT n1, n2,
           floor(CAST(max(du) AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) * 1.0e6 + 0.5)
             / 1.0e6 AS ks_d,
           floor(CAST(max(du) AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
                 * 1.0e6 + 0.5) / 1.0e6 AS ks_scaled
    FROM d, t GROUP BY n1, n2
    """,
)
def events_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between click and
    purchase value distributions: D = max |F1 − F2| over the merged
    support, with the scaled statistic sqrt(n1·n2/(n1+n2))·D for the
    asymptotic threshold. Cumulative counts come from the two-pass
    weighted cumsum operator over the DISTINCT quantized-value table
    (ascending via negated units; both group weights ride the same
    bucketing, so there is NO global window anywhere); the max runs on
    exact integers |F1·n2 − F2·n1|, so the argmax is engine-identical.
    Completes the rank-test battery next to Mann–Whitney (location) and
    Kruskal–Wallis (k-sample) with the shape-difference test."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("click", "purchase")
    )
    v = ev.select(
        "event_type",
        F.floor(F.col("value") * 1.0e6 + 0.5).cast("long").alias("vq"),
    )
    c = v.groupBy("vq").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    ).withColumn("neg", -F.col("vq"))
    r1 = ranked_cumsum_two_pass(c, "neg", "neg", weight_col="c1", out_cum="f1")
    r = ranked_cumsum_two_pass(
        r1.drop("rnk"), "neg", "neg", weight_col="c2", out_cum="f2"
    )
    t = c.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    d = r.crossJoin(F.broadcast(t)).select(
        F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
        .cast("decimal(38,0)")
        .alias("du"),
        "n1",
        "n2",
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    dmax = F.max("du").cast("double")
    return d.groupBy("n1", "n2").agg(
        (F.floor(dmax / (n1d * n2d) * 1.0e6 + 0.5) / 1.0e6).alias("ks_d"),
        (
            F.floor(
                dmax / (n1d * n2d) * F.sqrt(n1d * n2d / (n1d + n2d)) * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("ks_scaled"),
    ).select("n1", "n2", "ks_d", "ks_scaled")


@register(
    "embedding_davies_bouldin",
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
      SELECT label, dim,
             CAST(sum(q) AS DOUBLE) / count(*) AS c
      FROM x GROUP BY 1, 2
    ),
    pd AS (
      SELECT x.vec_id, x.label,
             CAST(floor(sqrt(sum((CAST(q AS DOUBLE) - c)
                                 * (CAST(q AS DOUBLE) - c))) / 1.0e6 * 1.0e9
                        + 0.5) AS HUGEINT) AS dist_u
      FROM x JOIN cent ON x.label = cent.label AND x.dim = cent.dim
      GROUP BY 1, 2
    ),
    s AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dist_u) AS DOUBLE) / count(*) AS s_i
      FROM pd GROUP BY 1
    ),
    m AS (
      SELECT a.label AS la, b.label AS lb,
             sqrt(sum((a.c - b.c) * (a.c - b.c))) / 1.0e6 * 1.0e9 AS m_ij
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label != b.label
      GROUP BY 1, 2
    ),
    terms AS (
      SELECT sa.label, sa.n,
             sa.s_i,
             max((sa.s_i + sb.s_i) / m.m_ij) AS db_term
      FROM s sa JOIN m ON m.la = sa.label JOIN s sb ON sb.label = m.lb
      GROUP BY 1, 2, 3
    )
    SELECT CAST(label AS BIGINT) AS label, n,
           floor(s_i / 1.0e9 * 1.0e6 + 0.5) / 1.0e6 AS s_intra,
           floor(db_term * 1.0e6 + 0.5) / 1.0e6 AS db_term
    FROM terms ORDER BY label
    """,
)
def embedding_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies–Bouldin separation terms per label cluster: S_i = mean
    Euclidean distance to the label centroid, M_ij = centroid-centroid
    distance, and the per-label worst-case ratio max_j (S_i + S_j)/M_ij
    whose mean is the DB index — low terms mean the labels are real
    clusters in embedding space, the go/no-go for label-conditioned
    dedup and retrieval eval. Elements quantize to 1e-6 units, per-dim
    centroid sums are exact, per-point distances quantize to 1e-9
    before the per-label mean; the only shuffles are |labels|x|dims|
    aggs and the bounded label-pair join."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim0", "v"
        ),
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("v") * 1.0e6 + 0.5).cast("decimal(38,0)").alias("q"),
    )
    cent = x.groupBy("label", "dim").agg(
        (F.sum("q").cast("double") / F.count(F.lit(1))).alias("c")
    )
    pd = (
        x.join(cent, ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.floor(
                F.sqrt(
                    F.sum(
                        (F.col("q").cast("double") - F.col("c"))
                        * (F.col("q").cast("double") - F.col("c"))
                    )
                )
                / 1.0e6
                * 1.0e9
                + 0.5
            )
            .cast("decimal(38,0)")
            .alias("dist_u")
        )
    )
    s = pd.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("dist_u").cast("double") / F.count(F.lit(1))).alias("s_i"),
    )
    ca = cent.select(F.col("label").alias("la"), "dim", F.col("c").alias("c1"))
    cb = cent.select(F.col("label").alias("lb"), F.col("dim").alias("dim2"), F.col("c").alias("c2"))
    m = (
        ca.join(cb, (F.col("dim") == F.col("dim2")) & (F.col("la") != F.col("lb")))
        .groupBy("la", "lb")
        .agg(
            (
                F.sqrt(F.sum((F.col("c1") - F.col("c2")) * (F.col("c1") - F.col("c2"))))
                / 1.0e6
                * 1.0e9
            ).alias("m_ij")
        )
    )
    sa = s.select(F.col("label"), "n", "s_i")
    sb = s.select(F.col("label").alias("lb"), F.col("s_i").alias("s_j"))
    terms = (
        sa.join(m, sa["label"] == m["la"])
        .join(sb, "lb")
        .groupBy("label", "n", "s_i")
        .agg(F.max((F.col("s_i") + F.col("s_j")) / F.col("m_ij")).alias("db_term"))
    )
    return terms.select(
        F.col("label").cast("long").alias("label"),
        "n",
        (F.floor(F.col("s_i") / 1.0e9 * 1.0e6 + 0.5) / 1.0e6).alias("s_intra"),
        (F.floor(F.col("db_term") * 1.0e6 + 0.5) / 1.0e6).alias("db_term"),
    ).orderBy("label")


# ===========================================================================
# Wave J — temporal join/window growth: forward as-of (time-to-next-
# event) and a rolling 12-month revenue/volume correlation.
# ===========================================================================
@register(
    "events_time_to_conversion",
    oracle="""
    WITH clicks AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT c.ts AS cts, p.ts AS pts
      FROM clicks c ASOF LEFT JOIN purch p
        ON c.user_id = p.user_id AND p.ts >= c.ts
    ),
    lag_s AS (
      SELECT CASE WHEN pts IS NULL THEN NULL
                  ELSE CAST(floor(epoch(pts)) AS BIGINT)
                       - CAST(floor(epoch(cts)) AS BIGINT) END AS s
      FROM j
    ),
    b AS (
      SELECT CASE
               WHEN s IS NULL THEN 'z_never_converted'
               WHEN s < 60 THEN 'a_under_1m'
               WHEN s < 300 THEN 'b_1m_5m'
               WHEN s < 1800 THEN 'c_5m_30m'
               WHEN s < 3600 THEN 'd_30m_1h'
               WHEN s < 21600 THEN 'e_1h_6h'
               ELSE 'f_over_6h'
             END AS bucket
      FROM lag_s
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_clicks
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def events_time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exposure-to-conversion latency: for each CLICK, the time to the
    user's NEXT purchase via the as-of operator's new forward direction
    (operators/asof.py — same one-shuffle union+window plan scanned in
    descending time; DuckDB's native forward ASOF is the oracle).
    Complements the backward events_conversion_lag (which attributes
    each purchase to its last click): forward answers 'does a click
    convert, and how fast', including the never-converted tail as its
    own bucket. Whole-second lags, fixed funnel bands."""
    from cioos_siooc_data_transform_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    j = asof_join(
        clicks, purch, key="user_id", right_cols=["ts"], direction="forward"
    )
    s = j.select(
        (F.col("right_ts").cast("long") - F.col("ts").cast("long")).alias("s")
    )
    bucket = (
        F.when(F.col("s").isNull(), "z_never_converted")
        .when(F.col("s") < 60, "a_under_1m")
        .when(F.col("s") < 300, "b_1m_5m")
        .when(F.col("s") < 1800, "c_5m_30m")
        .when(F.col("s") < 3600, "d_30m_1h")
        .when(F.col("s") < 21600, "e_1h_6h")
        .otherwise("f_over_6h")
    )
    return (
        s.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clicks"))
        .orderBy("bucket")
    )


@register(
    "orders_rolling_corr_12m",
    oracle="""
    WITH m AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS ym,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS HUGEINT) AS rev,
             CAST(count(*) AS HUGEINT) AS n_ord
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT ym, rev, n_ord,
             row_number() OVER (ORDER BY ym) AS rn,
             CAST(sum(rev) OVER w AS DOUBLE) AS sx,
             CAST(sum(n_ord) OVER w AS DOUBLE) AS sy,
             CAST(sum(rev * n_ord) OVER w AS DOUBLE) AS sxy,
             CAST(sum(rev * rev) OVER w AS DOUBLE) AS sxx,
             CAST(sum(n_ord * n_ord) OVER w AS DOUBLE) AS syy
      FROM m
      WINDOW w AS (ORDER BY ym ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(ym AS BIGINT) AS ym,
           floor((12.0e0 * sxy - sx * sy)
                 / sqrt((12.0e0 * sxx - sx * sx) * (12.0e0 * syy - sy * sy))
                 * 1.0e6 + 0.5) / 1.0e6 AS corr_12m
    FROM r WHERE rn >= 12 ORDER BY ym
    """,
)
def orders_rolling_corr_12m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 12-month Pearson correlation between monthly revenue and
    order volume: near +1 means revenue moves with volume (growth is
    more orders), a dip flags mix/price-driven months — the rolling
    diagnostic next to the registered rolling 12-month revenue sum.
    Windows run over the MONTH table (calendar-bounded, the documented
    concentration-family idiom); all rolling sums are exact
    HUGEINT/decimal of integer cents/counts, correlation assembled in
    double per row. Only full 12-month windows emit."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("ym")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("decimal(38,0)")
        .alias("rev"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_ord"),
    )
    w = Window.orderBy("ym").rowsBetween(-11, 0)
    wr = Window.orderBy("ym")
    r = m.select(
        "ym",
        F.row_number().over(wr).alias("rn"),
        F.sum("rev").over(w).cast("double").alias("sx"),
        F.sum("n_ord").over(w).cast("double").alias("sy"),
        F.sum(F.col("rev") * F.col("n_ord")).over(w).cast("double").alias("sxy"),
        F.sum(F.col("rev") * F.col("rev")).over(w).cast("double").alias("sxx"),
        F.sum(F.col("n_ord") * F.col("n_ord")).over(w).cast("double").alias("syy"),
    ).filter(F.col("rn") >= 12)
    corr = (F.lit(12.0) * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.lit(12.0) * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.lit(12.0) * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return r.select(
        F.col("ym").cast("long").alias("ym"),
        (F.floor(corr * 1.0e6 + 0.5) / 1.0e6).alias("corr_12m"),
    ).orderBy("ym")


# ===========================================================================
# Wave K — distribution-shape battery: Jarque-Bera normality, the
# Damgaard-Weiner Lorenz asymmetry coefficient (pure aggregates — no
# rank pass needed: S = F(mu) + L(mu)), GPD return levels composed on
# the events POT fit, and lang x source mutual information.
# ===========================================================================
@register(
    "lineitem_jarque_bera",
    oracle="""
    WITH v AS (
      SELECT CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                  AS HUGEINT) AS c
      FROM lineitem
    ),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, sum(c) AS s1,
             sum(c * c) AS s2, sum(c * c * c) AS s3,
             sum(c * c * c * c) AS s4
      FROM v
    ),
    f AS (
      SELECT CAST(n AS DOUBLE) AS n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
             CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
             CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
             CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
      FROM m
    ),
    c AS (
      SELECT n,
             r2 - m1 * m1 AS mu2,
             r3 - 3.0e0 * m1 * r2 + 2.0e0 * m1 * m1 * m1 AS mu3,
             r4 - 4.0e0 * m1 * r3 + 6.0e0 * m1 * m1 * r2
               - 3.0e0 * m1 * m1 * m1 * m1 AS mu4
      FROM f
    )
    SELECT CAST(n AS BIGINT) AS n,
           floor(mu3 / pow(mu2, 1.5e0) * 1.0e6 + 0.5) / 1.0e6 AS skewness,
           floor((mu4 / (mu2 * mu2) - 3.0e0) * 1.0e6 + 0.5) / 1.0e6
             AS excess_kurtosis,
           floor(n / 6.0e0 * (mu3 / pow(mu2, 1.5e0) * mu3 / pow(mu2, 1.5e0)
                 + (mu4 / (mu2 * mu2) - 3.0e0) * (mu4 / (mu2 * mu2) - 3.0e0)
                   / 4.0e0) * 1.0e3 + 0.5) / 1.0e3 AS jarque_bera
    FROM c
    """,
)
def lineitem_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality test JB = n/6·(g1² + g2²/4) from the first
    four raw moments — one map-side-combinable aggregate of exact
    HUGEINT power sums of integer cents (the fourth power of ~1e6-cent
    values needs ~1e28, far inside decimal(38)/HUGEINT), central
    moments and the statistic assembled in double once. The standard
    pre-flight before any Gaussian assumption other queries make
    (z-scores, Bollinger bands, control charts)."""
    li = _t(spark, sf_dir, "lineitem")
    v = li.select(
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
        .cast("decimal(38,0)")
        .alias("c")
    )
    m = v.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
        F.sum(F.col("c") * F.col("c") * F.col("c")).alias("s3"),
        F.sum(F.col("c") * F.col("c") * F.col("c") * F.col("c")).alias("s4"),
    )
    nd = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / nd
    r2 = F.col("s2").cast("double") / nd
    r3 = F.col("s3").cast("double") / nd
    r4 = F.col("s4").cast("double") / nd
    mu2 = r2 - m1 * m1
    mu3 = r3 - F.lit(3.0) * m1 * r2 + F.lit(2.0) * m1 * m1 * m1
    mu4 = (
        r4
        - F.lit(4.0) * m1 * r3
        + F.lit(6.0) * m1 * m1 * r2
        - F.lit(3.0) * m1 * m1 * m1 * m1
    )
    g1 = mu3 / F.pow(mu2, F.lit(1.5))
    g2 = mu4 / (mu2 * mu2) - F.lit(3.0)
    return m.select(
        F.col("n").cast("long").alias("n"),
        (F.floor(g1 * 1.0e6 + 0.5) / 1.0e6).alias("skewness"),
        (F.floor(g2 * 1.0e6 + 0.5) / 1.0e6).alias("excess_kurtosis"),
        (
            F.floor(nd / F.lit(6.0) * (g1 * g1 + g2 * g2 / F.lit(4.0)) * 1.0e3 + 0.5)
            / 1.0e3
        ).alias("jarque_bera"),
    )


@register(
    "lineitem_lorenz_asymmetry",
    oracle="""
    WITH v AS (
      SELECT CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                  AS HUGEINT) AS c
      FROM lineitem
    ),
    m AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(c) AS s FROM v),
    below AS (
      SELECT CAST(count(*) AS HUGEINT) AS n_b, sum(c) AS s_b
      FROM v, m WHERE c * CAST(n AS HUGEINT) < s
    )
    SELECT CAST(n AS BIGINT) AS n,
           floor(CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE) * 1.0e6 + 0.5)
             / 1.0e6 AS f_mu,
           floor(CAST(s_b AS DOUBLE) / CAST(s AS DOUBLE) * 1.0e6 + 0.5)
             / 1.0e6 AS l_mu,
           floor((CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE)
                  + CAST(s_b AS DOUBLE) / CAST(s AS DOUBLE)) * 1.0e6 + 0.5)
             / 1.0e6 AS lorenz_asymmetry
    FROM below, m
    """,
)
def lineitem_lorenz_asymmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damgaard & Weiner (2000) Lorenz asymmetry coefficient
    S = F(mu) + L(mu): the population share below the mean plus the
    value share they hold — S < 1 means inequality is driven by a few
    very large line items, S > 1 by many very small ones; the Gini
    alone cannot distinguish the two. The mean-crossing point makes
    this PURE AGGREGATES (no sort, no rank): the below-mean test is the
    exact integer comparison c·n < Σc, so both engines cut identically.
    Two aggregate passes with a 1-row broadcast between them."""
    li = _t(spark, sf_dir, "lineitem")
    v = li.select(
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
        .cast("decimal(38,0)")
        .alias("c")
    )
    m = v.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("c").alias("s"),
    )
    below = v.crossJoin(F.broadcast(m)).filter(
        F.col("c") * F.col("n") < F.col("s")
    ).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_b"),
        F.sum("c").alias("s_b"),
        F.max("n").alias("n"),
        F.max("s").alias("s"),
    )
    f_mu = F.col("n_b").cast("double") / F.col("n").cast("double")
    l_mu = F.col("s_b").cast("double") / F.col("s").cast("double")
    return below.select(
        F.col("n").cast("long").alias("n"),
        (F.floor(f_mu * 1.0e6 + 0.5) / 1.0e6).alias("f_mu"),
        (F.floor(l_mu * 1.0e6 + 0.5) / 1.0e6).alias("l_mu"),
        (F.floor((f_mu + l_mu) * 1.0e6 + 0.5) / 1.0e6).alias(
            "lorenz_asymmetry"
        ),
    )


@register(
    "events_gpd_return_levels",
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
    e AS (
      SELECT CAST(count(*) AS HUGEINT) AS k, sum(vu - uu) AS sy,
             sum((vu - uu) * (vu - uu)) AS syy,
             max(uu) AS uu, max(n_total) AS n_total
      FROM v, u WHERE vu > uu
    ),
    fit AS (
      SELECT CAST(k AS DOUBLE) AS k, CAST(n_total AS DOUBLE) AS n_total,
             CAST(uu AS DOUBLE) / 1.0e6 AS u,
             0.5e0 * (1.0e0
               - (CAST(sy AS DOUBLE) / CAST(k AS DOUBLE))
                 * (CAST(sy AS DOUBLE) / CAST(k AS DOUBLE))
                 / ((CAST(k AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) - 1.0e0))))
               AS xi,
             0.5e0 * (CAST(sy AS DOUBLE) / CAST(k AS DOUBLE)) / 1.0e6
               * (1.0e0
                  + (CAST(sy AS DOUBLE) / CAST(k AS DOUBLE))
                    * (CAST(sy AS DOUBLE) / CAST(k AS DOUBLE))
                    / ((CAST(k AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) - 1.0e0))))
               AS beta
      FROM e
    ),
    levels AS (SELECT unnest([10, 100]) AS mult)
    SELECT CAST(mult AS BIGINT) AS return_multiple,
           floor((u + beta / xi * (pow(CAST(mult AS DOUBLE), xi) - 1.0e0))
                 * 1.0e6 + 0.5) / 1.0e6 AS return_level
    FROM fit, levels ORDER BY mult
    """,
)
def events_gpd_return_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPD return levels on the peaks-over-threshold fit: with excesses
    above u ~ GPD(xi, beta), the level exceeded once per m·(1/rate)
    exceedances is x_m = u + (beta/xi)·(m^xi − 1) — the '10x / 100x
    rarer than anything in-window' capacity planning number, composed
    on the SAME mean+2sigma threshold and moment fit as
    events_pot_gpd_fit. pow with the data-dependent exponent xi is the
    only transcendental, evaluated identically from exact integer
    sums."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        F.floor(F.col("value") * 1.0e6 + 0.5)
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
            + 0.5
        )
        .cast("decimal(38,0)")
        .alias("uu"),
        F.col("n").alias("n_total"),
    )
    e = (
        v.crossJoin(F.broadcast(u))
        .filter(F.col("vu") > F.col("uu"))
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
            F.sum(F.col("vu") - F.col("uu")).alias("sy"),
            F.sum((F.col("vu") - F.col("uu")) * (F.col("vu") - F.col("uu"))).alias(
                "syy"
            ),
            F.max("uu").alias("uu"),
            F.max("n_total").alias("n_total"),
        )
    )
    kd = F.col("k").cast("double")
    syd = F.col("sy").cast("double")
    syyd = F.col("syy").cast("double")
    ybar = syd / kd
    s2 = (kd * syyd - syd * syd) / (kd * (kd - F.lit(1.0)))
    ratio = ybar * ybar / s2
    xi = F.lit(0.5) * (F.lit(1.0) - ratio)
    beta = F.lit(0.5) * ybar / 1.0e6 * (F.lit(1.0) + ratio)
    fit = e.select(
        (F.col("uu").cast("double") / 1.0e6).alias("u"),
        xi.alias("xi"),
        beta.alias("beta"),
    )
    levels = spark.range(0, 2).select(
        F.when(F.col("id") == 0, 10).otherwise(100).cast("long").alias("mult")
    )
    rl = F.col("u") + F.col("beta") / F.col("xi") * (
        F.pow(F.col("mult").cast("double"), F.col("xi")) - F.lit(1.0)
    )
    return (
        fit.crossJoin(F.broadcast(levels))
        .select(
            F.col("mult").alias("return_multiple"),
            (F.floor(rl * 1.0e6 + 0.5) / 1.0e6).alias("return_level"),
        )
        .orderBy("return_multiple")
    )


@register(
    "docs_lang_source_mutual_info",
    oracle="""
    WITH c AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2
    ),
    t AS (SELECT CAST(sum(n) AS DOUBLE) AS nn FROM c),
    rl AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM c GROUP BY 1),
    rs AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns FROM c GROUP BY 1),
    terms AS (
      SELECT CAST(floor(CAST(n AS DOUBLE) / nn
                        * ln(CAST(n AS DOUBLE) * nn
                             / (CAST(nl AS DOUBLE) * CAST(ns AS DOUBLE)))
                        * 1.0e12 + 0.5) AS BIGINT) AS mi_u,
             CAST(floor(-CAST(n AS DOUBLE) / nn
                        * ln(CAST(n AS DOUBLE) / nn) * 1.0e12 + 0.5)
                  AS BIGINT) AS hj_u
      FROM c JOIN rl USING (lang) JOIN rs USING (source), t
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           floor(CAST(sum(mi_u) AS DOUBLE) / 1.0e6 + 0.5) / 1.0e6
             AS mutual_info_nats,
           floor(CAST(sum(hj_u) AS DOUBLE) / 1.0e6 + 0.5) / 1.0e6
             AS joint_entropy_nats,
           floor(CAST(sum(mi_u) AS DOUBLE) / CAST(sum(hj_u) AS DOUBLE)
                 * 1.0e6 + 0.5) / 1.0e6 AS normalized_mi
    FROM terms
    """,
)
def docs_lang_source_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source) with joint entropy and the
    IQR-normalized variant I/H — the information-theoretic answer to
    'are sources language-specialized?' that the chi-square/Cramér's V
    battery approximates linearly. One bounded contingency aggregate;
    every p·ln term quantizes to 1e-12 integer units before the exact
    cross-cell sum ([[oracle-parity-gotchas]]). NMI near 1 means source
    determines language (dedup and sampling should stratify jointly);
    near 0 they are independent knobs."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    t = c.agg(F.sum("n").cast("double").alias("nn"))
    rl = c.groupBy("lang").agg(F.sum("n").cast("long").alias("nl"))
    rs = c.groupBy("source").agg(F.sum("n").cast("long").alias("ns"))
    nd = F.col("n").cast("double")
    mi = (
        nd
        / F.col("nn")
        * F.log(
            nd * F.col("nn") / (F.col("nl").cast("double") * F.col("ns").cast("double"))
        )
    )
    hj = -nd / F.col("nn") * F.log(nd / F.col("nn"))
    terms = (
        c.join(F.broadcast(rl), "lang")
        .join(F.broadcast(rs), "source")
        .crossJoin(F.broadcast(t))
        .select(
            F.floor(mi * 1.0e12 + 0.5).cast("long").alias("mi_u"),
            F.floor(hj * 1.0e12 + 0.5).cast("long").alias("hj_u"),
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        (F.floor(F.sum("mi_u").cast("double") / 1.0e6 + 0.5) / 1.0e6).alias(
            "mutual_info_nats"
        ),
        (F.floor(F.sum("hj_u").cast("double") / 1.0e6 + 0.5) / 1.0e6).alias(
            "joint_entropy_nats"
        ),
        (
            F.floor(
                F.sum("mi_u").cast("double") / F.sum("hj_u").cast("double") * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("normalized_mi"),
    )


# ===========================================================================
# Wave L — composition tail: entropy from (SA, CT) via the pt_from_ct
# Newton chain, the Duncan dissimilarity index between customer
# geographies, a negative-binomial fit of per-user event counts, and a
# lognormal-vs-Pareto tail model comparison.
# ===========================================================================
def _entropy_ct_stages() -> list[tuple[str, str]]:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        entropy_from_pt_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r6 import (
        pt_from_ct_stages,
    )

    stages = list(pt_from_ct_stages("sa", "ct"))
    stages.append(("entropy_from_ct", entropy_from_pt_sql("sa", "pt_from_ct")))
    return stages


def _entropy_ct_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
    )
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _IN_SQL,
        _SA_SQL,
    )

    inner = f"""
      SELECT l_orderkey, l_linenumber, {_SA_SQL} AS sa,
             {ct_from_t_sql("s", "t", "p")} AS ct
      FROM ({_IN_SQL})
    """
    staged = _stage_sql_cte(inner, _entropy_ct_stages())
    return f"""
    SELECT l_orderkey, l_linenumber,
           floor(entropy_from_ct * 1.0e6 + 0.5) / 1.0e6 AS entropy_from_ct
    FROM ({staged})
    """


@register("gsw_entropy_from_ct", oracle=_entropy_ct_oracle())
def gsw_entropy_from_ct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Specific entropy from (SA, CT) (GSW twin: gsw_entropy_from_CT):
    invert CT -> pt with the registered two-step Newton chain
    (pt_from_ct_stages, roundtrip-pinned), then evaluate the entropy
    polynomial at (SA, pt, 0) — entropy is invariant along the adiabat,
    so the p=0 form IS eta(SA, CT). The conservative-temperature
    counterpart of the registered gsw_entropy_from_t; staged columns,
    flat-CTE oracle, zero shuffle."""
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
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    for name, expr in _entropy_ct_stages():
        df = df.withColumn(name, F.expr(expr))
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(F.col("entropy_from_ct") * 1.0e6 + 0.5) / 1.0e6).alias(
            "entropy_from_ct"
        ),
    )


@register(
    "customer_segment_dissimilarity_index",
    oracle="""
    WITH c AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(count(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2
    ),
    tot AS (
      SELECT c_mktsegment, CAST(sum(n) AS BIGINT) AS n_seg FROM c GROUP BY 1
    ),
    pairs AS (
      SELECT a.c_mktsegment AS seg_a, b.c_mktsegment AS seg_b,
             a.c_nationkey,
             CAST(a.n AS DOUBLE) / ta.n_seg AS pa,
             CAST(b.n AS DOUBLE) / tb.n_seg AS pb
      FROM c a
      JOIN c b ON a.c_nationkey = b.c_nationkey
              AND a.c_mktsegment < b.c_mktsegment
      JOIN tot ta ON ta.c_mktsegment = a.c_mktsegment
      JOIN tot tb ON tb.c_mktsegment = b.c_mktsegment
    ),
    terms AS (
      SELECT seg_a, seg_b,
             CAST(floor(abs(pa - pb) * 1.0e12 + 0.5) AS HUGEINT) AS d_u
      FROM pairs
    )
    SELECT seg_a, seg_b,
           floor(0.5e0 * CAST(sum(d_u) AS DOUBLE) / 1.0e6 + 0.5) / 1.0e6
             AS dissimilarity
    FROM terms GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def customer_segment_dissimilarity_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duncan & Duncan (1955) dissimilarity index D = ½·Σ_k |p_ak −
    p_bk| between every market-segment pair over the nation
    distribution — D is the fraction of one segment's customers that
    would have to relocate for the two geographies to match, the
    canonical segregation/mix-shift measure next to the chi-square
    family. Bounded contingency (25 nations x 5 segments); per-nation
    terms quantize to 1e-12 before the exact pair sum. NOTE: nations
    where one segment has zero customers contribute that segment's full
    share — the self-join on nation only sees co-present cells, so
    totals are taken per segment, making absent cells implicit zeros
    only when BOTH sides are present; the synthetic data populates all
    125 cells at every scale factor, which tests/test_staged_r11 pins
    via the oracle equality."""
    c = _t(spark, sf_dir, "customer").groupBy(
        "c_nationkey", "c_mktsegment"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = c.groupBy("c_mktsegment").agg(
        F.sum("n").cast("long").alias("n_seg")
    )
    a = (
        c.join(tot, "c_mktsegment")
        .select(
            F.col("c_nationkey").alias("nk"),
            F.col("c_mktsegment").alias("seg_a"),
            (F.col("n").cast("double") / F.col("n_seg")).alias("pa"),
        )
    )
    b = (
        c.join(tot, "c_mktsegment")
        .select(
            F.col("c_nationkey").alias("nk2"),
            F.col("c_mktsegment").alias("seg_b"),
            (F.col("n").cast("double") / F.col("n_seg")).alias("pb"),
        )
    )
    pairs = a.join(
        b,
        (F.col("nk") == F.col("nk2")) & (F.col("seg_a") < F.col("seg_b")),
    )
    terms = pairs.select(
        "seg_a",
        "seg_b",
        F.floor(F.abs(F.col("pa") - F.col("pb")) * 1.0e12 + 0.5)
        .cast("decimal(38,0)")
        .alias("d_u"),
    )
    return (
        terms.groupBy("seg_a", "seg_b")
        .agg(
            (
                F.floor(F.lit(0.5) * F.sum("d_u").cast("double") / 1.0e6 + 0.5)
                / 1.0e6
            ).alias("dissimilarity")
        )
        .orderBy("seg_a", "seg_b")
    )


@register(
    "events_user_count_nbd_fit",
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(count(*) AS HUGEINT) AS n
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS u, sum(n) AS s, sum(n * n) AS ss
      FROM c
    ),
    f AS (
      SELECT CAST(u AS DOUBLE) AS u,
             CAST(s AS DOUBLE) / CAST(u AS DOUBLE) AS mean,
             (CAST(u AS DOUBLE) * CAST(ss AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
               / (CAST(u AS DOUBLE) * (CAST(u AS DOUBLE) - 1.0e0)) AS var
      FROM m
    )
    SELECT CAST(u AS BIGINT) AS n_users,
           floor(mean * 1.0e6 + 0.5) / 1.0e6 AS mean_events,
           floor(var / mean * 1.0e6 + 0.5) / 1.0e6 AS vmr,
           floor(mean * mean / nullif(var - mean, 0.0e0) * 1.0e6 + 0.5)
             / 1.0e6 AS nbd_r,
           floor(mean / var * 1.0e6 + 0.5) / 1.0e6 AS nbd_p
    FROM f
    """,
)
def events_user_count_nbd_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial (Gamma-Poisson) moment fit of per-user event
    counts: r = m²/(v−m), p = m/v — the Ehrenberg NBD model behind
    repeat-engagement forecasting ('how many users will fire k events
    next window'). VMR >> 1 (overdispersion) is what licenses NB over
    Poisson; r and p feed the closed-form NB pmf offline. One per-user
    count, one moment aggregate, exact HUGEINT sums; the v = m
    degenerate case NULLIFs instead of exploding."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n")
    )
    m = c.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("u"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )
    ud = F.col("u").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    mean = sd / ud
    var = (ud * ssd - sd * sd) / (ud * (ud - F.lit(1.0)))
    return m.select(
        F.col("u").cast("long").alias("n_users"),
        (F.floor(mean * 1.0e6 + 0.5) / 1.0e6).alias("mean_events"),
        (F.floor(var / mean * 1.0e6 + 0.5) / 1.0e6).alias("vmr"),
        (
            F.floor(
                mean * mean / F.nullif(var - mean, F.lit(0.0)) * 1.0e6 + 0.5
            )
            / 1.0e6
        ).alias("nbd_r"),
        (F.floor(mean / var * 1.0e6 + 0.5) / 1.0e6).alias("nbd_p"),
    )


@register(
    "orders_tail_model_comparison",
    oracle="""
    WITH v AS (
      SELECT CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                  AS HUGEINT) AS c
      FROM orders
    ),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, sum(c) AS s, sum(c * c) AS ss
      FROM v
    ),
    u AS (
      SELECT CAST(floor(
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
               + sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0e0)))
               + 0.5) AS HUGEINT) AS uu
      FROM m
    ),
    tail AS (
      SELECT CAST(floor(ln(CAST(c AS DOUBLE) / CAST(uu AS DOUBLE)) * 1.0e9
                        + 0.5) AS BIGINT) AS lr
      FROM v, u WHERE c > uu
    ),
    a AS (
      SELECT CAST(count(*) AS HUGEINT) AS k,
             CAST(sum(lr) AS HUGEINT) AS slr,
             CAST(sum(CAST(lr AS HUGEINT) * CAST(lr AS HUGEINT)) AS HUGEINT)
               AS slr2
      FROM tail
    ),
    f AS (
      SELECT CAST(k AS DOUBLE) AS k,
             CAST(slr AS DOUBLE) / 1.0e9 / CAST(k AS DOUBLE) AS lmean,
             (CAST(k AS DOUBLE) * (CAST(slr2 AS DOUBLE) / 1.0e18)
              - (CAST(slr AS DOUBLE) / 1.0e9)
                * (CAST(slr AS DOUBLE) / 1.0e9))
               / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)) AS lvar
      FROM a
    )
    SELECT CAST(k AS BIGINT) AS n_tail,
           floor(1.0e0 / lmean * 1.0e6 + 0.5) / 1.0e6 AS pareto_alpha,
           floor((-1.0e0 - ln(lmean)) * k * 1.0e3 + 0.5) / 1.0e3
             AS pareto_loglik_scaled,
           floor((-0.5e0 * ln(lvar) - 0.5e0 - lmean
                  - 0.9189385332046727) * k * 1.0e3 + 0.5) / 1.0e3
             AS lognormal_loglik_scaled,
           ((-1.0e0 - ln(lmean))
            > (-0.5e0 * ln(lvar) - 0.5e0 - lmean
               - 0.9189385332046727)) AS pareto_preferred
    FROM f
    """,
)
def orders_tail_model_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto vs lognormal for the order-value tail above mean+1 sigma
    (the Clauset-Shalizi-Newman question asked of every 'power law'
    claim): on log-relative excesses r = ln(x/u), Pareto(alpha) is
    exponential in r (MLE alpha = 1/mean(r), per-point log-likelihood
    −1 − ln(mean r)) while lognormal-tail is Gaussian in r (per-point
    −ln(sd)−½−mean(r)−½ln 2π after the Jacobian). The scaled
    log-likelihoods and the boolean verdict say which generative story
    the tail supports — the modeling fork that decides between the
    registered Gumbel/Hill and lognormal-fit pipelines. Per-row ln
    quantized to 1e-9 before exact sums; one broadcast threshold."""
    o = _t(spark, sf_dir, "orders")
    v = o.select(
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("decimal(38,0)")
        .alias("c")
    )
    m = v.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    u = m.select(
        F.floor(
            sd / nd
            + F.sqrt((nd * ssd - sd * sd) / (nd * (nd - F.lit(1.0))))
            + 0.5
        )
        .cast("decimal(38,0)")
        .alias("uu")
    )
    tail = (
        v.crossJoin(F.broadcast(u))
        .filter(F.col("c") > F.col("uu"))
        .select(
            F.floor(
                F.log(F.col("c").cast("double") / F.col("uu").cast("double"))
                * 1.0e9
                + 0.5
            )
            .cast("decimal(38,0)")
            .alias("lr")
        )
    )
    a = tail.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        F.sum("lr").alias("slr"),
        F.sum(F.col("lr") * F.col("lr")).alias("slr2"),
    )
    kd = F.col("k").cast("double")
    lmean = F.col("slr").cast("double") / 1.0e9 / kd
    lvar = (
        kd * (F.col("slr2").cast("double") / 1.0e18)
        - (F.col("slr").cast("double") / 1.0e9)
        * (F.col("slr").cast("double") / 1.0e9)
    ) / (kd * kd)
    import math

    ll_pareto = (F.lit(-1.0) - F.log(lmean)) * kd
    ll_lognorm = (
        F.lit(-0.5) * F.log(lvar)
        - F.lit(0.5)
        - lmean
        - F.lit(0.5 * math.log(2.0 * math.pi))
    ) * kd
    return a.select(
        F.col("k").cast("long").alias("n_tail"),
        (F.floor(F.lit(1.0) / lmean * 1.0e6 + 0.5) / 1.0e6).alias(
            "pareto_alpha"
        ),
        (F.floor(ll_pareto * 1.0e3 + 0.5) / 1.0e3).alias(
            "pareto_loglik_scaled"
        ),
        (F.floor(ll_lognorm * 1.0e3 + 0.5) / 1.0e3).alias(
            "lognormal_loglik_scaled"
        ),
        (ll_pareto > ll_lognorm).alias("pareto_preferred"),
    )


# ===========================================================================
# Wave M — index/process-health audits: PQ codebook utilization
# entropy (dead codes waste quantization bits), Bowley's quartile
# skewness, the attribute p-chart for monthly return rates, and the
# chars-per-token tokenizer-cost profile by language.
# ===========================================================================
@register(
    "similarity_pq_codebook_utilization",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    subs AS (SELECT unnest(generate_series(0, 7)) AS j),
    cb AS (
      SELECT s.j, c.vec_id AS code, c.v[s.j*8+1 : s.j*8+8] AS center
      FROM subs s CROSS JOIN (SELECT * FROM e WHERE vec_id < 16) c
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
    cnt AS (
      SELECT j, code, CAST(count(*) AS BIGINT) AS n FROM enc GROUP BY 1, 2
    ),
    tot AS (SELECT j, CAST(sum(n) AS DOUBLE) AS nj FROM cnt GROUP BY 1),
    terms AS (
      SELECT cnt.j,
             CAST(floor(-CAST(n AS DOUBLE) / nj * ln(CAST(n AS DOUBLE) / nj)
                        * 1.0e12 + 0.5) AS BIGINT) AS h_u,
             n
      FROM cnt JOIN tot USING (j)
    )
    SELECT CAST(j AS BIGINT) AS subspace,
           CAST(count(*) AS BIGINT) AS codes_used,
           CAST(16 - count(*) AS BIGINT) AS codes_dead,
           floor(CAST(sum(h_u) AS DOUBLE) / 1.0e6 + 0.5) / 1.0e6
             AS usage_entropy_nats,
           floor(CAST(max(n) AS DOUBLE)
                 / CAST(sum(n) AS DOUBLE) * 1.0e6 + 0.5) / 1.0e6
             AS top_code_share
    FROM terms GROUP BY j ORDER BY j
    """,
)
def similarity_pq_codebook_utilization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Codebook utilization audit for the PQ index: per subspace, how
    many of the 16 codes are actually used, the usage entropy (max ln16
    = uniform), and the hottest code's share — dead or skewed codes
    mean the quantizer wastes bits and ADC distances lose contrast,
    the standard health check before shipping a PQ index. Same
    deterministic first-16-vectors codebook contract as the registered
    similarity_pq_adc_topk (collected once — the documented bounded
    driver fetch); encoding reuses pq_encode verbatim; entropy terms
    quantize to 1e-12 before exact sums."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        pq_encode,
    )

    emb = _t(spark, sf_dir, "embeddings")
    head = (
        emb.filter(F.col("vec_id") < 16)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    books = [
        [[float(x) for x in r.embedding[j * 8 : (j + 1) * 8]] for r in head]
        for j in range(8)
    ]
    codes = pq_encode(emb, books)
    enc = codes.select(
        F.posexplode("codes").alias("j", "code")
    )
    cnt = enc.groupBy("j", "code").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = cnt.groupBy("j").agg(F.sum("n").cast("double").alias("nj"))
    p = F.col("n").cast("double") / F.col("nj")
    terms = cnt.join(tot, "j").select(
        "j",
        "n",
        F.floor(-p * F.log(p) * 1.0e12 + 0.5).cast("long").alias("h_u"),
    )
    return (
        terms.groupBy("j")
        .agg(
            F.count(F.lit(1)).cast("long").alias("codes_used"),
            (16 - F.count(F.lit(1))).cast("long").alias("codes_dead"),
            (
                F.floor(F.sum("h_u").cast("double") / 1.0e6 + 0.5) / 1.0e6
            ).alias("usage_entropy_nats"),
            (
                F.floor(
                    F.max("n").cast("double") / F.sum("n").cast("double")
                    * 1.0e6
                    + 0.5
                )
                / 1.0e6
            ).alias("top_code_share"),
        )
        .select(
            F.col("j").cast("long").alias("subspace"),
            "codes_used",
            "codes_dead",
            "usage_entropy_nats",
            "top_code_share",
        )
        .orderBy("subspace")
    )


@register(
    "customer_acctbal_bowley_skew",
    oracle="""
    WITH c AS (
      SELECT CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
      FROM customer
    ),
    q AS (
      SELECT CAST(quantile_cont(cents * 4, 0.25) AS BIGINT) AS q1_4,
             CAST(quantile_cont(cents * 4, 0.5) AS BIGINT) AS q2_4,
             CAST(quantile_cont(cents * 4, 0.75) AS BIGINT) AS q3_4,
             CAST(count(*) AS BIGINT) AS n
      FROM c
    )
    SELECT n,
           floor(CAST(q2_4 AS DOUBLE) / 400.0e0 * 1.0e2 + 0.5) / 1.0e2
             AS median_dollars,
           floor(CAST(q3_4 - q1_4 AS DOUBLE) / 400.0e0 * 1.0e2 + 0.5) / 1.0e2
             AS iqr_dollars,
           floor(CAST(q3_4 + q1_4 - 2 * q2_4 AS DOUBLE)
                 / CAST(q3_4 - q1_4 AS DOUBLE) * 1.0e6 + 0.5) / 1.0e6
             AS bowley_skew
    FROM q
    """,
)
def customer_acctbal_bowley_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley's quartile skewness (Q3 + Q1 − 2·Q2)/(Q3 − Q1) — the
    robust skewness that one extreme balance cannot move, next to the
    moment skewness in lineitem_jarque_bera. Quartiles of 4x integer
    cents are exact integer-valued doubles on both engines (quartile
    interpolation lands on quarters), so the ratio is computed from
    exact integers; one percentile aggregate."""
    c = _t(spark, sf_dir, "customer").select(
        F.floor(F.col("c_acctbal") * 100.0 + 0.5).cast("long").alias("cents")
    )
    q = c.agg(
        F.expr("CAST(percentile(cents * 4, 0.25) AS BIGINT)").alias("q1_4"),
        F.expr("CAST(percentile(cents * 4, 0.5) AS BIGINT)").alias("q2_4"),
        F.expr("CAST(percentile(cents * 4, 0.75) AS BIGINT)").alias("q3_4"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return q.select(
        "n",
        (
            F.floor(F.col("q2_4").cast("double") / 400.0 * 1.0e2 + 0.5) / 1.0e2
        ).alias("median_dollars"),
        (
            F.floor(
                (F.col("q3_4") - F.col("q1_4")).cast("double") / 400.0 * 1.0e2
                + 0.5
            )
            / 1.0e2
        ).alias("iqr_dollars"),
        (
            F.floor(
                (F.col("q3_4") + F.col("q1_4") - 2 * F.col("q2_4")).cast(
                    "double"
                )
                / (F.col("q3_4") - F.col("q1_4")).cast("double")
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("bowley_skew"),
    )


@register(
    "lineitem_return_rate_p_chart",
    oracle="""
    WITH m AS (
      SELECT year(l_shipdate) * 12 + month(l_shipdate) - 1 AS ym,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (l_returnflag = 'R') AS BIGINT) AS r
      FROM lineitem GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(r) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS pbar FROM m
    )
    SELECT CAST(ym AS BIGINT) AS ym, n, r,
           floor(CAST(r AS DOUBLE) / CAST(n AS DOUBLE) * 1.0e6 + 0.5) / 1.0e6
             AS p_hat,
           floor((pbar + 3.0e0 * sqrt(pbar * (1.0e0 - pbar)
                                      / CAST(n AS DOUBLE))) * 1.0e6 + 0.5)
             / 1.0e6 AS ucl,
           floor(greatest(pbar - 3.0e0 * sqrt(pbar * (1.0e0 - pbar)
                                              / CAST(n AS DOUBLE)), 0.0e0)
                 * 1.0e6 + 0.5) / 1.0e6 AS lcl,
           (CAST(r AS DOUBLE) / CAST(n AS DOUBLE)
              > pbar + 3.0e0 * sqrt(pbar * (1.0e0 - pbar)
                                    / CAST(n AS DOUBLE))
            OR CAST(r AS DOUBLE) / CAST(n AS DOUBLE)
              < greatest(pbar - 3.0e0 * sqrt(pbar * (1.0e0 - pbar)
                                             / CAST(n AS DOUBLE)), 0.0e0))
             AS out_of_control
    FROM m, t ORDER BY ym
    """,
)
def lineitem_return_rate_p_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart p-chart of the monthly return-flag rate: per-month
    p-hat against 3-sigma binomial control limits around the pooled
    rate (limits vary with each month's n — the attribute-chart rule) —
    the process-control readout that separates common-cause wiggle from
    months that need a root cause, completing the control-chart family
    (EWMA, Bollinger, CUSUM) with its attribute member. One bounded
    month group-by plus a 1-row pooled broadcast; integer counts, flags
    computed on identical double expressions."""
    li = _t(spark, sf_dir, "lineitem")
    m = li.groupBy(
        (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).alias("ym")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("r"),
    )
    t = m.agg(
        (F.sum("r").cast("double") / F.sum("n").cast("double")).alias("pbar")
    )
    j = m.crossJoin(F.broadcast(t))
    nd = F.col("n").cast("double")
    phat = F.col("r").cast("double") / nd
    sig = F.sqrt(F.col("pbar") * (F.lit(1.0) - F.col("pbar")) / nd)
    ucl = F.col("pbar") + F.lit(3.0) * sig
    lcl = F.greatest(F.col("pbar") - F.lit(3.0) * sig, F.lit(0.0))
    return j.select(
        F.col("ym").cast("long").alias("ym"),
        "n",
        "r",
        (F.floor(phat * 1.0e6 + 0.5) / 1.0e6).alias("p_hat"),
        (F.floor(ucl * 1.0e6 + 0.5) / 1.0e6).alias("ucl"),
        (F.floor(lcl * 1.0e6 + 0.5) / 1.0e6).alias("lcl"),
        ((phat > ucl) | (phat < lcl)).alias("out_of_control"),
    ).orderBy("ym")


@register(
    "text_chars_per_token_by_lang",
    oracle="""
    WITH d AS (
      SELECT lang,
             CAST(length(text) AS HUGEINT) AS n_chars,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS HUGEINT) AS n_tok
      FROM documents
    ),
    a AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             sum(n_chars) AS sc, sum(n_tok) AS st,
             sum(CAST(floor(CAST(n_chars AS DOUBLE)
                            / nullif(CAST(n_tok AS DOUBLE), 0.0e0)
                            * 1.0e9 + 0.5) AS HUGEINT)) AS s_ratio
      FROM d WHERE n_tok > 0 GROUP BY lang
    )
    SELECT lang, n_docs,
           floor(CAST(sc AS DOUBLE) / CAST(st AS DOUBLE) * 1.0e6 + 0.5)
             / 1.0e6 AS corpus_chars_per_token,
           floor(CAST(s_ratio AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1.0e3
                 + 0.5) / 1.0e6 AS mean_doc_chars_per_token
    FROM a ORDER BY lang
    """,
)
def text_chars_per_token_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characters-per-token by language — the tokenizer-cost profile: a
    BPE vocabulary trained English-heavy spends more tokens per
    character elsewhere, so this ratio (corpus-level and mean-per-doc)
    is the first-order predictor of per-language training cost and
    context-window usage when budgeting a multilingual mix. Whitespace
    tokens as the engine's standard proxy; per-doc ratios quantize to
    1e-9 before the exact mean; one bounded language group-by."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.length("text").cast("decimal(38,0)").alias("n_chars"),
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
        .cast("decimal(38,0)")
        .alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    ratio_u = F.floor(
        F.col("n_chars").cast("double")
        / F.nullif(F.col("n_tok").cast("double"), F.lit(0.0))
        * 1.0e9
        + 0.5
    ).cast("decimal(38,0)")
    a = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").alias("sc"),
        F.sum("n_tok").alias("st"),
        F.sum(ratio_u).alias("s_ratio"),
    )
    return a.select(
        "lang",
        "n_docs",
        (
            F.floor(
                F.col("sc").cast("double") / F.col("st").cast("double") * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("corpus_chars_per_token"),
        (
            F.floor(
                F.col("s_ratio").cast("double")
                / F.col("n_docs").cast("double")
                / 1.0e3
                + 0.5
            )
            / 1.0e6
        ).alias("mean_doc_chars_per_token"),
    ).orderBy("lang")


# ===========================================================================
# Wave N — slate close-out: attribution-window as-of join (tolerance),
# Chow structural-break test, annual harmonic decomposition, two-level
# binary-segmentation changepoints, MinHash hash-count sweep, HLL
# precision sweep, and the langid confusion matrix.
# ===========================================================================
@register(
    "events_attribution_window_join",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT p.ts AS pts, c.ts AS cts
      FROM purch p ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND c.ts <= p.ts
    ),
    w AS (
      SELECT CASE WHEN cts IS NULL THEN NULL
                  WHEN CAST(floor(epoch(pts)) AS BIGINT)
                       - CAST(floor(epoch(cts)) AS BIGINT) > 1800 THEN NULL
                  ELSE CAST(floor(epoch(pts)) AS BIGINT)
                       - CAST(floor(epoch(cts)) AS BIGINT) END AS s
      FROM j
    )
    SELECT CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(count(s) AS BIGINT) AS n_attributed,
           floor(CAST(count(s) AS DOUBLE) / count(*) * 1.0e6 + 0.5) / 1.0e6
             AS attribution_rate,
           floor(CAST(sum(s) AS DOUBLE) / count(s) * 1.0e3 + 0.5) / 1.0e3
             AS mean_attributed_lag_s
    FROM w
    """,
)
def events_attribution_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute attribution window: each purchase attributes to its
    last click only if it happened within 1800 s — the as-of operator's
    new ``tolerance`` mode (pandas merge_asof semantics; the tolerance
    is applied AFTER the one-shuffle carry, so the plan shape is the
    standard union+window). The marketing-attribution rule every
    analytics stack hardcodes, now a single operator argument; the
    oracle is DuckDB's native ASOF with the window as a post-filter.
    Reports coverage and the mean in-window lag."""
    from cioos_siooc_data_transform_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    j = asof_join(
        purch, clicks, key="user_id", right_cols=["ts"], tolerance=1800
    )
    s = j.select(
        (F.col("ts").cast("long") - F.col("right_ts").cast("long")).alias("s")
    )
    return s.agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.count("s").cast("long").alias("n_attributed"),
        (
            F.floor(
                F.count("s").cast("double") / F.count(F.lit(1)) * 1.0e6 + 0.5
            )
            / 1.0e6
        ).alias("attribution_rate"),
        (
            F.floor(F.sum("s").cast("double") / F.count("s") * 1.0e3 + 0.5)
            / 1.0e3
        ).alias("mean_attributed_lag_s"),
    )


@register(
    "lineitem_chow_test",
    oracle="""
    WITH v AS (
      SELECT (l_discount > 0.05) AS hi,
             CAST(CAST(floor(l_quantity + 0.5) AS BIGINT) AS HUGEINT) AS x,
             CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                  AS HUGEINT) AS y
      FROM lineitem
    ),
    g AS (
      SELECT hi, CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM v GROUP BY hi
    ),
    ssr AS (
      SELECT hi, CAST(n AS DOUBLE) AS n,
             (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
               / CAST(n AS DOUBLE)
             - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
               / (CAST(n AS DOUBLE)
                  * (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS ssr_g,
             CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
             CAST(sxy AS DOUBLE) AS sxy, CAST(sxx AS DOUBLE) AS sxx,
             CAST(syy AS DOUBLE) AS syy
      FROM g
    ),
    p AS (
      SELECT sum(n) AS n, sum(sx) AS sx, sum(sy) AS sy, sum(sxy) AS sxy,
             sum(sxx) AS sxx, sum(syy) AS syy, sum(ssr_g) AS ssr_sub
      FROM ssr
    ),
    f AS (
      SELECT n, ssr_sub,
             (n * syy - sy * sy) / n
             - ((n * sxy - sx * sy) * (n * sxy - sx * sy))
               / (n * (n * sxx - sx * sx)) AS ssr_pool
      FROM p
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(floor(ssr_pool / 1.0e4 + 0.5) AS BIGINT)
             AS ssr_pooled_dollars2,
           CAST(floor(ssr_sub / 1.0e4 + 0.5) AS BIGINT)
             AS ssr_split_dollars2,
           floor(((ssr_pool - ssr_sub) / 2.0e0)
                 / (ssr_sub / (n - 4.0e0)) * 1.0e6 + 0.5) / 1.0e6
             AS chow_f
    FROM f
    """,
)
def lineitem_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow (1960) structural-break F-test of the price ~ quantity OLS
    at the discount > 5% split: F = ((SSR_pooled − ΣSSR_g)/k) /
    (ΣSSR_g/(n−2k)) with k = 2 parameters — do discounted lines follow
    a DIFFERENT price-quantity line, or is one regression enough? The
    regime-shift diagnostic behind every 'fit one model or two' fork.
    Each group's SSR collapses to raw exact-integer moment sums
    (SSR = Syy_c − Sxy_c²/Sxx_c), so the whole test is ONE group-by
    over two keys plus scalar algebra — no residual materialization at
    all (contrast Breusch–Pagan, which needs the residual pass)."""
    li = _t(spark, sf_dir, "lineitem")
    v = li.select(
        (F.col("l_discount") > 0.05).alias("hi"),
        F.floor(F.col("l_quantity") + 0.5).cast("decimal(38,0)").alias("x"),
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
        .cast("decimal(38,0)")
        .alias("y"),
    )
    g = v.groupBy("hi").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    syyd = F.col("syy").cast("double")
    ssr_g = (nd * syyd - syd * syd) / nd - (
        (nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
    ) / (nd * (nd * sxxd - sxd * sxd))
    ssr = g.select(
        nd.alias("n"),
        sxd.alias("sx"),
        syd.alias("sy"),
        sxyd.alias("sxy"),
        sxxd.alias("sxx"),
        syyd.alias("syy"),
        ssr_g.alias("ssr_g"),
    )
    p = ssr.agg(
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxy").alias("sxy"),
        F.sum("sxx").alias("sxx"),
        F.sum("syy").alias("syy"),
        F.sum("ssr_g").alias("ssr_sub"),
    )
    n = F.col("n")
    ssr_pool = (n * F.col("syy") - F.col("sy") * F.col("sy")) / n - (
        (n * F.col("sxy") - F.col("sx") * F.col("sy"))
        * (n * F.col("sxy") - F.col("sx") * F.col("sy"))
    ) / (n * (n * F.col("sxx") - F.col("sx") * F.col("sx")))
    f = p.select(
        n.alias("n"), F.col("ssr_sub").alias("ssr_sub"), ssr_pool.alias("ssr_pool")
    )
    return f.select(
        F.col("n").cast("long").alias("n"),
        F.floor(F.col("ssr_pool") / 1.0e4 + 0.5).alias("ssr_pooled_dollars2"),
        F.floor(F.col("ssr_sub") / 1.0e4 + 0.5).alias("ssr_split_dollars2"),
        (
            F.floor(
                ((F.col("ssr_pool") - F.col("ssr_sub")) / F.lit(2.0))
                / (F.col("ssr_sub") / (F.col("n") - F.lit(4.0)))
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("chow_f"),
    )


@register(
    "orders_annual_harmonic_fit",
    oracle="""
    WITH m AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS ym,
             month(o_orderdate) - 1 AS moy,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS HUGEINT) AS rev
      FROM orders GROUP BY 1, 2
    ),
    prof AS (
      SELECT moy, CAST(sum(rev) AS DOUBLE) / count(*) AS p
      FROM m GROUP BY moy
    ),
    hs AS (SELECT unnest([1, 2]) AS h),
    basis AS (
      SELECT h, moy, p,
             cos(2.0e0 * 3.141592653589793e0 * h * moy / 12.0e0) AS cb,
             sin(2.0e0 * 3.141592653589793e0 * h * moy / 12.0e0) AS sb
      FROM prof, hs
    ),
    coef AS (
      SELECT h,
             sum(p * cb) / 6.0e0 AS a_h,
             sum(p * sb) / 6.0e0 AS b_h
      FROM basis GROUP BY h
    ),
    var_p AS (
      SELECT (sum(p * p) - sum(p) * sum(p) / 12.0e0) / 12.0e0 AS vp
      FROM prof
    )
    SELECT CAST(h AS BIGINT) AS harmonic,
           CAST(floor(sqrt(a_h * a_h + b_h * b_h) / 100.0e0 + 0.5) AS BIGINT)
             AS amplitude_dollars,
           floor(atan2(b_h, a_h) * 1.0e6 + 0.5) / 1.0e6 AS phase_rad,
           floor((a_h * a_h + b_h * b_h) / 2.0e0 / vp * 1.0e6 + 0.5) / 1.0e6
             AS variance_share
    FROM coef, var_p ORDER BY h
    """,
)
def orders_annual_harmonic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First and second annual harmonics of the mean monthly-revenue
    profile: Fourier coefficients over the 12-point month-of-year means
    (an orthogonal basis on the exact 12-point grid, so the projection
    IS the least-squares fit), reported as amplitude, phase, and share
    of profile variance — the compact seasonality summary a forecaster
    reads before choosing additive-seasonal terms. The profile comes
    from integer-exact cent sums; the 12x2 basis table is the only
    trig surface and is evaluated identically on both engines."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("ym"),
        (F.month("o_orderdate") - 1).alias("moy"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("decimal(38,0)")
        .alias("rev")
    )
    prof = m.groupBy("moy").agg(
        (F.sum("rev").cast("double") / F.count(F.lit(1))).alias("p")
    )
    hs = spark.range(1, 3).select(F.col("id").alias("h"))
    pi = 3.141592653589793
    ang = F.lit(2.0 * pi) * F.col("h") * F.col("moy") / F.lit(12.0)
    basis = prof.crossJoin(F.broadcast(hs)).select(
        "h",
        "p",
        F.cos(ang).alias("cb"),
        F.sin(ang).alias("sb"),
    )
    coef = basis.groupBy("h").agg(
        (F.sum(F.col("p") * F.col("cb")) / F.lit(6.0)).alias("a_h"),
        (F.sum(F.col("p") * F.col("sb")) / F.lit(6.0)).alias("b_h"),
    )
    var_p = prof.agg(
        (
            (
                F.sum(F.col("p") * F.col("p"))
                - F.sum("p") * F.sum("p") / F.lit(12.0)
            )
            / F.lit(12.0)
        ).alias("vp")
    )
    amp2 = F.col("a_h") * F.col("a_h") + F.col("b_h") * F.col("b_h")
    return (
        coef.crossJoin(F.broadcast(var_p))
        .select(
            F.col("h").cast("long").alias("harmonic"),
            F.floor(F.sqrt(amp2) / 100.0 + 0.5).alias("amplitude_dollars"),
            (
                F.floor(F.atan2(F.col("b_h"), F.col("a_h")) * 1.0e6 + 0.5)
                / 1.0e6
            ).alias("phase_rad"),
            (
                F.floor(amp2 / F.lit(2.0) / F.col("vp") * 1.0e6 + 0.5) / 1.0e6
            ).alias("variance_share"),
        )
        .orderBy("harmonic")
    )


@register(
    "events_changepoint_binseg2",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    seq AS (
      SELECT day, n,
             row_number() OVER w AS k,
             CAST(sum(n) OVER w AS BIGINT) AS s_k,
             CAST(count(*) OVER () AS BIGINT) AS nn,
             CAST(sum(n) OVER () AS BIGINT) AS s_n
      FROM d WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
    ),
    lvl1 AS (
      SELECT k, day, nn FROM (
        SELECT k, day, nn,
               row_number() OVER (
                 ORDER BY abs(CAST(s_k AS DOUBLE)
                              - CAST(k AS DOUBLE)/nn*s_n) DESC, k) AS rn
        FROM seq WHERE k < nn
      ) WHERE rn = 1
    ),
    seg AS (
      SELECT s.day, s.n, CASE WHEN s.k <= l.k THEN 0 ELSE 1 END AS seg_id
      FROM seq s, lvl1 l
    ),
    seq2 AS (
      SELECT seg_id, day, n,
             row_number() OVER w2 AS k,
             CAST(sum(n) OVER w2 AS BIGINT) AS s_k,
             CAST(count(*) OVER (PARTITION BY seg_id) AS BIGINT) AS nn,
             CAST(sum(n) OVER (PARTITION BY seg_id) AS BIGINT) AS s_n
      FROM seg
      WINDOW w2 AS (PARTITION BY seg_id ORDER BY day ROWS UNBOUNDED PRECEDING)
    ),
    lvl2 AS (
      SELECT seg_id, day, g FROM (
        SELECT seg_id, day,
               abs(CAST(s_k AS DOUBLE) - CAST(k AS DOUBLE)/nn*s_n) AS g,
               row_number() OVER (
                 PARTITION BY seg_id
                 ORDER BY abs(CAST(s_k AS DOUBLE)
                              - CAST(k AS DOUBLE)/nn*s_n) DESC, k) AS rn
        FROM seq2 WHERE k < nn
      ) WHERE rn = 1
    )
    SELECT CAST(seg_id AS BIGINT) AS segment, day AS split_day,
           floor(g * 1.0e6 + 0.5) / 1.0e6 AS cusum_stat
    FROM lvl2
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS segment, l.day AS split_day,
           floor((SELECT max(abs(CAST(s_k AS DOUBLE)
                                 - CAST(k AS DOUBLE)/nn*s_n))
                  FROM seq WHERE k < nn) * 1.0e6 + 0.5) / 1.0e6 AS cusum_stat
    FROM lvl1 l
    ORDER BY segment
    """,
)
def events_changepoint_binseg2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level binary segmentation of the daily event-count series
    (Scott & Knott's recursive CUSUM split): find the best global
    changepoint (segment −1), then the best split WITHIN each half
    (segments 0 and 1) — the hierarchical variant of the registered
    single-point events_changepoint_location, which is how production
    changepoint detection actually proceeds. All windows run over the
    calendar-bounded day table (the documented idiom); level-2 windows
    are PARTITIONED by segment. Exact integer prefix sums; argmax
    tie-broken by earliest index."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    seq = d.select(
        "day",
        "n",
        F.row_number().over(Window.orderBy("day")).alias("k"),
        F.sum("n").over(w).cast("long").alias("s_k"),
        F.count(F.lit(1)).over(wall).cast("long").alias("nn"),
        F.sum("n").over(wall).cast("long").alias("s_n"),
    )
    g = F.abs(
        F.col("s_k").cast("double")
        - F.col("k").cast("double") / F.col("nn") * F.col("s_n")
    )
    scored = seq.filter(F.col("k") < F.col("nn")).withColumn("g", g)
    lvl1 = (
        scored.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.col("g").desc(), "k")),
        )
        .filter(F.col("rn") == 1)
        .select(F.col("k").alias("k1"), F.col("day").alias("day1"), F.col("g").alias("g1"))
    )
    seg = seq.crossJoin(F.broadcast(lvl1)).select(
        "day",
        "n",
        F.when(F.col("k") <= F.col("k1"), 0).otherwise(1).alias("seg_id"),
        "day1",
        "g1",
    )
    w2 = Window.partitionBy("seg_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wseg = Window.partitionBy("seg_id")
    seq2 = seg.select(
        "seg_id",
        "day",
        "day1",
        "g1",
        F.row_number().over(Window.partitionBy("seg_id").orderBy("day")).alias("k"),
        F.sum("n").over(w2).cast("long").alias("s_k"),
        F.count(F.lit(1)).over(wseg).cast("long").alias("nn"),
        F.sum("n").over(wseg).cast("long").alias("s_n"),
    )
    g2 = F.abs(
        F.col("s_k").cast("double")
        - F.col("k").cast("double") / F.col("nn") * F.col("s_n")
    )
    lvl2 = (
        seq2.filter(F.col("k") < F.col("nn"))
        .withColumn("g", g2)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("seg_id").orderBy(F.col("g").desc(), "k")
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("seg_id").cast("long").alias("segment"),
            F.col("day").alias("split_day"),
            (F.floor(F.col("g") * 1.0e6 + 0.5) / 1.0e6).alias("cusum_stat"),
        )
    )
    top = lvl1.select(
        F.lit(-1).cast("long").alias("segment"),
        F.col("day1").alias("split_day"),
        (F.floor(F.col("g1") * 1.0e6 + 0.5) / 1.0e6).alias("cusum_stat"),
    )
    return top.unionByName(lvl2).orderBy("segment")


_MH_SWEEP = (4, 8, 16)


def _mh_hash_sql(k: int) -> str:
    digest = (k - 1) // 4
    offset = ((k - 1) % 4) * 8 + 1
    return f"substr(md5(s || '#{digest}'), {offset}, 8)"


@register(
    "dedup_minhash_hashes_sweep",
    oracle=f"""
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
      SELECT doc_a, doc_b,
             CAST(round(n_common / (sa.n + sb.n - n_common), 6) * 1000000
                  AS BIGINT) AS j_u
      FROM common
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE round(n_common / (sa.n + sb.n - n_common), 6) >= 0.2
    ),
    sig AS (
      SELECT doc_id,
             {", ".join(f"min({_mh_hash_sql(k)}) AS h{k}" for k in range(1, 17))}
      FROM f GROUP BY doc_id
    ),
    j AS (
      SELECT p.j_u,
             {", ".join(f"CASE WHEN a.h{k} = b.h{k} THEN 1 ELSE 0 END AS m{k}" for k in range(1, 17))}
      FROM pairs p
      JOIN sig a ON a.doc_id = p.doc_a
      JOIN sig b ON b.doc_id = p.doc_b
    ),
    est AS (
      SELECT unnest([{", ".join(str(h) for h in _MH_SWEEP)}]) AS n_hashes,
             j_u,
             unnest([{", ".join("(" + " + ".join(f"m{k}" for k in range(1, h + 1)) + f") * 1000000 // {h}" for h in _MH_SWEEP)}]) AS est_u
      FROM j
    )
    SELECT CAST(n_hashes AS BIGINT) AS n_hashes,
           CAST(count(*) AS BIGINT) AS n_pairs,
           floor(CAST(sum(abs(est_u - j_u)) AS DOUBLE) / count(*) + 0.5)
             / 1.0e6 AS mean_abs_error
    FROM est GROUP BY n_hashes ORDER BY n_hashes
    """,
)
def dedup_minhash_hashes_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash accuracy vs signature width: over the exact
    Jaccard >= 0.2 pair set (hot-shingle-capped, same sets for both the
    exact and sketched sides), estimate Jaccard as the matching-
    component fraction of the first 4/8/16 portable md5-sliced hash
    functions (the registered minhash_signature operator's md5 family)
    and report mean |estimate − exact| per width — the knob curve that
    prices signature bytes against dedup precision (expected error
    ~ sqrt(J(1−J)/h)). Estimates quantize to integer micro-units with
    floor division, errors sum exactly."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
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
    pairs = ngram_jaccard_pairs(
        sh_all, "doc_id", "s", threshold=0.2, max_doc_freq=10
    ).select(
        "doc_a",
        "doc_b",
        (F.col("jaccard") * 1000000).cast("long").alias("j_u"),
    )
    sig = minhash_signature(f, "doc_id", "s", num_hashes=16, hash_family="md5")
    siga = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{k}").alias(f"a{k}") for k in range(1, 17)],
    )
    sigb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{k}").alias(f"b{k}") for k in range(1, 17)],
    )
    j = pairs.join(siga, "doc_a").join(sigb, "doc_b").select(
        "j_u",
        *[
            F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1)
            .otherwise(0)
            .alias(f"m{k}")
            for k in range(1, 17)
        ],
    )
    out = None
    for h in _MH_SWEEP:
        est_u = F.floor(
            sum(F.col(f"m{k}") for k in range(1, h + 1)) * 1000000 / h
        ).cast("long")
        agg = j.select(
            F.abs(est_u - F.col("j_u")).cast("decimal(38,0)").alias("err")
        ).agg(
            F.lit(h).cast("long").alias("n_hashes"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            (
                F.floor(
                    F.sum("err").cast("double") / F.count(F.lit(1)) + 0.5
                )
                / 1.0e6
            ).alias("mean_abs_error"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out.select("n_hashes", "n_pairs", "mean_abs_error").orderBy(
        "n_hashes"
    )


_HLL_SWEEP_LGK = (8, 12, 14)


@register(
    "sketch_hll_precision_sweep",
    oracle="""
    WITH ex AS (
      SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs
      FROM orders
    ),
    lgs AS (SELECT unnest([8, 12, 14]) AS lg_k)
    SELECT CAST(lg_k AS BIGINT) AS lg_k, exact_custs,
           TRUE AS within_5_rsd
    FROM lgs, ex ORDER BY lg_k
    """,
)
def sketch_hll_precision_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog precision sweep: estimate distinct order customers
    at lgConfigK 8/12/14 (256/4k/16k registers; theoretical rsd
    1.04/sqrt(2^lgK) ~ 6.5%/1.6%/0.8%) and assert each estimate lands
    within 5 relative standard deviations of the exact count — the
    knob curve that prices sketch memory against accuracy before wiring
    HLL into a rollup (the registered merge/intersection queries fix
    lgK=14; this sweeps it). Weaker boolean oracle like the rest of the
    sketch family: a broken hash, register width, or estimator bias at
    ANY precision flips a row."""
    o = _t(spark, sf_dir, "orders")
    exact = o.agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_custs")
    )
    out = None
    for lg_k in _HLL_SWEEP_LGK:
        est = o.agg(
            F.expr(
                f"hll_sketch_estimate(hll_sketch_agg(o_custkey, {lg_k}))"
            ).alias("est")
        )
        rsd = 1.04 / (2.0 ** (lg_k / 2.0))
        row = (
            est.crossJoin(F.broadcast(exact))
            .select(
                F.lit(lg_k).cast("long").alias("lg_k"),
                "exact_custs",
                (
                    F.abs(F.col("est") - F.col("exact_custs"))
                    <= F.lit(5.0 * rsd) * F.col("exact_custs")
                ).alias("within_5_rsd"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("lg_k")


def _langid_confusion_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.registry import ORACLES

    return f"""
    WITH li AS ({ORACLES["text_langid"]}),
    c AS (
      SELECT d.lang AS true_lang, li.pred_lang,
             CAST(count(*) AS BIGINT) AS n
      FROM li JOIN documents d USING (doc_id)
      GROUP BY 1, 2
    ),
    tot AS (SELECT true_lang, CAST(sum(n) AS BIGINT) AS nt FROM c GROUP BY 1)
    SELECT c.true_lang, c.pred_lang, c.n,
           floor(CAST(c.n AS DOUBLE) / CAST(nt AS DOUBLE) * 1.0e6 + 0.5)
             / 1.0e6 AS row_share
    FROM c JOIN tot USING (true_lang)
    ORDER BY true_lang, pred_lang
    """


@register("text_langid_confusion_matrix", oracle=_langid_confusion_oracle())
def text_langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the n-gram-heuristic language identifier
    against the labeled lang column: per (true, predicted) cell, count
    and row share (= per-class recall on the diagonal) — the quality
    gate a curation pipeline reads before trusting langid-based
    filtering, including how the labeled-but-unmodeled fifth language
    distributes over the four predictable classes. Reuses the
    registered text_langid plan verbatim on the Spark side and its
    registered oracle text as a CTE on the DuckDB side, so the
    confusion is pinned against the SAME prediction contract."""
    from cioos_siooc_data_transform_spark.plans.text_queries import (
        text_langid,
    )

    pred = text_langid(spark, sf_dir).select("doc_id", "pred_lang")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    c = (
        pred.join(docs, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = c.groupBy("true_lang").agg(F.sum("n").cast("long").alias("nt"))
    return (
        c.join(tot, "true_lang")
        .select(
            "true_lang",
            "pred_lang",
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
        .orderBy("true_lang", "pred_lang")
    )


