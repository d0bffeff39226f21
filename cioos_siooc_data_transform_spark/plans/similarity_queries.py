"""Similarity-search [Q] operators over the embeddings table (beyond-
reference scope): exact brute-force cosine top-k and the IVF-bucketed
approximate variant (the 100 TB scale path).

Cosine is rounded to 4 dp BEFORE ranking/thresholding on both sides so
ordering and cuts are engine-stable (float-sum-order independence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cioos_siooc_data_transform_spark.operators.similarity import (
    brute_force_topk,
    cosine_expr,
    dot_expr,
    ivf_topk,
)
from cioos_siooc_data_transform_spark.plans.registry import register
from cioos_siooc_data_transform_spark.session import read_table as _t


@register(
    "similarity_topk_bruteforce",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings)
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), 4) AS cos_sim,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(list_cosine_similarity(qv, cv), 4) DESC, neighbor_id ASC
             ) AS rank
      FROM q, c WHERE neighbor_id != query_id
    ) WHERE rank <= 10
    """,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return brute_force_topk(queries, emb, k=10, round_dp=4)


@register(
    "similarity_ivf_topk",
    oracle="""
    WITH cent AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT v.vec_id, CAST(v.embedding AS DOUBLE[]) AS embedding, cent.centroid_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(v.embedding, cent.cv), 4) DESC,
                          cent.centroid_id ASC
               ) AS rn
        FROM embeddings v, cent
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv, centroid_id FROM assigned WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv2, centroid_id FROM assigned)
    SELECT query_id, centroid_id, neighbor_id, cos_sim, rank FROM (
      SELECT q.query_id, q.centroid_id, c.neighbor_id,
             round(list_cosine_similarity(q.qv, c.cv2), 4) AS cos_sim,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY round(list_cosine_similarity(q.qv, c.cv2), 4) DESC,
                        c.neighbor_id ASC
             ) AS rank
      FROM q JOIN c ON q.centroid_id = c.centroid_id AND c.neighbor_id != q.query_id
    ) WHERE rank <= 5
    """,
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8)
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(queries, emb, centroids, k=5, round_dp=4)


# ---------------------------------------------------------------------------
# Embedding storage transforms for ANN at scale: symmetric int8
# quantization (4× memory cut for in-memory indexes) and L2
# normalization (turns cosine into dot product). Pure array codegen —
# no shuffle, no Python; both mirror element-for-element into DuckDB
# (embeddings cast to DOUBLE[] first: list arithmetic on FLOAT[] runs
# in float32 there). Rounding uses floor(v*k + 0.5) on both sides so
# exact .5 boundaries (which int8 quantization hits constantly) round
# identically. Results are emitted as SCALAR rows — (vec_id, pos, value)
# via posexplode / zipped-unnest — because the driver's canonicalizer
# (pandas sort_values) cannot hash array cells; the array form stays
# available in operators/similarity.py for in-plan composition.
# ---------------------------------------------------------------------------
@register(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), s AS (
      SELECT vec_id, e,
             127.0 / list_max(list_transform(e, x -> abs(x))) AS scale
      FROM v
      WHERE list_max(list_transform(e, x -> abs(x))) > 0.0
    )
    SELECT vec_id,
           floor(scale * 1000000.0 + 0.5) / 1000000.0 AS scale,
           unnest(range(len(e))) AS pos,
           unnest(list_transform(e, x -> CAST(floor(x * scale + 0.5) AS INTEGER)))
             AS q_val
    FROM s
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = 127/max|v|,
    q_i = round(v_i·scale), flattened to one row per element. Zero
    vectors are dropped (no defined scale)."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    amax = F.array_max(F.transform(e, lambda x: F.abs(x)))
    scale = 127.0 / amax
    q = F.transform(e, lambda x: F.floor(x * scale + 0.5).cast("int"))
    return (
        emb.filter(amax > 0.0)
        .select(
            "vec_id",
            (F.floor(scale * 1000000.0 + 0.5) / 1000000.0).alias("scale"),
            F.posexplode(q).alias("pos", "q_val"),
        )
        .withColumn("pos", F.col("pos").cast("long"))
    )


@register(
    "embedding_normalize",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), n AS (
      SELECT vec_id, e,
             sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')) AS nrm
      FROM v
    )
    SELECT vec_id,
           unnest(range(len(e))) AS pos,
           unnest(list_transform(
             e, x -> floor(x / nrm * 1000000.0 + 0.5) / 1000000.0)) AS unit_val
    FROM n WHERE nrm > 0.0
    """,
)
def embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization (cosine → dot product for downstream ANN),
    flattened to one row per element."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    nrm = F.sqrt(dot_expr("embedding", "embedding"))
    unit = F.transform(e, lambda x: F.floor(x / nrm * 1000000.0 + 0.5) / 1000000.0)
    return (
        emb.filter(nrm > 0.0)
        .select("vec_id", F.posexplode(unit).alias("pos", "unit_val"))
        .withColumn("pos", F.col("pos").cast("long"))
    )


@register(
    "embedding_centroid_distance",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS xi
      FROM embeddings
    ), long AS (
      SELECT label, unnest(range(len(xi))) AS pos, unnest(xi) AS x FROM v
    ), cent AS (
      SELECT label, pos, sum(x) AS s, count(*) AS cnt
      FROM long GROUP BY label, pos
    ), carr AS (
      SELECT label, list(s / (1000000.0 * cnt) ORDER BY pos) AS c
      FROM cent GROUP BY label
    )
    SELECT v.vec_id, v.label,
           floor(sqrt(list_aggregate(
             list_transform(range(len(v.xi)),
               i -> (v.xi[i + 1] / 1000000.0 - c.c[i + 1])
                    * (v.xi[i + 1] / 1000000.0 - c.c[i + 1])),
             'sum')) * 1000000.0 + 0.5) / 1000000.0 AS centroid_dist
    FROM v JOIN carr c ON v.label = c.label
    """,
)
def embedding_centroid_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class centroid + per-vector L2 distance to its own centroid —
    the clustering-diagnostics / outlier-mining primitive (mislabelled
    or off-manifold vectors sit far from their class centroid).

    Engine-exactness by construction: vector elements are quantized to
    integer micro-units FIRST, so the per-(label, dim) centroid sums are
    integer aggregates (order-independent, exact on both engines); the
    centroid becomes one exact integer division, and the distance is a
    row-local left-to-right fold over identical doubles (zip_with +
    aggregate vs list_transform + list_aggregate) — bit-identical IEEE
    on both sides, no float-boundary risk at any SF.

    Scale: ONE shuffle (the (label, dim) integer agg — at most
    labels x dims groups, fully map-side combinable); the centroid array
    table is labels-sized and broadcast, and the distance is computed
    row-locally in codegen, so the corpus streams through once. At
    extreme row counts the BIGINT micro-unit sums approach overflow
    around 9e12 rows per label — switch the sum to DECIMAL(38,0) there."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    xi = F.transform(e, lambda x: F.floor(x * 1000000.0 + 0.5).cast("long"))
    v = emb.select("vec_id", "label", xi.alias("xi"))
    long_ = v.select("label", F.posexplode(F.col("xi")).alias("pos", "x"))
    cent = long_.groupBy("label", "pos").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("cnt")
    )
    carr = (
        cent.select(
            "label",
            F.struct("pos", (F.col("s") / (1000000.0 * F.col("cnt"))).alias("cv")).alias(
                "pc"
            ),
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("pc")), lambda st: st["cv"]
            ).alias("c")
        )
    )
    xd = F.transform(F.col("xi"), lambda q: q / 1000000.0)
    dist2 = F.aggregate(
        F.zip_with(xd, F.col("c"), lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return (
        v.join(F.broadcast(carr), "label")
        .select(
            "vec_id",
            "label",
            (F.floor(F.sqrt(dist2) * 1000000.0 + 0.5) / 1000000.0).alias(
                "centroid_dist"
            ),
        )
    )


@register(
    "similarity_recall_at_k",
    oracle="""
    WITH cent AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT v.vec_id, CAST(v.embedding AS DOUBLE[]) AS embedding, cent.centroid_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(v.embedding, cent.cv), 4) DESC,
                          cent.centroid_id ASC
               ) AS rn
        FROM embeddings v, cent
      ) WHERE rn = 1
    ),
    qa AS (SELECT vec_id AS query_id, embedding AS qv, centroid_id FROM assigned WHERE vec_id < 5),
    ca AS (SELECT vec_id AS neighbor_id, embedding AS cv2, centroid_id FROM assigned),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qa.query_id, ca.neighbor_id,
               row_number() OVER (
                 PARTITION BY qa.query_id
                 ORDER BY round(list_cosine_similarity(qa.qv, ca.cv2), 4) DESC,
                          ca.neighbor_id ASC
               ) AS rank
        FROM qa JOIN ca ON qa.centroid_id = ca.centroid_id
                       AND ca.neighbor_id != qa.query_id
      ) WHERE rank <= 5
    ),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
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
    )
    SELECT b.query_id,
           CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0
             AS recall_at_5
    FROM bf b
    LEFT JOIN ivf i ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def similarity_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@5 of the IVF index (nprobe=1,
    deterministic first-8 centroids — the same index as
    similarity_ivf_topk) against the exact brute-force ground truth —
    THE metric you tune (n_cells, nprobe) against before shipping an
    index configuration at corpus scale. Both arms are deterministic
    (4-dp-rounded cosine, id tiebreaks) so recall is oracle-checkable;
    the join that scores hits is per-(query, neighbor) — k·|queries|
    rows, trivially broadcast. Recall is an exact rational n/5."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    centroids = emb.filter(F.col("vec_id") < 8)
    bf = brute_force_topk(queries, emb, k=5, round_dp=4).select(
        "query_id", "neighbor_id"
    )
    ivf = ivf_topk(queries, emb, centroids, k=5, round_dp=4).select(
        "query_id", F.col("neighbor_id").alias("ivf_neighbor_id")
    )
    hits = bf.join(
        ivf,
        (bf["query_id"] == ivf["query_id"])
        & (bf["neighbor_id"] == ivf["ivf_neighbor_id"]),
        "left",
    ).select(bf["query_id"].alias("qid"), "ivf_neighbor_id")
    n_hits = F.sum(
        F.when(F.col("ivf_neighbor_id").isNotNull(), 1).otherwise(0)
    )
    return hits.groupBy(F.col("qid").alias("query_id")).agg(
        n_hits.cast("long").alias("n_hits"),
        (n_hits / 5.0).alias("recall_at_5"),
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN top-k — the hyperplane (sign-random-projection)
# alternative to the IVF scale path: no trained quantizer, just the
# deterministic hyperplane bank shared with dedup_embedding_cosine.
# Candidates = corpus vectors sharing >= 1 band bucket with the query
# (OR-of-ANDs amplification); exact cosine runs only on candidates.
# ---------------------------------------------------------------------------
@register(
    "similarity_lsh_topk",
    oracle=None,  # set below — shares the hyperplane SQL bank lazily
)
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via hyperplane LSH bucket probing (8 bands x 4 bits over
    the 64-dim embeddings, same deterministic bank as
    dedup_embedding_cosine). The query side is 5 vectors -> its bucket
    list is tiny and broadcast; the corpus streams through the bucket
    equi-join once. The mega-bucket guard (windowed count <= 400) bounds
    the worst task exactly like the dedup twin — at 100 TB a degenerate
    bucket (e.g. the all-zeros region) would otherwise serialize into
    one task. Recall tuning vs the exact answer is measured by
    similarity_recall_at_k's harness pattern; cosine is rounded to 4 dp
    before ranking with an id tiebreak so top-k membership is
    engine-stable.

    Reference parity note: the reference has no ANN surface (SURVEY.md
    §2 beyond-reference scope); this is the LSH half of the task's
    'IVF or LSH-bucketed variant' pair — both now ship.
    """
    from cioos_siooc_data_transform_spark.operators.dedup import (
        hyperplane_lsh_buckets,
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
    from pyspark.sql import Window

    # Probe-side pruning: only buckets a query actually probes matter,
    # so semi-reduce the corpus bucket relation against the (queries x
    # bands)-sized probe-key set BEFORE the mega-bucket guard. Equality
    # on the bucket key retains whole buckets, so the windowed count
    # still sees the TRUE bucket size and the guard decision is
    # unchanged — but the guard's shuffle input drops from corpus x
    # bands rows to just the probed buckets. (The oracle guards over all
    # buckets; results are identical because unprobed buckets can never
    # produce a candidate.)
    #
    # Interleaved A/B at sf0.1 (min-of-3): unpruned 2.8 s vs pruned
    # 3.1 s — locally the 2.56M-row window is cheap on 32 cores and the
    # extra probe-keys job costs more than it saves. The pruned shape
    # ships anyway because the trade inverts catastrophically at scale:
    # the unpruned window SHUFFLES the entire corpus x bands index
    # relation per query batch, while the pruned one streams it through
    # a broadcast filter and shuffles only |probed buckets| x cap rows
    # (workload-proportional, corpus-size-independent).
    probe_keys = (
        buckets.filter(F.col("vec_id") < 5).select("bucket").distinct()
    )
    probed = buckets.join(F.broadcast(probe_keys), "bucket")
    w = Window.partitionBy("bucket")
    guarded = probed.withColumn("_n", F.count(F.lit(1)).over(w)).filter(
        F.col("_n") <= _EMB_BUCKET_CAP
    )
    q = guarded.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "bucket"
    )
    cand = (
        guarded.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    ea = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    eb = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    scored = (
        cand.join(F.broadcast(ea), "query_id")
        .join(eb, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr("qv", "cv"), 4).alias("cos_sim"),
        )
    )
    rw = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id", "neighbor_id", "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _lsh_topk_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        _EMB_BUCKET_CAP,
        _HP_BITS_SQL,
        _HP_BUCKETS_SQL,
    )

    return f"""
    WITH bits AS (
      SELECT vec_id, {_HP_BITS_SQL}
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    ),
    bk AS (SELECT vec_id, unnest([{_HP_BUCKETS_SQL}]) AS bucket FROM bits),
    guarded AS (
      SELECT vec_id, bucket FROM (
        SELECT vec_id, bucket, count(*) OVER (PARTITION BY bucket) AS n FROM bk
      ) WHERE n <= {_EMB_BUCKET_CAP}
    ),
    q AS (SELECT vec_id AS query_id, bucket FROM guarded WHERE vec_id < 5),
    cand AS (
      SELECT DISTINCT q.query_id, g.vec_id AS neighbor_id
      FROM q JOIN guarded g ON g.bucket = q.bucket AND g.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                          CAST(eb.embedding AS DOUBLE[])), 4) AS cos_sim,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                                     CAST(eb.embedding AS DOUBLE[])), 4) DESC,
                        neighbor_id ASC
             ) AS rank
      FROM cand
      JOIN embeddings ea ON ea.vec_id = cand.query_id
      JOIN embeddings eb ON eb.vec_id = cand.neighbor_id
    ) WHERE rank <= 5
    """


from cioos_siooc_data_transform_spark.plans.registry import ORACLES as _ORACLES

_ORACLES["similarity_lsh_topk"] = _lsh_topk_oracle()


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (64 -> 16 dims): the standard
# pre-ANN dimensionality reduction — distances are preserved within
# (1 +/- eps) w.h.p., index memory and cosine cost drop 4x. Row-local
# matmul against a literal matrix: zero shuffle, whole-stage codegen,
# corpus streams once. Engine-exact by integer quantization: vector
# elements -> 1e-6 micro-units, hyperplane coefficients -> 1e-4 units,
# so every product and partial sum is an integer < 2^53 — double
# accumulation is EXACT and order-independent on both engines (no
# float-boundary risk in the 6-dp output rounding).
# ---------------------------------------------------------------------------
from cioos_siooc_data_transform_spark.operators.dedup import random_hyperplanes

_JL_OUT_DIMS = 16
_JL_ROWS_INT = [
    [int(round(v * 10000.0)) for v in row]
    for row in random_hyperplanes(_JL_OUT_DIMS, 64, seed=7)
]
# proj_micro = round(sum_i xi_i * h_int_i / (1e4 * sqrt(16))) with
# xi in micro-units -> divide the integer dot by 4e4 to land in 1e-6 units.
_JL_PROJ_SQL = ", ".join(
    "floor(list_aggregate(list_transform(range(64), i -> xi[i + 1] * ("
    + "[" + ", ".join(str(h) for h in row) + "][i + 1]"
    + ")), 'sum') / 40000.0 + 0.5) / 1000000.0"
    for row in _JL_ROWS_INT
)


@register(
    "embedding_random_projection",
    oracle=f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> floor(x * 1000000.0 + 0.5)) AS xi
      FROM embeddings
    )
    SELECT vec_id,
           unnest(range({_JL_OUT_DIMS})) AS pos,
           unnest([{_JL_PROJ_SQL}]) AS proj_val
    FROM v
    """,
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL projection of each embedding onto 16 deterministic Gaussian
    directions (seed-7 bank, distinct from the LSH bank), scaled by
    1/sqrt(16), emitted flattened (vec_id, pos, proj_val) for the
    driver's scalar canonicalizer — the array form is one array() away
    for in-plan composition with the ANN operators."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        double_matrix_sql,
    )

    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    xi = F.transform(e, lambda x: F.floor(x * 1000000.0 + 0.5))
    # round-13 (same fix as hyperplane_lsh_buckets): the 16x64 bank is
    # ONE array<array<double>> literal and all 16 projections come from
    # a single transform() — identical products/sums in the same order
    # (integer-exact, see the block comment above), so the output is
    # bit-identical; vs 1,024 element-wise F.lit calls + 16 aggregate
    # trees: isolated 1.27 -> 0.75 s at sf0.1.
    hmat = F.expr(
        double_matrix_sql([[float(c) for c in row] for row in _JL_ROWS_INT])
    )
    projs = F.transform(
        hmat,
        lambda h: F.floor(
            F.aggregate(
                F.zip_with(xi, h, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / 40000.0
            + 0.5
        )
        / 1000000.0,
    )
    return (
        emb.select("vec_id", F.posexplode(projs).alias("pos", "proj_val"))
        .withColumn("pos", F.col("pos").cast("long"))
    )
