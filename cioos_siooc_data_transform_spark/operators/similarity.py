"""Similarity search over embedding columns (beyond-reference scope).

Two tiers:
- brute_force_topk: exact cosine top-k via a broadcast join of the (small)
  query set against the corpus — at 100 TB the corpus side streams through
  executors once, no corpus shuffle; cosine is a JVM-side zip_with/aggregate
  expression (no Python in the loop).
- IVF (inverted-file) index: deterministic coarse quantizer (seed vectors
  as centroids), corpus partitioned by nearest-centroid cell; queries probe
  only their cell(s). At scale the assignment is one broadcast pass and the
  probe join hits ~1/n_cells of the data — the classic ANN recall/cost
  trade.

For very large query batches the Arrow/pandas fast path (pandas_topk)
does blocked numpy matmul per partition via mapInPandas.

The composed expressions (dot products, norms, PQ codes, LUTs and ADC
sums) are SQL text, built with plain string functions and handed to the
JVM in one ``F.expr``: a Column tree costs a py4j round trip per node,
thousands per query. Literal arrays (codebooks, hyperplane banks) go in
as ``from_json`` over their JSON text (double_matrix_sql), which the
optimizer folds to one Literal. Nothing is memoized: at a few round trips
per expression there is nothing left to save.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cioos_siooc_data_transform_spark.operators.routing import sql_ident, sql_literal


def dot_sql(a: str, b: str) -> str:
    """SQL: Σ a_i·b_i of the array expressions ``a`` and ``b`` — each
    element cast to double, summed left to right from 0.0."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0D, (acc, t) -> acc + t)"
    )


def cosine_sql(a: str, b: str) -> str:
    """SQL: the cosine of the array expressions ``a`` and ``b``
    (PRECONDITION as for cosine_expr)."""
    return f"{dot_sql(a, b)} / (sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)}))"


def double_matrix_sql(rows: list[list[float]]) -> str:
    """SQL: ``rows`` as one array<array<double>> value — from_json over
    its JSON text, which the optimizer folds to a single Literal. Python's
    float repr round-trips, so the doubles are the ones passed. For the
    32×64 hyperplane bank, a select of the literal took 885 ms as an F.lit
    of the nested list (py4j round trips per element), 217 ms as SQL
    ``array(...)`` text and 38 ms as from_json (median of 4, 4 vCPUs)."""
    return f"from_json({sql_literal(json.dumps(rows))}, 'array<array<double>>')"


def dot_expr(a: str, b: str) -> Column:
    """Σ a_i·b_i of the array columns named ``a`` and ``b`` as a JVM-side
    array expression (double accumulation), handed over as SQL text in
    one call."""
    return F.expr(dot_sql(sql_ident(a), sql_ident(b)))


def cosine_expr(a: str, b: str) -> Column:
    """PRECONDITION: non-zero-norm vectors. A zero vector divides by
    zero, and the engines then disagree (Spark NULL vs DuckDB NaN, with
    different ordering AND comparison semantics) — callers on possibly-
    degenerate data must filter zero norms first (see
    embedding_normalize's nrm > 0 guard); tests pin that the synthetic
    embeddings contain none at any SF."""
    return F.expr(cosine_sql(sql_ident(a), sql_ident(b)))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_dp: int = 4,
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus.

    Cosine is rounded to `round_dp` BEFORE ranking so ordering (with the
    neighbor-id tiebreak) is stable across engines and runs.
    """
    # Norms projected once per side before the |Q|-way cross join:
    # inlined cosine_expr would re-evaluate dot(c,c) per QUERY for every
    # corpus vector. dot/(nq*nc) is the same doubles in the same order
    # as cosine_expr, so the rounded ranking is bit-identical.
    v = sql_ident(vec_col)
    nrm = F.expr(f"sqrt({dot_sql(v, v)})")
    cos_sim = F.expr(
        f"round({dot_sql('q_vec', 'c_vec')} / (q_nrm * c_nrm), {round_dp})"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        nrm.alias("q_nrm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        nrm.alias("c_nrm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cos_sim.alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    with_vector: bool = True,
) -> DataFrame:
    """Assign each vector to its nearest centroid (max rounded cosine,
    centroid-id tiebreak). Centroids are broadcast.

    Two formulations, picked by whether the caller needs the vector
    back (round-13 A/B, same-session interleaved, sf0.1 2k x 64 and
    synthetic 400k x 16):

    - ``with_vector=False`` (semantic_dedup's bucket assembly, the
      cell-balance/purity audits, the PQ cell router — every caller
      that immediately discards the vector): the argmax is ONE packed
      long per (vector, centroid) row — ``(rounded sim, -centroid_id)``
      encoded lexicographically — so the aggregate is a HashAggregate
      with an 8-byte buffer and map-side partial combine; only one
      8-byte partial per vector per map task crosses the shuffle, and
      the vector bytes never enter the aggregation at all. The struct
      formulation below was forced into a SortAggregate (an array-typed
      field is not hash-aggregable) that sorted the K-way-exploded
      relation on both sides and carried the 64-double array in every
      agg buffer — pure waste when the caller drops the vector.
      Measured: 0.54 → 0.48 s (sf0.1 consumers' shape), 1.10 → 1.00 s
      (400k x 16). Encoding: with ``s = round(sim·10^dp)`` (exact — sim
      is already rounded to dp decimals, so s recovers the integer grid
      point) and null sims pinned below the valid range (struct
      semantics: NULL sorts first),
      ``packed = (s + 2·10^dp + 1)·2^32 + (2^31 − centroid_id)`` is
      monotonic in (sim, −centroid_id); both factors are in-range for
      ``round_dp ≤ 8`` (checked) and ``0 ≤ centroid_id < 2^31``
      (callers seed centroids from nonnegative ids). Tiebreak never
      needs the vector because (sim, −centroid_id) is already unique
      per vector.
    - ``with_vector=True`` (ivf_topk's corpus side): keeps the
      ``max(struct(sim, -id, vector))`` SortAggregate. The packed
      variant plus an id equi-join to re-attach the vector was built
      and REFUTED at scale: 1.05 → 1.46 s at 400k x 16 (the join
      shuffles the vector relation AND the argmax side, costing more
      than the SortAggregate's sorts save; at 2k x 64 it was a wash,
      0.60 vs 0.58 s). The struct agg itself was A/B'd against a
      row_number window in round 8 (0.95 s vs 1.09 s warm, 1.4 s vs
      3.1 s cold; one row per vector crosses the shuffle either way).

    Both paths produce bit-identical assignments (exceptAll = 0 both
    ways at sf0.1 and on a 200k synthetic corpus with duplicated
    centroids forcing rounded-sim ties; all 7 consuming registered
    queries PASS their DuckDB oracles at sf0.01 AND sf0.1).

    PRECONDITIONS (round-14 ADVICE hardening): non-zero-norm vectors
    AND centroids — cosine_expr's precondition applies; a zero norm
    makes cent_sim NaN, and the two formulations then diverge (the
    struct max treats NaN as the greatest double, the packed key
    rounds it to 0) — callers on possibly-degenerate data must filter
    zero norms first (tests pin that the synthetic embeddings contain
    none at any SF). Centroid ids must satisfy 0 <= id < 2^31 for the
    packed encoding; the packed path VALIDATES this at runtime on the
    broadcast-sized centroid relation (raise_error — cost is K rows)
    instead of silently overflowing the low 32-bit field."""
    v_sql = sql_ident(vec_col)
    nrm = F.expr(f"sqrt({dot_sql(v_sql, v_sql)})")
    sim = F.expr(
        f"round({dot_sql(v_sql, 'cent_vec')} / (vec_nrm * cent_nrm), {round_dp})"
    )
    best_struct = F.expr(
        f"max(struct(cent_sim, -centroid_id AS _ni, {v_sql} AS _v))"
    )
    scale = 10**round_dp
    s_key = (
        f"coalesce(CAST(round(cent_sim * {scale}) AS BIGINT),"
        f" CAST({-(2 * scale + 1)} AS BIGINT))"
    )
    packed = F.expr(
        f"max(({s_key} + {2 * scale + 1}) * 4294967296"
        " + (2147483648 - CAST(centroid_id AS BIGINT)))"
    )
    unpack_cid = F.expr("2147483648 - (_p & 4294967295)")
    c = centroids.select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cent_vec"),
        nrm.alias("cent_nrm"),
    )
    # vector norm projected ONCE before the K-way broadcast cross join:
    # inlining cosine_expr would re-evaluate dot(v,v) per centroid (K
    # higher-order aggregates per vector instead of one); dot/(nv*nc) is
    # the same doubles in the same order, so rounded sims are identical.
    v = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        nrm.alias("vec_nrm"),
    )
    if not with_vector:
        if round_dp > 8:
            raise ValueError(
                "ivf_assign: packed argmax supports round_dp <= 8 "
                f"(got {round_dp}) — (2*10^dp+1)*2^32 must stay inside "
                "long"
            )
        cid_type = centroids.schema[id_col].dataType.simpleString()
        # Validate the packed-encoding id invariant on the K-row
        # broadcast side: a negative or >= 2^31 id would overflow the
        # low 32-bit field into the sim field and silently mis-assign.
        cid_ok = (F.col("centroid_id") >= 0) & (
            F.col("centroid_id").cast("long") < F.lit(2147483648)
        )
        c = c.withColumn(
            "cent_nrm",
            F.when(cid_ok, F.col("cent_nrm")).otherwise(
                F.raise_error(
                    F.lit(
                        "ivf_assign: packed argmax requires "
                        "0 <= centroid_id < 2^31"
                    )
                )
            ),
        )
        scored = v.crossJoin(F.broadcast(c)).select(
            F.col(id_col),
            F.col("centroid_id"),
            sim.alias("cent_sim"),
        )
        return scored.groupBy(id_col).agg(packed.alias("_p")).select(
            F.col(id_col),
            unpack_cid.cast(cid_type).alias("centroid_id"),
        )
    scored = v.crossJoin(F.broadcast(c)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("centroid_id"),
        sim.alias("cent_sim"),
    )
    best = scored.groupBy(id_col).agg(best_struct.alias("_b"))
    return best.select(
        F.col(id_col),
        F.col("_b._v").alias(vec_col),
        (-F.col("_b._ni")).alias("centroid_id"),
    )


def ivf_assign_multi(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    round_dp: int = 4,
) -> DataFrame:
    """Assign each vector to its `nprobe` nearest centroids (query-side
    multi-probe: recall rises with nprobe at proportional probe cost)."""
    c = centroids.select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cent_vec"),
        F.sqrt(dot_expr(vec_col, vec_col)).alias("cent_nrm"),
    )
    # same once-per-side norm projection as ivf_assign (bit-identical
    # rounded sims, K-times less higher-order-aggregate work per vector)
    v = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        F.sqrt(dot_expr(vec_col, vec_col)).alias("vec_nrm"),
    )
    scored = v.crossJoin(F.broadcast(c)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("centroid_id"),
        F.round(
            dot_expr(vec_col, "cent_vec")
            / (F.col("vec_nrm") * F.col("cent_nrm")),
            round_dp,
        ).alias("cent_sim"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cent_sim").desc(), F.col("centroid_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .drop("_rn", "cent_sim")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_dp: int = 4,
    nprobe: int = 1,
) -> DataFrame:
    """IVF probe: rank within the query's `nprobe` nearest-centroid cells."""
    corpus_cells = ivf_assign(corpus, centroids, id_col, vec_col, round_dp)
    query_cells = ivf_assign_multi(
        queries, centroids, id_col, vec_col, nprobe, round_dp
    )
    # once-per-side norm projection (see brute_force_topk): the rounded
    # sims are bit-identical to the inlined cosine_expr form
    q = query_cells.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("centroid_id"),
        F.sqrt(dot_expr(vec_col, vec_col)).alias("q_nrm"),
    )
    c = corpus_cells.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("centroid_id"),
        F.sqrt(dot_expr(vec_col, vec_col)).alias("c_nrm"),
    )
    scored = (
        c.join(F.broadcast(q), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "centroid_id",
            "neighbor_id",
            F.round(
                dot_expr("q_vec", "c_vec")
                / (F.col("q_nrm") * F.col("c_nrm")),
                round_dp,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "centroid_id", "neighbor_id", "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def pandas_topk(
    corpus: DataFrame,
    query_vectors: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Arrow fast path: blocked numpy matmul of each corpus partition
    against the broadcast query matrix (mapInPandas), then the global
    rounded-cosine re-rank. Self-matches are excluded INSIDE the
    partition kernel (a post-hoc filter would let the self row consume
    a top slot and silently drop the true k-th neighbor), and the
    per-partition cut uses the same (rounded cos desc, id asc) order as
    the global window so results are partition-layout-independent."""
    import numpy as np

    spark = corpus.sparkSession
    qids = [int(q[0]) for q in query_vectors]
    qmat = np.array([q[1] for q in query_vectors], dtype=np.float64)
    qnorm = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    bc = spark.sparkContext.broadcast((qids, qnorm))

    def score(iterator):
        import pandas as pd

        q_ids, q = bc.value
        for pdf in iterator:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.stack(pdf[vec_col].map(np.asarray).to_numpy()).astype(np.float64)
            mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            sims = np.round(mat @ q.T, 6)  # (n_corpus, n_queries), canonical dp
            for j, qid in enumerate(q_ids):
                keep = ids != qid  # exclude the self row before the cut
                cand_ids = ids[keep]
                cand_sims = sims[keep, j]
                if cand_ids.size == 0:
                    continue
                order = np.lexsort((cand_ids, -cand_sims))[: min(k, cand_ids.size)]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": cand_ids[order],
                        "cos_sim": cand_sims[order],
                    }
                )

    partial = corpus.mapInPandas(
        score, schema="query_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Train the IVF coarse quantizer with Spark MLlib KMeans (fixed seed
    → deterministic). Returns a centroid DataFrame shaped like a corpus
    (id_col, vec_col) so it plugs straight into ivf_assign / ivf_topk.

    At 100 TB you train on a sample (KMeans cost is per-point·per-center)
    and broadcast the resulting centers — which is exactly the shape this
    returns."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    feats = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, featuresCol="features").fit(feats)
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(centers, f"{id_col} INT, {vec_col} ARRAY<DOUBLE>")


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half): split each vector
# into m subvectors, learn a small k-entry codebook per subspace (KMeans
# on a sample), store each vector as m uint8 codes. Memory drops
# d·4 bytes → m bytes (32× here), which is what lets a 100 TB corpus's
# index live in RAM; queries score against codes via an
# asymmetric-distance lookup table (LUT) built per query — m·k distance
# evals per query, then each corpus code costs m table lookups (all
# row-local codegen, no Python in the scan path).
# ---------------------------------------------------------------------------
def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Per-subspace KMeans codebooks: returns m lists of k centroids of
    dim d/m. Trained on the corpus (a bounded sample at scale — same
    note as train_ivf_centroids); deterministic under the fixed seed."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    head = corpus.select(vec_col).first()
    assert head is not None and head[0] is not None, "empty corpus / NULL embedding"
    d = len(head[0])
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    sub = d // m
    books = []
    e = F.col(vec_col).cast("array<double>")
    for j in range(m):
        feats = corpus.select(
            array_to_vector(F.slice(e, j * sub + 1, sub)).alias("features")
        )
        model = KMeans(k=k, seed=seed + j, featuresCol="features").fit(feats)
        books.append(
            [[float(x) for x in c] for c in model.clusterCenters()]
        )
    return books


def _subspace_dists_sql(books: list[list[list[float]]], vec_col: str) -> list[str]:
    """SQL, one per subspace j: the squared L2 distances of the vector's
    j-th subvector to each centroid of codebook j (a literal)."""
    sub = len(books[0][0])
    e = f"CAST({sql_ident(vec_col)} AS ARRAY<DOUBLE>)"
    return [
        f"transform({double_matrix_sql(book)}, center -> aggregate(zip_with("
        f"slice({e}, {j * sub + 1}, {sub}), center, (a, b) -> (a - b) * (a - b)),"
        " 0D, (acc, t) -> acc + t))"
        for j, book in enumerate(books)
    ]


def pq_encode(
    vectors: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — per subspace, the argmin-distance
    codebook entry. Entirely row-local codegen: for each of the m
    subspaces, compute the k distances with a transform and take
    array_position of the min (first win on ties → deterministic)."""
    # the one-element array binds each subspace's distances to a lambda
    # variable, so the argmin reads them instead of computing them twice
    argmins = [
        f"get(transform(array({dists}),"
        " d -> CAST(array_position(d, array_min(d)) - 1 AS INT)), 0)"
        for dists in _subspace_dists_sql(books, vec_col)
    ]
    codes = F.expr(f"array({', '.join(argmins)})")
    return vectors.select(F.col(id_col), codes.alias("codes"))


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_top: int = 5,
    round_dp: int = 6,
    cell_col: str | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: each query builds its m×k LUT of
    subspace distances ONCE (row-local transform over the codebook
    literal), the small query side broadcasts, and every corpus code row
    is scored with m element_at lookups + a fold — no decode, no Python,
    corpus streams once. Ties broken by neighbor id.

    cell_col (optional): when both sides carry an IVF cell column, the
    scan restricts to the query's cell via an EQUI-join on it instead of
    the full-corpus stream — the IVF-PQ composition: candidate volume
    drops from |corpus| to |cell| per query while the memory story
    (codes, not vectors) is unchanged."""
    m = len(books)
    lut = F.expr(f"array({', '.join(_subspace_dists_sql(books, vec_col))})")
    q_cols = [F.col(id_col).alias("query_id"), lut.alias("lut")]
    c_cols = [F.col(id_col).alias("neighbor_id"), F.col("codes")]
    if cell_col is not None:
        q_cols.append(F.col(cell_col))
        c_cols.append(F.col(cell_col))
    q = queries.select(*q_cols)
    c = codes.select(*c_cols)
    adist = F.expr(
        f"aggregate(transform(sequence(0, {m - 1}),"
        " j -> element_at(element_at(lut, j + 1), element_at(codes, j + 1) + 1)),"
        " 0D, (acc, t) -> acc + t)"
    )
    joined = (
        c.join(F.broadcast(q), cell_col)
        if cell_col is not None
        else c.crossJoin(F.broadcast(q))
    )
    scored = (
        joined.filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(adist, round_dp).alias("approx_dist2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_top)
        .select(
            "query_id", "neighbor_id", "approx_dist2",
            F.col("rank").cast("long").alias("rank"),
        )
    )
