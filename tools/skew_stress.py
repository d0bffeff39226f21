"""Skew stress harness (round-5 verdict item 4).

Generates a deliberately skewed corpus at ~sf1 volume (one hot shingle
phrase, one mega embedding cluster, one hub co-purchase node) under
spark-warehouse/, then runs the four skew-sensitive operators with
their production guards ON vs OFF, each in its own subprocess under a
fixed wall budget. Guards must bound the worst task; unguarded runs are
expected to blow the budget (killed) or show a dominating straggler.

Usage:
  python tools/skew_stress.py gen            # write the skewed corpus
  python tools/skew_stress.py run CASE MODE  # one cell (subprocess target)
  python tools/skew_stress.py all            # full matrix -> JSON + table

Results land in tools/skew_stress_results.json (committed; summarized
in SCALE.md).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(REPO, "spark-warehouse", "skew_stress_v1")
BUDGET_SEC = 240

N_DOCS = 120_000
HOT_DOC_FRAC = 0.10           # docs sharing one identical 8-word phrase
N_VECS = 60_000
MEGA_CLUSTER = 15_000         # near-identical vectors (one LSH bucket/cell)
N_ORDERS = 150_000
N_PARTS = 15_000
HUB_ORDER_FRAC = 0.25         # orders containing the hub part
HUB_PART = N_PARTS // 2       # mid-range id: raw orientation routes ~deg^2/4 wedges through ONE join key


# ---------------------------------------------------------------------------
# Corpus generation (pyarrow, deterministic)
# ---------------------------------------------------------------------------
def gen() -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(DATA, exist_ok=True)
    rng = np.random.default_rng(42)

    # documents: 60 words each from a 30k vocab; the first 10% open with
    # the same 8-word phrase -> every shingle of that prefix has
    # document frequency = 12k (the hot-shingle mega bucket).
    vocab = np.array([f"w{i}" for i in range(30_000)])
    hot = "alpha beta gamma delta epsilon zeta eta theta"
    n_hot = int(N_DOCS * HOT_DOC_FRAC)
    texts = []
    for i in range(N_DOCS):
        words = vocab[rng.integers(0, len(vocab), 60)]
        body = " ".join(words.tolist())
        texts.append((hot + " " + body) if i < n_hot else body)
    pq.write_table(
        pa.table({"doc_id": pa.array(range(N_DOCS), pa.int64()),
                  "text": pa.array(texts)}),
        os.path.join(DATA, "documents.parquet"),
    )

    # embeddings: unit-norm 64-dim; the first MEGA_CLUSTER rows are tiny
    # perturbations of one vector (same hyperplane signs in every band,
    # same nearest cell).
    base = rng.standard_normal(64)
    base /= np.linalg.norm(base)
    vecs = rng.standard_normal((N_VECS, 64))
    vecs[:MEGA_CLUSTER] = base + 1e-4 * rng.standard_normal((MEGA_CLUSTER, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(
                [row.tolist() for row in vecs], pa.list_(pa.float64())
            ),
        }),
        os.path.join(DATA, "embeddings.parquet"),
    )

    # basket: ~4 random parts per order; HUB_ORDER_FRAC of orders also
    # contain HUB_PART -> its co-purchase degree saturates toward the
    # whole part catalog (the hub node).
    rows_o, rows_p = [], []
    for o in range(N_ORDERS):
        ps = rng.integers(1, N_PARTS, 4)
        for p in ps:
            rows_o.append(o)
            rows_p.append(int(p))
        if rng.random() < HUB_ORDER_FRAC:
            rows_o.append(o)
            rows_p.append(HUB_PART)
    pq.write_table(
        pa.table({"l_orderkey": pa.array(rows_o, pa.int64()),
                  "l_partkey": pa.array(rows_p, pa.int64())}),
        os.path.join(DATA, "basket.parquet"),
    )
    with open(os.path.join(DATA, "_COMPLETE"), "w") as f:
        f.write("ok\n")
    print(f"wrote skewed corpus to {DATA}")


# ---------------------------------------------------------------------------
# Cases: each returns a DataFrame whose noop write is the measured job.
# ---------------------------------------------------------------------------
def _spark():
    """get_spark's config with the UI ON — the REST API is how the
    harness reads per-stage max task durations."""
    import os as _os

    from pyspark.sql import SparkSession

    cpus = _os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.appName("skew-stress")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            _os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .config("spark.ui.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def case_ngram_jaccard(spark, guarded: bool):
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.operators.dedup import (
        ngram_jaccard_pairs,
        word_shingles,
    )

    docs = spark.read.parquet(os.path.join(DATA, "documents.parquet"))
    sh = (
        docs.select(
            "doc_id",
            F.explode(
                word_shingles(F.split(F.col("text"), " "), n=3)
            ).alias("s"),
        )
        .distinct()
        .select("doc_id", F.xxhash64("s").alias("s"))
    )
    return ngram_jaccard_pairs(
        sh, "doc_id", "s", threshold=0.5,
        max_doc_freq=200 if guarded else None,
    )


def case_lsh_topk(spark, guarded: bool):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.operators.dedup import (
        hyperplane_lsh_buckets,
        random_hyperplanes,
    )
    from cioos_siooc_data_transform_spark.operators.similarity import cosine_expr

    emb = spark.read.parquet(os.path.join(DATA, "embeddings.parquet"))
    hp = random_hyperplanes(32, 64, seed=42)
    buckets = hyperplane_lsh_buckets(emb, "vec_id", "embedding", hp, bands=8)
    cap = 400 if guarded else 1 << 40
    # 1000 probe queries, all inside the mega cluster (worst case).
    probe_keys = buckets.filter(F.col("vec_id") < 1000).select("bucket").distinct()
    probed = buckets.join(F.broadcast(probe_keys), "bucket")
    w = Window.partitionBy("bucket")
    guarded_b = probed.withColumn("_n", F.count(F.lit(1)).over(w)).filter(
        F.col("_n") <= cap
    )
    q = guarded_b.filter(F.col("vec_id") < 1000).select(
        F.col("vec_id").alias("query_id"), "bucket"
    )
    cand = (
        guarded_b.join(q, "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    ea = emb.filter(F.col("vec_id") < 1000).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    eb = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    scored = (
        cand.join(F.broadcast(ea), "query_id")
        .join(eb, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_expr("qv", "cv").alias("cos"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rn", F.row_number().over(w2)).filter(F.col("rn") <= 5)


def case_triangle_count(spark, guarded: bool):
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.operators.graphs import triangle_count

    li = spark.read.parquet(os.path.join(DATA, "basket.parquet"))
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "k")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    )
    return triangle_count(edges, orientation="degree" if guarded else "id")


def case_semantic_dedup(spark, guarded: bool):
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.operators.dedup import (
        random_hyperplanes,
        semantic_dedup,
    )

    emb = spark.read.parquet(os.path.join(DATA, "embeddings.parquet"))
    cent = emb.filter(F.col("vec_id") % (N_VECS // 16) == 1).limit(16)
    hp = random_hyperplanes(32, 64, seed=42)
    return semantic_dedup(
        emb, cent, hyperplanes=hp, bands=8,
        bucket_cap=400 if guarded else 1 << 40, tau=0.9,
    )


N_VECS_XL = 600_000
MEGA_CLUSTER_XL = 150_000
N_ORDERS_XL = 2_000_000
N_PARTS_XL = 200_000
HUB_ORDER_FRAC_XL = 0.25
PR_ITERS_XL = 8
PR_CKPT_EVERY = 3


def _gen_xl() -> None:
    """XL corpus for the two heaviest headline queries (round-10
    verdict item 4): >=10x the sf0.1 bench scale. 600k unit-norm 64-dim
    vectors with a 150k near-identical mega-cluster (every one lands in
    the same IVF cell AND the same hyperplane-LSH bucket per band), and
    a 2M-order basket over 200k parts whose hub part co-occurs in 25 %
    of orders — the support>=2 co-purchase graph comes out at ~5M+
    directed edges with a ~200k-degree hub."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(DATA, exist_ok=True)
    rng = np.random.default_rng(1117)

    base = rng.standard_normal(64)
    base /= np.linalg.norm(base)
    out = os.path.join(DATA, "embeddings_xl.parquet")
    writer = None
    chunk = 100_000
    for lo in range(0, N_VECS_XL, chunk):
        hi = min(lo + chunk, N_VECS_XL)
        vecs = rng.standard_normal((hi - lo, 64))
        n_mega = max(0, min(hi, MEGA_CLUSTER_XL) - lo)
        if n_mega:
            vecs[:n_mega] = base + 1e-4 * rng.standard_normal((n_mega, 64))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        tbl = pa.table({
            "vec_id": pa.array(range(lo, hi), pa.int64()),
            "embedding": pa.array(
                [row.tolist() for row in vecs], pa.list_(pa.float64())
            ),
        })
        if writer is None:
            writer = pq.ParquetWriter(out, tbl.schema)
        writer.write_table(tbl)
    if writer is not None:
        writer.close()

    rows_o, rows_p = [], []
    ps_all = rng.integers(1, N_PARTS_XL, (N_ORDERS_XL, 4))
    hub_mask = rng.random(N_ORDERS_XL) < HUB_ORDER_FRAC_XL
    hub = N_PARTS_XL // 2
    for o in range(N_ORDERS_XL):
        for p in ps_all[o]:
            rows_o.append(o)
            rows_p.append(int(p))
        if hub_mask[o]:
            rows_o.append(o)
            rows_p.append(hub)
    pq.write_table(
        pa.table({"l_orderkey": pa.array(rows_o, pa.int64()),
                  "l_partkey": pa.array(rows_p, pa.int64())}),
        os.path.join(DATA, "basket_xl.parquet"),
    )
    with open(os.path.join(DATA, "_COMPLETE_XL"), "w") as f:
        f.write("ok\n")
    print(f"wrote XL corpus to {DATA}")


def _ensure_xl() -> None:
    if not os.path.exists(os.path.join(DATA, "_COMPLETE_XL")):
        _gen_xl()


N_VECS_LOOSE = 600_000
LOOSE_CLUSTER = 5_000
LOOSE_THETA_MAX_DEG = 45.0


def _gen_loose() -> None:
    """LOOSE over-cap bucket corpus (round-12 verdict item 2): the XL
    mega-cluster is TIGHT (pairwise cos ~ 1), where star-mode recall is
    provably complete; this corpus prices the documented under-linking
    corner instead. Ids 0..LOOSE_CLUSTER-1 are a band-collision
    cluster: every member shares the SIGN of dot(v, h_k) with the base
    direction for all 32 production hyperplanes (members are
    cos(theta)*b + sin(theta)*w with w orthogonal to b AND every
    hyperplane, so the LSH signature never flips), hence ONE over-cap
    bucket per band — but theta is seeded-uniform in
    [0, LOOSE_THETA_MAX_DEG], so pairwise cosine ~= cos(t_i)cos(t_j)
    spans [0.5, 1] and only SOME pairs clear tau=0.9. The true
    drop-set is whatever the unbounded all-pairs run says; star links
    members only to the bucket-min id, whose own theta draw decides
    how much of the truth it can see."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cioos_siooc_data_transform_spark.operators.dedup import (
        random_hyperplanes,
    )

    os.makedirs(DATA, exist_ok=True)
    rng = np.random.default_rng(2027)

    hp = np.array(random_hyperplanes(32, 64, seed=42))  # production knob
    base = rng.standard_normal(64)
    base /= np.linalg.norm(base)
    # Orthonormal basis of the complement of span(hyperplanes + base):
    # null space of the 33 x 64 constraint matrix.
    constraints = np.vstack([hp, base])
    _, s, vt = np.linalg.svd(constraints, full_matrices=True)
    null_basis = vt[np.sum(s > 1e-10):]  # (64 - rank) x 64
    assert null_basis.shape[0] >= 8, "no null space left for loose noise"

    out = os.path.join(DATA, "embeddings_loose.parquet")
    writer = None
    chunk = 100_000
    theta_max = np.deg2rad(LOOSE_THETA_MAX_DEG)
    for lo in range(0, N_VECS_LOOSE, chunk):
        hi = min(lo + chunk, N_VECS_LOOSE)
        vecs = rng.standard_normal((hi - lo, 64))
        n_loose = max(0, min(hi, LOOSE_CLUSTER) - lo)
        if n_loose:
            theta = rng.uniform(0.0, theta_max, n_loose)
            coeffs = rng.standard_normal((n_loose, null_basis.shape[0]))
            w = coeffs @ null_basis
            w /= np.linalg.norm(w, axis=1, keepdims=True)
            vecs[:n_loose] = (
                np.cos(theta)[:, None] * base + np.sin(theta)[:, None] * w
            )
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        tbl = pa.table({
            "vec_id": pa.array(range(lo, hi), pa.int64()),
            "embedding": pa.array(
                [row.tolist() for row in vecs], pa.list_(pa.float64())
            ),
        })
        if writer is None:
            writer = pq.ParquetWriter(out, tbl.schema)
        writer.write_table(tbl)
    if writer is not None:
        writer.close()
    with open(os.path.join(DATA, "_COMPLETE_LOOSE"), "w") as f:
        f.write("ok\n")
    print(f"wrote LOOSE corpus to {DATA}")


def _ensure_loose() -> None:
    if not os.path.exists(os.path.join(DATA, "_COMPLETE_LOOSE")):
        _gen_loose()


#: Loose-bucket policy modes: the uncapped all-pairs TRUTH run, then
#: the production cap with drop / star / medoid. Order matters:
#: run_all runs `unbounded` FIRST so its persisted drop-set exists when
#: the capped modes compute recall against it.
#:
#: The truth run is CLUSTER-ONLY (vec_id < LOOSE_CLUSTER): uncapping
#: the FULL corpus is infeasible (with the production 4-bit bands,
#: 600k vectors land ~2.3k per composite bucket, so "unbounded" means
#: ~45G mostly-noise pairs — the first attempt was killed at 420 s),
#: and it is also unnecessary: 64-dim random unit vectors pairwise
#: cosine is ~N(0, 1/64), so tau=0.9 sits 7.2 sigma out and no noise
#: vector can form a true pair with anything. The full-corpus truth
#: drop-set restricted to cluster ids therefore equals the
#: cluster-only truth drop-set (noise ids are all larger than cluster
#: ids, so they never steal keeper slots either), and 5k members is
#: 12.5M distinct pairs — a ~1-minute exact-cosine job.
SEMDD_LOOSE_MODES = ("unbounded", "drop", "star", "medoid", "refine")


def case_semantic_dedup_loose_knob(spark, label: str):
    """semantic_dedup over the LOOSE over-cap corpus with the
    production cap400/hp32 knob: 'drop' excludes over-cap buckets,
    'star' pairs members to the bucket min only, 'medoid' pairs them
    to the most-cell-central member, 'unbounded' removes the cap on
    the CLUSTER-ONLY sub-corpus (ground truth; see SEMDD_LOOSE_MODES).
    run_one computes drop-set recall vs the unbounded truth after the
    timed write."""
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.operators.dedup import (
        random_hyperplanes,
        semantic_dedup,
    )

    if label not in SEMDD_LOOSE_MODES:
        raise ValueError(f"unknown loose mode {label!r}")
    _ensure_loose()
    emb = spark.read.parquet(
        os.path.join(DATA, "embeddings_loose.parquet")
    ).repartition(64)
    # centroids come from the FULL corpus in every mode so the truth
    # run prices the same cell assignment the capped modes see
    cent = emb.filter(F.col("vec_id") % (N_VECS_LOOSE // 16) == 1).limit(16)
    if label == "unbounded":
        emb = emb.filter(F.col("vec_id") < LOOSE_CLUSTER)
    hp = random_hyperplanes(32, 64, seed=42)
    return semantic_dedup(
        emb, cent, hyperplanes=hp, bands=8,
        bucket_cap=1 << 40 if label == "unbounded" else 400,
        tau=0.9,
        overcap=label if label in ("star", "medoid", "refine") else "drop",
    )


#: RARE-over-cap variant (production shape): 60k-vector slice of the
#: loose corpus (the 5k cluster + 55k noise). Per band the bucket space
#: is 16 cells x 16 values = 256 keys, so noise sits ~230/bucket —
#: UNDER the 400 cap — and only the cluster's buckets are over-cap.
#: This is the regime the overcap policies are designed for (the
#: 600k corpus floods EVERY bucket over-cap, where the honest answer
#: is re-provisioning the bucket space, and where "refine" re-admits
#: ~n*cap/2 under-cap pairs whose embedding-array confirm join is a
#: hundreds-of-GB shuffle — measured killed at 1800 s).
SEMDD_RARE_MODES = ("unbounded", "drop", "star", "medoid", "refine")
N_VECS_RARE = 60_000


def case_semantic_dedup_rare_knob(spark, label: str):
    """semantic_dedup over the RARE-over-cap corpus (see
    SEMDD_RARE_MODES): same cluster, 1/10th the noise, so the guard
    flags ONLY the cluster's buckets and every policy prices just the
    flagged structure. 'unbounded' is the cluster-only ground truth
    with the same centroids (noise cannot reach tau — 7 sigma)."""
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.operators.dedup import (
        random_hyperplanes,
        semantic_dedup,
    )

    if label not in SEMDD_RARE_MODES:
        raise ValueError(f"unknown rare mode {label!r}")
    _ensure_loose()
    emb = (
        spark.read.parquet(os.path.join(DATA, "embeddings_loose.parquet"))
        .filter(F.col("vec_id") < N_VECS_RARE)
        .repartition(32)
    )
    cent = emb.filter(F.col("vec_id") % (N_VECS_RARE // 16) == 1).limit(16)
    if label == "unbounded":
        emb = emb.filter(F.col("vec_id") < LOOSE_CLUSTER)
    hp = random_hyperplanes(32, 64, seed=42)
    return semantic_dedup(
        emb, cent, hyperplanes=hp, bands=8,
        bucket_cap=1 << 40 if label == "unbounded" else 400,
        tau=0.9,
        overcap=label if label in ("star", "medoid", "refine") else "drop",
    )


def case_semantic_dedup_xl(spark, guarded: bool):
    """dedup_semantic_clusters at >=10x bench scale (600k vectors,
    150k-vector mega-cluster — every mega vector shares one IVF cell
    and one LSH bucket per band). guarded = the production bucket cap;
    unguarded = no cap, so the mega bucket alone generates
    ~150k^2/2 = 11G candidate pairs and the run is expected to blow
    the budget."""
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.operators.dedup import (
        random_hyperplanes,
        semantic_dedup,
    )

    _ensure_xl()
    # single-file parquet reads as a handful of splits; spread the
    # corpus so the broadcast-K assignment pass measures the operator,
    # not a 3-task scan (the geo_grid precedent)
    emb = spark.read.parquet(
        os.path.join(DATA, "embeddings_xl.parquet")
    ).repartition(64)
    cent = emb.filter(F.col("vec_id") % (N_VECS_XL // 16) == 1).limit(16)
    hp = random_hyperplanes(32, 64, seed=42)
    return semantic_dedup(
        emb, cent, hyperplanes=hp, bands=8,
        bucket_cap=400 if guarded else 1 << 40, tau=0.9,
    )


def _pagerank_xl_loop(spark, variant: str):
    """Shared PageRank-XL loop with three lineage idioms:

    - "none":    no checkpoint anywhere — one DAG carries every
      iteration's full derivation subtree (exchange reuse dedupes the
      recomputation at runtime, but plan size and recovery depth grow
      with the iteration count).
    - "full":    the original guarded idiom — directed edge set AND
      degree table localCheckpoint'd (materializes the 2x post-union
      50M-row edge set; measured +28 % wall at XL in round 11).
    - "cadence": the adaptive idiom (round-11 verdict item 7) — only
      the HALF-SIZE undirected pair set is checkpointed (the expensive
      self-join+groupBy derivation is what recovery must never replay),
      edges/degrees re-derive from it as narrow ops, and the small
      score table (one row per node) localCheckpoints every
      PR_CKPT_EVERY-th iteration so plan size stays O(cadence) instead
      of O(iterations). All checkpoints lazy: one DAG in every variant.
    - "und": checkpoint ONLY the undirected pair set — the recovery
      bound on the expensive derivation at the cost of one half-size
      materialization, with the whole loop still one plan (per-
      iteration edge exchanges dedupe via exchange reuse, which the
      cadence variant's plan segmentation defeats — measured round 12:
      cadence 72.0 s vs unguarded 42.6 s).
    """
    from pyspark.sql import functions as F

    _ensure_xl()
    li = spark.read.parquet(os.path.join(DATA, "basket_xl.parquet"))
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    und = (
        a.join(b, "k")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 1)
        .select("pa", "pb")
    )
    if variant in ("cadence", "und"):
        und = und.localCheckpoint(eager=False)
    elif variant == "und_eager":
        # Eager: materialize the derivation ONCE before the loop (the
        # GraphX idiom). A lazy checkpoint here measured 86.7 s vs this
        # variant — with AQE, the edge and degree stages launch
        # concurrently and BOTH compute the not-yet-materialized RDD.
        und = und.localCheckpoint(eager=True)
    edges = und.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionByName(und.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    if variant == "full":
        edges = edges.localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("outdeg")
    )
    if variant == "full":
        deg = deg.localCheckpoint(eager=False)
    unit = 10**12
    # fixed node-count constant (no eager count: every variant must
    # build ONE lazy DAG so the lineage idiom is the only difference)
    init = unit // N_PARTS_XL
    teleport = (15 * init) // 100
    score = deg.select(F.col("src").alias("node"), F.lit(init).alias("score"))
    deg_r = deg.select(F.col("src").alias("dnode"), "outdeg")
    edges_r = edges.select(F.col("src").alias("esrc"), F.col("dst").alias("edst"))
    for i in range(PR_ITERS_XL):
        contrib = (
            score.join(deg_r, score["node"] == deg_r["dnode"])
            .join(edges_r, score["node"] == edges_r["esrc"])
            .select(
                F.col("edst").alias("node"),
                F.expr("score DIV outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("incoming"))
        )
        score = (
            deg.select(F.col("src").alias("node"))
            .join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr("85 * coalesce(incoming, 0) DIV 100")
                ).alias("score"),
            )
        )
        if (
            variant == "cadence"
            and (i + 1) % PR_CKPT_EVERY == 0
            and (i + 1) < PR_ITERS_XL
        ):
            score = score.localCheckpoint(eager=False)
    return score


# Round-11 verdict item 3 — the XL pair-count lever, priced by recall.
# Each config runs via `run semantic_dedup_xl_knob LABEL`; the harness
# records wall + worst task AND re-executes the plan once more for
# (rows, mega-cluster recall): recall = dropped mega vectors /
# (MEGA_CLUSTER_XL - 1), the ideal drop set for the near-identical
# 150k-vector cluster (random 64-dim vectors never reach tau=0.9, so
# drops are mega-only). bands stays 8; hp is TOTAL hyperplanes, so
# hp32 = 4 bits/band (production), hp64 = 8 bits/band (16x smaller
# buckets per band); overcap per operators/dedup.py::semantic_dedup.
SEMDD_KNOBS = {
    "cap400_hp32_drop": {"cap": 400, "hp": 32, "overcap": "drop"},  # production baseline
    "cap200_hp32_drop": {"cap": 200, "hp": 32, "overcap": "drop"},  # tighter cap
    "cap400_hp64_drop": {"cap": 400, "hp": 64, "overcap": "drop"},  # more bits/band
    "cap400_hp32_star": {"cap": 400, "hp": 32, "overcap": "star"},  # star fallback
    "cap400_hp64_star": {"cap": 400, "hp": 64, "overcap": "star"},  # bits + star combo
    "cap400_hp32_medoid": {"cap": 400, "hp": 32, "overcap": "medoid"},  # r13 mean-hub
    "cap400_hp32_refine": {"cap": 400, "hp": 32, "overcap": "refine"},  # r13 re-bucket
}


def case_semantic_dedup_xl_knob(spark, label: str):
    """semantic_dedup_xl with one SEMDD_KNOBS config (the pair-count
    lever): tighter caps shrink the per-bucket all-pairs join, more
    bits per band shrink the buckets themselves, and overcap="star"
    keeps over-cap buckets linked at O(n) instead of dropping them."""
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.operators.dedup import (
        random_hyperplanes,
        semantic_dedup,
    )

    cfg = SEMDD_KNOBS[label]
    _ensure_xl()
    emb = spark.read.parquet(
        os.path.join(DATA, "embeddings_xl.parquet")
    ).repartition(64)
    cent = emb.filter(F.col("vec_id") % (N_VECS_XL // 16) == 1).limit(16)
    hp = random_hyperplanes(cfg["hp"], 64, seed=42)
    return semantic_dedup(
        emb, cent, hyperplanes=hp, bands=8,
        bucket_cap=cfg["cap"], tau=0.9, overcap=cfg["overcap"],
    )


N_DOCS_XL = 300_000
MEGA_DOCS_XL = 30_000


def _gen_xl_docs() -> None:
    """XL document corpus for the cross-snapshot case (round-12 verdict
    item 7): ~2.5x the base stress corpus and >=10x bench sf0.1's
    documents table, with a 30k-doc NEAR-IDENTICAL mega-group (each
    member is one fixed 60-word base text with 2 random word
    substitutions, so pairwise 3-shingle Jaccard ~ 0.66 >= the 0.5
    threshold and most members share full minhash bands -> one mega
    bucket per band). Unguarded, the NEW x PRIOR bucket join inside the
    mega buckets is ~(24k x 6k) candidate pairs before distinct, each
    paying an exact-Jaccard confirm over ~58-shingle sets; the cap-50
    guard drops the mega buckets and bounds the join."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(DATA, exist_ok=True)
    rng = np.random.default_rng(777)
    vocab = np.array([f"w{i}" for i in range(30_000)])
    base_words = vocab[rng.integers(0, len(vocab), 60)]
    out = os.path.join(DATA, "documents_xl.parquet")
    writer = None
    chunk = 50_000
    for lo in range(0, N_DOCS_XL, chunk):
        hi = min(lo + chunk, N_DOCS_XL)
        texts = []
        for i in range(lo, hi):
            if i < MEGA_DOCS_XL:
                words = base_words.copy()
                pos = rng.integers(0, 60, 2)
                words[pos] = vocab[rng.integers(0, len(vocab), 2)]
            else:
                words = vocab[rng.integers(0, len(vocab), 60)]
            texts.append(" ".join(words.tolist()))
        tbl = pa.table({
            "doc_id": pa.array(range(lo, hi), pa.int64()),
            "text": pa.array(texts),
        })
        if writer is None:
            writer = pq.ParquetWriter(out, tbl.schema)
        writer.write_table(tbl)
    if writer is not None:
        writer.close()
    with open(os.path.join(DATA, "_COMPLETE_XL_DOCS"), "w") as f:
        f.write("ok\n")
    print(f"wrote XL documents corpus to {DATA}")


def _ensure_xl_docs() -> None:
    if not os.path.exists(os.path.join(DATA, "_COMPLETE_XL_DOCS")):
        _gen_xl_docs()


def case_cross_snapshot_xl(spark, guarded: bool):
    """dedup_cross_snapshot's exact plan shape at XL scale: digest
    membership (uniform-key equi-join, never the problem) + the
    two-sided NEW x PRIOR LSH near-dup layer with the shared mega-bucket
    guard (cap 50) ON vs OFF. Mirrors the registered query's body
    (plans/dedup_queries.py::dedup_cross_snapshot) over the XL corpus:
    md5 minhash family, 8 hashes / 4 bands, Jaccard >= 0.5 confirm over
    candidates only."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.operators.dedup import (
        jaccard_for_pairs,
        lsh_band_buckets,
        minhash_signature,
        word_shingles,
    )

    _ensure_xl_docs()
    docs = spark.read.parquet(os.path.join(DATA, "documents_xl.parquet"))
    is_prior = F.col("doc_id") % 5 == 0
    shingles = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(F.split(F.col("text"), " "), 3))
        ).alias("s"),
    ).distinct()
    sig = minhash_signature(shingles, "doc_id", "s", num_hashes=8, hash_family="md5")
    buckets = lsh_band_buckets(sig, "doc_id", num_hashes=8, bands=4)
    cap = 50 if guarded else 1 << 40
    w = Window.partitionBy("bucket")
    guarded_b = buckets.withColumn("_n", F.count(F.lit(1)).over(w)).filter(
        F.col("_n") <= cap
    )
    new_b = guarded_b.filter(F.col("doc_id") % 5 != 0).select(
        F.col("doc_id").alias("doc_a"), "bucket"
    )
    prior_b = guarded_b.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("doc_b"), "bucket"
    )
    cand = new_b.join(prior_b, "bucket").select("doc_a", "doc_b").distinct()
    near = (
        jaccard_for_pairs(cand, shingles, "doc_id", "s")
        .filter(F.col("jaccard") >= 0.5)
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("_near", F.lit(1))
    )
    prior_dig = (
        docs.filter(is_prior).select(F.md5("text").alias("digest")).distinct()
        .withColumn("_exact", F.lit(1))
    )
    new_docs = docs.filter(~is_prior).select(
        "doc_id", F.md5("text").alias("digest")
    )
    return (
        new_docs.join(prior_dig, "digest", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.col("_exact").isNotNull().alias("exact_dup"),
            F.col("_near").isNotNull().alias("near_dup"),
            (F.col("_exact").isNull() & F.col("_near").isNull()).alias("keep"),
        )
    )


def case_pagerank_xl(spark, guarded: bool):
    """graph_pagerank_iterations' loop at >=10x bench scale: the
    co-occurrence graph of a 2M-order basket over 200k parts. The
    registered query's support>=2 cut would leave random baskets with
    almost no surviving pairs, so this case keeps support>=1 —
    ~25M directed edges, with the hub part co-occurring with
    essentially the whole catalog (degree ~200k). Same integer-exact
    update as the registered query. guarded = the ORIGINAL lineage
    idiom (edge set + degree table localCheckpoint'd once); unguarded =
    no checkpoint (exchange reuse dedupes re-derivation within the one
    action, but plan size/recovery depth grow with iterations)."""
    return _pagerank_xl_loop(spark, "full" if guarded else "none")


def case_pagerank_xl_cadence(spark, guarded: bool):
    """Round-11 verdict item 7 — the ADAPTIVE checkpoint cadence:
    guarded = checkpoint the half-size undirected pair set (the
    expensive derivation) + the small score table every
    PR_CKPT_EVERY-th iteration, instead of materializing the full
    post-union edge set + degree table; unguarded = the same
    no-checkpoint baseline as case_pagerank_xl, re-measured in THIS
    session so the guarded/unguarded ratio is host-condition-clean."""
    return _pagerank_xl_loop(spark, "cadence" if guarded else "none")


def case_pagerank_xl_undonly(spark, guarded: bool):
    """Lazy und-only checkpoint (round 12, measured and REJECTED —
    86.7 s vs the same-session 37.9 s baseline: concurrent AQE stages
    each compute the unmaterialized checkpoint RDD): guarded =
    checkpoint only the half-size undirected pair set, lazily;
    unguarded = no-checkpoint baseline re-measured in the same
    session."""
    return _pagerank_xl_loop(spark, "und" if guarded else "none")


def case_pagerank_xl_und_eager(spark, guarded: bool):
    """EAGER und-only checkpoint: materialize the expensive derivation
    once before the loop, keep the loop itself one plan; unguarded =
    no-checkpoint baseline re-measured in the same session."""
    return _pagerank_xl_loop(spark, "und_eager" if guarded else "none")


N_POLYGONS = 40_000
N_POINTS = 500_000


def _gen_geo() -> None:
    """Synthetic polygon catalog + point set for the grid-path case
    (round-6 verdict item 6: the grid equi-join is threshold-gated but
    was benched only at 51 polygons). N_POLYGONS random rectangles (as
    5-point rings, so the ray cast runs the real code path) over
    a [-180,180]x[-60,60] world, 500k points."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(DATA, exist_ok=True)
    rng = np.random.default_rng(7)
    x0 = rng.uniform(-180.0, 178.0, N_POLYGONS)
    y0 = rng.uniform(-60.0, 58.0, N_POLYGONS)
    w = rng.uniform(0.2, 2.0, N_POLYGONS)
    h = rng.uniform(0.2, 2.0, N_POLYGONS)
    # 5-vertex rectangle rings, as read_geojson_polygons emits them
    xs = [[a, a + dw, a + dw, a, a] for a, dw in zip(x0.tolist(), w.tolist())]
    ys = [[b, b, b + dh, b + dh, b] for b, dh in zip(y0.tolist(), h.tolist())]
    pq.write_table(
        pa.table(
            {
                "feature_idx": pa.array(range(N_POLYGONS), pa.int32()),
                "name": [f"area-{i}" for i in range(N_POLYGONS)],
                "xs": pa.array(xs, pa.list_(pa.float64())),
                "ys": pa.array(ys, pa.list_(pa.float64())),
                "bbox_min_lon": x0,
                "bbox_max_lon": x0 + w,
                "bbox_min_lat": y0,
                "bbox_max_lat": y0 + h,
            }
        ),
        os.path.join(DATA, "geo_polygons.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "file_id": pa.array(range(N_POINTS), pa.int64()),
                "longitude": rng.uniform(-180.0, 180.0, N_POINTS),
                "latitude": rng.uniform(-60.0, 60.0, N_POINTS),
            }
        ),
        os.path.join(DATA, "geo_points.parquet"),
    )


def case_geo_grid(spark, guarded: bool):
    """guarded = grid-cell equi-join candidates (num_polygons passed,
    N_POLYGONS > threshold); unguarded = the small-catalog default, a
    broadcast bbox nested-loop scan of all N_POLYGONS polygons per
    point."""
    from cioos_siooc_data_transform_spark.sources.geojson_source import (
        assign_geo_code,
    )

    if not os.path.exists(os.path.join(DATA, "geo_points.parquet")):
        _gen_geo()
    # single-file parquet reads as ONE split; spread the points so both
    # strategies measure the join, not a one-task scan
    points = spark.read.parquet(
        os.path.join(DATA, "geo_points.parquet")
    ).repartition(32)
    polygons = spark.read.parquet(os.path.join(DATA, "geo_polygons.parquet"))
    return assign_geo_code(
        points,
        polygons,
        num_polygons=N_POLYGONS if guarded else None,
    )


N_RANK_ROWS = 20_000_000
RANK_HOT_FRAC = 0.90


def case_ranked_cumsum(spark, guarded: bool):
    """Peaked global ranking (round-7 verdict item 7): 90 % of 20M rows
    share ONE value, so value-range bucketing puts 18M rows in a single
    window task no matter what n_buckets is (equal values must share a
    bucket for the offsets to stay exact — the degradation the operator
    docstring admits). guarded = ranked_cumsum_range_shuffle (composite-
    key range partitioning splits the hot value by tie_col); unguarded =
    ranked_cumsum_two_pass. Data generated in-flight (spark.range,
    deterministic) — no corpus file needed."""
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_range_shuffle,
        ranked_cumsum_two_pass,
    )

    n_hot = int(N_RANK_ROWS * RANK_HOT_FRAC)
    df = spark.range(N_RANK_ROWS).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < n_hot, F.lit(5_000_000))
        .otherwise((F.col("id") * 2654435761 % 1_000_000).cast("long"))
        .alias("v"),
    )
    if guarded:
        return ranked_cumsum_range_shuffle(df, "v", "k", num_partitions=64)
    return ranked_cumsum_two_pass(df, "v", "k")


def case_grouped_rank(spark, guarded: bool):
    """Hot-GROUP grouped ranking (the round-9 grouped-quantile family:
    supplier_balance_quartiles_by_nation, lineitem_shipmode_delay_
    quantiles): one group holds 90 % of 20M rows. guarded = the grouped
    mode of ranked_cumsum_two_pass (the hot group splits across ~512
    (group, value-bucket) windows); unguarded = the plain grouped
    row_number window (the whole hot group sorts in ONE task)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    n_hot = int(N_RANK_ROWS * RANK_HOT_FRAC)
    df = spark.range(N_RANK_ROWS).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < n_hot, F.lit(0))
        .otherwise((F.col("id") % 24 + 1))
        .cast("long")
        .alias("g"),
        ((F.col("id") * 2654435761) % 1_000_000).cast("long").alias("v"),
    )
    if guarded:
        return ranked_cumsum_two_pass(
            df, "v", "k", group_cols=["g"], ascending=True
        )
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("k").asc())
    return df.select(
        "g", "v", F.row_number().over(w).cast("long").alias("rnk")
    )


def case_running_extreme(spark, guarded: bool):
    """Global running max over 20M unique keys (the round-9
    late_data_accounting / skyline shape). guarded =
    running_extreme_two_pass (range-bucketed, ~512 bounded windows);
    unguarded = the plain unpartitioned running-max window (ONE task
    sorts and scans everything)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.operators.windows import (
        running_extreme_two_pass,
    )

    df = spark.range(N_RANK_ROWS).select(
        F.col("id").alias("k"),
        ((F.col("id") * 2654435761) % 1_000_000_000).cast("double").alias("x"),
    )
    if guarded:
        return running_extreme_two_pass(
            df, "k", "k", "x", out_col="hwm", agg="max", inclusive=False
        )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    return df.select("k", F.max("x").over(w).alias("hwm"))


def case_km_risk_set(spark, guarded: bool):
    """Kaplan–Meier risk-set build over CONTINUOUS durations (the
    round-10 orders_kaplan_meier shape pushed past its bounded-axis
    assumption): 20M subjects with ~20M distinct micro-second
    durations, so the event-time table scales with |rows| and the
    running leave-count decides the plan. guarded = the weighted
    running count from ranked_cumsum_two_pass (range-bucketed, ~512
    bounded windows); unguarded = the plain ORDER BY t cumulative
    window (ONE task sorts and scans every distinct duration)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    dur = spark.range(N_RANK_ROWS).select(
        ((F.col("id") * 2654435761) % 900_000_000_000).cast("long").alias("t"),
        (F.col("id") % 10 != 0).cast("long").alias("ev"),
    )
    ev_t = dur.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("leave_all"),
    )
    if guarded:
        r = ranked_cumsum_two_pass(
            ev_t, "t", "t", weight_col="leave_all", ascending=True,
            out_rank="__rn", out_cum="cum_leave",
        )
        return r.select(
            "t", "d", (F.col("cum_leave") - F.col("leave_all")).alias("left_before")
        )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    return ev_t.select(
        "t",
        "d",
        F.coalesce(F.sum("leave_all").over(w).cast("long"), F.lit(0)).alias(
            "left_before"
        ),
    )


CASES = {
    "ngram_jaccard": case_ngram_jaccard,
    "lsh_topk": case_lsh_topk,
    "triangle_count": case_triangle_count,
    "semantic_dedup": case_semantic_dedup,
    "geo_grid": case_geo_grid,
    "ranked_cumsum": case_ranked_cumsum,
    "grouped_rank": case_grouped_rank,
    "running_extreme": case_running_extreme,
    "km_risk_set": case_km_risk_set,
    "semantic_dedup_xl": case_semantic_dedup_xl,
    "pagerank_xl": case_pagerank_xl,
    "pagerank_xl_cadence": case_pagerank_xl_cadence,
    "pagerank_xl_undonly": case_pagerank_xl_undonly,
    "pagerank_xl_und_eager": case_pagerank_xl_und_eager,
    "semantic_dedup_xl_knob": case_semantic_dedup_xl_knob,
    "semantic_dedup_loose_knob": case_semantic_dedup_loose_knob,
    "semantic_dedup_rare_knob": case_semantic_dedup_rare_knob,
    "cross_snapshot_xl": case_cross_snapshot_xl,
}

# The knob cases re-execute their plan for the recall accounting on top
# of the timed noop write, so they need more than the kill budget that
# bounds the unguarded blow-up runs.
CASE_BUDGET = {
    "semantic_dedup_xl_knob": 420,
    "semantic_dedup_loose_knob": 420,
    "semantic_dedup_rare_knob": 420,
    "cross_snapshot_xl": 300,
}


def _max_task_ms(spark) -> float | None:
    """Max completed-task duration across all stages, via the UI REST
    API (local mode, default port)."""
    try:
        ui = spark.sparkContext.uiWebUrl
        if not ui:
            return None
        apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications", timeout=10))
        app_id = apps[0]["id"]
        stages = json.load(
            urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app_id}/stages?status=complete",
                timeout=10,
            )
        )
        worst = 0.0
        for st in stages:
            sid, att = st["stageId"], st["attemptId"]
            try:
                summ = json.load(
                    urllib.request.urlopen(
                        f"{ui}/api/v1/applications/{app_id}/stages/{sid}/{att}"
                        "/taskSummary?quantiles=1.0",
                        timeout=10,
                    )
                )
                worst = max(worst, float(summ["duration"][0]))
            except Exception:
                continue
        return worst
    except Exception:
        return None


def run_one(case: str, mode: str) -> None:
    if case == "semantic_dedup_xl_knob" and mode not in SEMDD_KNOBS:
        sys.exit(
            f"unknown knob label {mode!r}; one of {sorted(SEMDD_KNOBS)}"
        )
    if case == "semantic_dedup_loose_knob" and mode not in SEMDD_LOOSE_MODES:
        sys.exit(
            f"unknown loose mode {mode!r}; one of {sorted(SEMDD_LOOSE_MODES)}"
        )
    if case == "semantic_dedup_rare_knob" and mode not in SEMDD_RARE_MODES:
        sys.exit(
            f"unknown rare mode {mode!r}; one of {sorted(SEMDD_RARE_MODES)}"
        )
    if case not in CASES and case not in (
        "semantic_dedup_xl_knob", "semantic_dedup_loose_knob",
        "semantic_dedup_rare_knob",
    ):
        sys.exit(f"unknown case {case!r}; one of {sorted(CASES)}")
    spark = _spark()
    t0 = time.time()
    if case == "semantic_dedup_xl_knob":
        df = case_semantic_dedup_xl_knob(spark, mode)
    elif case == "semantic_dedup_loose_knob":
        df = case_semantic_dedup_loose_knob(spark, mode)
    elif case == "semantic_dedup_rare_knob":
        df = case_semantic_dedup_rare_knob(spark, mode)
    else:
        df = CASES[case](spark, mode == "guarded")
    df.write.format("noop").mode("overwrite").save()
    wall = round(time.time() - t0, 2)
    out = {
        "case": case,
        "mode": mode,
        "wall_sec": wall,
        "max_task_ms": _max_task_ms(spark),
        "rows": None,
    }
    if case == "semantic_dedup_xl_knob":
        from pyspark.sql import functions as F

        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("dropped_id") < MEGA_CLUSTER_XL, 1).otherwise(0)
            ).alias("mega"),
        ).collect()[0]
        mega = int(r["mega"] or 0)
        out["rows"] = int(r["n"])
        out["mega_dropped"] = mega
        out["mega_recall"] = round(mega / (MEGA_CLUSTER_XL - 1), 4)
    elif case in ("semantic_dedup_loose_knob", "semantic_dedup_rare_knob"):
        from pyspark.sql import functions as F

        # Unlike the XL mega-cluster (tight: the ideal drop set is known
        # analytically), the loose cluster's true drop set depends on
        # each member's theta draw — so the TRUTH is the persisted
        # unbounded run's drop-set, and recall for the capped modes is
        # measured against it. Persist once, count from the parquet (no
        # plan re-execution per metric). The loose and rare cases keep
        # separate truth files: their centroids (hence cells, hence
        # candidate structure) differ.
        tag = "loose" if case == "semantic_dedup_loose_knob" else "rare"
        path = os.path.join(DATA, f"{tag}_dropset_{mode}.parquet")
        df.select("dropped_id").write.mode("overwrite").parquet(path)
        dropped = spark.read.parquet(path)
        out["rows"] = dropped.count()
        loose = dropped.filter(F.col("dropped_id") < LOOSE_CLUSTER)
        out["loose_dropped"] = loose.count()
        truth_path = os.path.join(DATA, f"{tag}_dropset_unbounded.parquet")
        if mode == "unbounded":
            out["loose_recall"] = 1.0
        elif os.path.exists(truth_path):
            truth = spark.read.parquet(truth_path).filter(
                F.col("dropped_id") < LOOSE_CLUSTER
            )
            denom = truth.count()
            hits = truth.join(loose, "dropped_id", "left_semi").count()
            out["loose_truth"] = denom
            out["loose_recall"] = (
                round(hits / denom, 4) if denom else None
            )
        else:
            out["loose_recall"] = None  # truth run missing
    print("RESULT " + json.dumps(out))
    spark.stop()


def run_all(only: list[str] | None = None) -> None:
    """Run the matrix. With `only`, run just those cases and MERGE
    into the existing results file (keeping other cases' rows)."""
    if not os.path.exists(os.path.join(DATA, "_COMPLETE")):
        gen()
    out_path = os.path.join(REPO, "tools", "skew_stress_results.json")
    results = []
    if only:
        try:
            with open(out_path) as f:
                results = [
                    r for r in json.load(f).get("results", [])
                    if r.get("case") not in only
                ]
        except (OSError, ValueError):
            results = []
    for case in only if only else CASES:
        if case == "semantic_dedup_xl_knob":
            modes = tuple(SEMDD_KNOBS)
        elif case == "semantic_dedup_loose_knob":
            modes = SEMDD_LOOSE_MODES
        elif case == "semantic_dedup_rare_knob":
            modes = SEMDD_RARE_MODES
        else:
            modes = ("guarded", "unguarded")
        budget = CASE_BUDGET.get(case, BUDGET_SEC)
        for mode in modes:
            cmd = [sys.executable, os.path.abspath(__file__), "run", case, mode]
            t0 = time.time()
            try:
                proc = subprocess.run(
                    cmd, capture_output=True, text=True, timeout=budget,
                    cwd=REPO,
                )
                line = next(
                    (l for l in proc.stdout.splitlines() if l.startswith("RESULT ")),
                    None,
                )
                if line:
                    results.append(json.loads(line[len("RESULT "):]))
                else:
                    results.append({
                        "case": case, "mode": mode,
                        "error": (proc.stderr or "no RESULT line")[-500:],
                        "wall_sec": round(time.time() - t0, 2),
                    })
            except subprocess.TimeoutExpired:
                results.append({
                    "case": case, "mode": mode,
                    "killed_at_sec": budget,
                })
            print(json.dumps(results[-1]))
    with open(out_path, "w") as f:
        json.dump(
            {"budget_sec": BUDGET_SEC, "corpus": {
                "n_docs": N_DOCS, "hot_doc_frac": HOT_DOC_FRAC,
                "n_vecs": N_VECS, "mega_cluster": MEGA_CLUSTER,
                "n_orders": N_ORDERS, "n_parts": N_PARTS,
                "hub_order_frac": HUB_ORDER_FRAC,
            }, "corpus_xl": {
                "n_vecs_xl": N_VECS_XL, "mega_cluster_xl": MEGA_CLUSTER_XL,
                "n_orders_xl": N_ORDERS_XL, "n_parts_xl": N_PARTS_XL,
                "hub_order_frac_xl": HUB_ORDER_FRAC_XL,
                "pr_iters_xl": PR_ITERS_XL,
            }, "results": results},
            f, indent=1,
        )
    print("wrote tools/skew_stress_results.json")


if __name__ == "__main__":
    if len(sys.argv) >= 2 and sys.argv[1] == "gen":
        gen()
    elif len(sys.argv) >= 4 and sys.argv[1] == "run":
        run_one(sys.argv[2], sys.argv[3])
    elif len(sys.argv) >= 2 and sys.argv[1] == "all":
        run_all(sys.argv[2:] or None)
    else:
        run_all()
