"""Semantics tests for the round-4 wave-5 operators: SemDeDup-style
semantic dedup (keeper rule, cell conjunction), LSH bucket-probe ANN
(planted-duplicate recall at the operator level), and the JL random
projection (engine-exact integer arithmetic vs a numpy reference).

The synthetic testdata plants only moderate-similarity embedding pairs
(max rounded cosine ~0.51 at sf0.01), so recall guarantees are tested on
PLANTED vectors here — identical vectors must agree on every hyperplane
sign bit and on their nearest cell, which is what makes exact/near-exact
duplicate recall a structural property rather than a statistical one.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_CORRECTNESS


def _queries():
    from cioos_siooc_data_transform_spark.plans import all_queries

    return all_queries()


def test_semantic_dedup_invariants_at_correctness_sf(spark):
    """At sf0.01 the (cell AND band-bucket) blocking yields a nonzero
    dropped set; every dropped vector's keeper must be a strictly
    smaller id in the SAME cell (greedy min-id survivorship)."""
    from cioos_siooc_data_transform_spark.operators.similarity import ivf_assign
    from cioos_siooc_data_transform_spark.session import read_table

    out = _queries()["dedup_semantic_clusters"](spark, SF_DIR_CORRECTNESS)
    rows = out.collect()
    assert rows, "sf0.01 plants moderate-sim same-cell pairs"
    emb = read_table(spark, SF_DIR_CORRECTNESS, "embeddings")
    wanted = {r.dropped_id for r in rows} | {r.keeper_id for r in rows}
    cells = {
        r.vec_id: r.centroid_id
        for r in ivf_assign(emb, emb.filter(F.col("vec_id") < 16))
        .filter(F.col("vec_id").isin(list(wanted)))
        .select("vec_id", "centroid_id")
        .collect()
    }
    for r in rows:
        assert r.keeper_id < r.dropped_id
        assert r.n_partners >= 1
        assert cells[r.dropped_id] == cells[r.keeper_id] == r.cell_id


def _planted_corpus(spark):
    """100 deterministic pseudo-random 64-dim vectors plus two exact
    duplicates of vector 0 (ids 100, 101)."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = [[float(round(v, 4)) for v in row] for row in rng.standard_normal((100, 64))]
    vecs = base + [base[0], base[0]]
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )


def test_identical_vectors_collide_in_every_band_and_cell(spark):
    """Identical vectors produce identical hyperplane sign bits (all 8
    band buckets equal) and the same nearest cell — so exact duplicates
    can never escape the semantic-dedup or LSH-probe blocking."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        hyperplane_lsh_buckets,
        lsh_candidate_pairs,
    )
    from cioos_siooc_data_transform_spark.operators.similarity import ivf_assign
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        _EMB_BANDS,
        _EMB_HP,
    )

    corpus = _planted_corpus(spark)
    buckets = hyperplane_lsh_buckets(corpus, "vec_id", "embedding", _EMB_HP, _EMB_BANDS)
    b0 = {r.bucket for r in buckets.filter(F.col("vec_id") == 0).collect()}
    b100 = {r.bucket for r in buckets.filter(F.col("vec_id") == 100).collect()}
    assert b0 == b100 and len(b0) == _EMB_BANDS

    cand = lsh_candidate_pairs(buckets, "vec_id", max_bucket_size=400)
    pairs = {(r.doc_a, r.doc_b) for r in cand.collect()}
    assert (0, 100) in pairs and (0, 101) in pairs and (100, 101) in pairs

    cells = ivf_assign(corpus, corpus.filter(F.col("vec_id") < 16))
    cmap = {r.vec_id: r.centroid_id for r in cells.select("vec_id", "centroid_id").collect()}
    assert cmap[0] == cmap[100] == cmap[101]


def test_semantic_dedup_trained_centroids(spark):
    """The production SemDeDup path: centroids TRAINED with seeded
    KMeans (train_ivf_centroids) instead of the oracle query's
    deterministic first-16-rows twin. Exact duplicates must still be
    dropped (identical vectors share every band bucket and the same
    nearest trained centroid), survivorship stays min-id, every report
    is sound against the exact cosine, and the whole pipeline is
    deterministic for a fixed seed."""
    import math

    from cioos_siooc_data_transform_spark.operators.dedup import (
        semantic_dedup_trained,
    )

    corpus = _planted_corpus(spark)
    out = semantic_dedup_trained(corpus, n_cells=8, seed=42, tau=0.99)
    rows = sorted(out.collect())
    dropped = {r.dropped_id: r for r in rows}
    # ids 100/101 duplicate vector 0 -> both drop with keeper 0 (min id).
    assert set(dropped) == {100, 101}
    assert dropped[100].keeper_id == 0 and dropped[101].keeper_id == 0
    vecs = {r.vec_id: r.embedding for r in corpus.collect()}
    for r in rows:
        assert r.keeper_id < r.dropped_id and r.n_partners >= 1
        a, b = vecs[r.keeper_id], vecs[r.dropped_id]
        dot = sum(x * y for x, y in zip(a, b))
        cos = dot / (math.hypot(*a) * math.hypot(*b))
        assert round(cos, 4) >= 0.99
    again = sorted(semantic_dedup_trained(corpus, n_cells=8, seed=42, tau=0.99).collect())
    assert again == rows


def test_lsh_probe_finds_planted_duplicate_first(spark):
    """Probing the planted corpus with vector 0's buckets must rank its
    exact duplicates (cosine 1.0) at the top."""
    from pyspark.sql import Window

    from cioos_siooc_data_transform_spark.operators.dedup import (
        hyperplane_lsh_buckets,
    )
    from cioos_siooc_data_transform_spark.operators.similarity import cosine_expr
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        _EMB_BANDS,
        _EMB_HP,
    )

    corpus = _planted_corpus(spark)
    buckets = hyperplane_lsh_buckets(corpus, "vec_id", "embedding", _EMB_HP, _EMB_BANDS)
    q = buckets.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "bucket"
    )
    cand = (
        buckets.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    ea = corpus.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    eb = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    top = (
        cand.join(F.broadcast(ea), "query_id")
        .join(eb, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr("qv", "cv"), 4).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .collect()
    )
    got = {(r.neighbor_id, r.cos_sim) for r in top}
    assert got == {(100, 1.0), (101, 1.0)}


def test_jl_projection_shape_and_quantization(spark):
    out = _queries()["embedding_random_projection"](spark, SF_DIR_CORRECTNESS)
    pdf = out.limit(16 * 20).toPandas()
    assert set(pdf.columns) == {"vec_id", "pos", "proj_val"}
    # 6-dp quantization: scaling by 1e6 must give integers exactly
    scaled = pdf["proj_val"] * 1_000_000.0
    assert (scaled.round(0) - scaled).abs().max() < 1e-6


def test_jl_projection_matches_numpy_reference(spark):
    """The integer-quantized matmul must equal the straightforward float
    computation within the input-quantization error bound: each element
    carries <= 5e-7 quantization error, so a projection differs by at
    most sum|h_i|/4 * 5e-7 ~ 6.5e-6 for 64 Gaussian coefficients."""
    import numpy as np

    from cioos_siooc_data_transform_spark.plans.similarity_queries import (
        _JL_ROWS_INT,
    )
    from cioos_siooc_data_transform_spark.session import read_table

    emb = read_table(spark, SF_DIR_CORRECTNESS, "embeddings").filter(
        F.col("vec_id") < 5
    ).collect()
    out = (
        _queries()["embedding_random_projection"](spark, SF_DIR_CORRECTNESS)
        .filter(F.col("vec_id") < 5)
        .collect()
    )
    got = {(r.vec_id, r.pos): r.proj_val for r in out}
    H = np.array(_JL_ROWS_INT, dtype=np.float64) / 10000.0  # back to 4-dp floats
    for r in emb:
        v = np.array(r.embedding, dtype=np.float64)
        ref = (H @ v) / math.sqrt(16)
        bound = (np.abs(H).sum(axis=1) / 4.0) * 5e-7 + 1e-6  # quantization + output rounding
        for j in range(16):
            assert abs(got[(r.vec_id, j)] - ref[j]) <= bound[j], (r.vec_id, j)


def test_pandas_topk_matches_bruteforce(spark):
    """The Arrow fast path must produce the same (query, neighbor) top-k
    as the declarative brute_force_topk when queries come FROM the
    corpus — the self row must not consume a per-partition slot (the
    regression: selecting top-k before excluding self dropped the true
    k-th neighbor)."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        brute_force_topk,
        pandas_topk,
    )
    from cioos_siooc_data_transform_spark.session import read_table

    emb = read_table(spark, SF_DIR_CORRECTNESS, "embeddings").repartition(4)
    queries = emb.filter(F.col("vec_id") < 5)
    qvecs = [(r.vec_id, list(r.embedding)) for r in queries.collect()]
    bf = brute_force_topk(queries, emb, k=10, round_dp=6)
    fast = pandas_topk(emb, qvecs, k=10)
    want = {(r.query_id, r.rank): r.neighbor_id for r in bf.collect()}
    got = {(r.query_id, r.rank): r.neighbor_id for r in fast.collect()}
    assert len(want) == len(got) == 50
    assert want == got


def test_no_zero_norm_embeddings_in_testdata():
    """cosine_expr's documented precondition: a zero vector would make
    Spark emit NULL where DuckDB emits NaN (different ordering AND
    comparison semantics), breaking every cosine oracle pair. The
    synthetic embeddings must contain none at any scale factor — if the
    generator ever changes, this fails before the driver does."""
    import duckdb

    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        n = con.sql(
            f"""
            SELECT count(*) FROM '/root/testdata/{sf}/embeddings.parquet'
            WHERE list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                                x -> x * x), 'sum') = 0.0
            """
        ).fetchone()[0]
        assert n == 0, f"{sf}: {n} zero-norm embeddings"
    con.close()


def test_documents_charset_precondition():
    """Several tokenizer twins rely on Java-regex \\s and RE2 \\s
    agreeing, which holds only because the synthetic documents contain
    nothing but [a-z0-9 ] (no tabs, newlines, or vertical tabs — the
    characters where the two engines' \\s classes diverge). Pin the
    charset so a future generator change fails here before the driver."""
    import duckdb

    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        n = con.sql(
            f"""SELECT count(*) FROM '/root/testdata/{sf}/documents.parquet'
                WHERE regexp_matches(text, '[^a-z0-9 ]')"""
        ).fetchone()[0]
        assert n == 0, f"{sf}: {n} docs with out-of-charset characters"
    con.close()


def test_semantic_dedup_empty_input_raises_clearly(spark):
    """semantic_dedup is a lazy library function: omitting hyperplanes
    must raise the documented ValueError immediately (no hidden
    dimension-probe job at plan-composition time); with explicit
    hyperplanes an empty corpus composes lazily and yields an empty
    DataFrame."""
    import pytest as _pytest

    from cioos_siooc_data_transform_spark.operators.dedup import (
        random_hyperplanes,
        semantic_dedup,
    )

    empty = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
    cent = _planted_corpus(spark).filter(F.col("vec_id") < 4)
    with _pytest.raises(ValueError, match="hyperplanes is required"):
        semantic_dedup(empty, cent)
    hp = random_hyperplanes(32, 64, seed=42)
    out = semantic_dedup(empty, cent, hyperplanes=hp)
    assert out.count() == 0


def test_semantic_dedup_overcap_star_links_mega_bucket(spark):
    """The overcap="star" scale knob (round-12, XL pair-count lever):
    a tight mega-cluster that outgrows bucket_cap contributes ZERO
    candidates under the default drop policy (the round-11 XL stress
    measured ~0 mega recall for exactly this reason), while star mode
    pairs each over-cap bucket member with the bucket minimum — O(n)
    pairs, and for an exact-duplicate cluster every member is dropped
    with the min id as keeper. Under-cap behavior is identical in both
    modes, and an unknown mode fails loudly."""
    import pytest as _pytest

    from cioos_siooc_data_transform_spark.operators.dedup import (
        random_hyperplanes,
        semantic_dedup,
    )

    base = _planted_corpus(spark).filter(F.col("vec_id") < 100)
    v0 = base.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    copies = spark.createDataFrame(
        [(100 + i, v0) for i in range(30)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    corpus = base.unionByName(copies)
    cent = corpus.filter(F.col("vec_id") < 16)
    hp = random_hyperplanes(32, 64, seed=42)
    common = dict(hyperplanes=hp, bands=8, bucket_cap=10, tau=0.99)

    # Mega bucket (vec 0 + 30 exact copies = 31 members in the SAME
    # cell/band bucket) exceeds cap=10 everywhere: drop mode loses it.
    dropped_default = semantic_dedup(corpus, cent, **common).collect()
    assert dropped_default == []

    rows = semantic_dedup(corpus, cent, overcap="star", **common).collect()
    got = {r.dropped_id: r for r in rows}
    assert set(got) == {100 + i for i in range(30)}
    for r in rows:
        assert r.keeper_id == 0  # bucket min is the original vector
        assert r.n_partners >= 1

    with _pytest.raises(ValueError, match="unknown overcap mode"):
        semantic_dedup(corpus, cent, overcap="sample", **common)


def test_semantic_dedup_star_equals_drop_when_under_cap(spark):
    """The bench trained-vertical's invariant (recorded per round-12
    advice as `overcap_buckets` in the sidecar): when NO bucket exceeds
    bucket_cap, star and drop are result-identical — the star branch
    contributes zero pairs and the single post-union distinct (round-13
    refactor) dedups exactly what drop's single distinct would. Also
    pins semantic_bucket_counts against the operator's own assembly:
    the planted corpus (2 exact dups of vec 0) must show its max bucket
    size and zero over-cap buckets at the production cap."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        random_hyperplanes,
        semantic_bucket_counts,
        semantic_dedup,
    )

    corpus = _planted_corpus(spark)
    cent = corpus.filter(F.col("vec_id") < 16)
    hp = random_hyperplanes(32, 64, seed=42)
    common = dict(hyperplanes=hp, bands=8, bucket_cap=400, tau=0.99)

    drop_rows = sorted(
        map(tuple, semantic_dedup(corpus, cent, overcap="drop", **common).collect())
    )
    star_rows = sorted(
        map(tuple, semantic_dedup(corpus, cent, overcap="star", **common).collect())
    )
    assert drop_rows == star_rows
    assert len(drop_rows) == 2  # the two planted exact duplicates

    counts = semantic_bucket_counts(corpus, cent, hyperplanes=hp, bands=8)
    over = counts.filter(F.col("_n") > 400).count()
    assert over == 0
    max_n = counts.agg(F.max("_n")).head()[0]
    assert max_n >= 3  # vec 0 + its two exact copies share every bucket


def test_semantic_dedup_overcap_medoid_picks_central_hub(spark):
    """The round-13 overcap="medoid" upgrade: star's bucket-min hub is
    an ARBITRARY angle draw, so on a loose over-cap bucket (pairwise
    cosine spans [tau-eps, 1]) its recall collapses when the min-id
    member sits at the cluster edge — the loose skew-stress corpus
    measured star recall 0.0 (theta_min-id = 39 deg). Medoid picks the
    member nearest the bucket's MEAN vector instead (the best single
    representative) at the same O(n) pair cost. This test plants
    exactly that geometry in a plane: members at angles t from a base
    direction (pairwise cos = cos(t_i - t_j)), min-id at 40 deg, mean
    direction at ~23.5 deg — star drops only members near the 40-deg
    EDGE, medoid's hub is id 9 (24 deg, nearest the mean) and every
    other member is within acos(0.9)=25.8 deg of it, so ALL of them
    drop with keeper 9: the keeper id EXCEEDS every dropped id, the
    documented over-cap deviation from the lower-id-keeper contract."""
    import math

    from cioos_siooc_data_transform_spark.operators.dedup import (
        semantic_dedup,
    )

    # hyperplanes test the tiny positive dims 1..5 -> every member
    # shares all sign bits (one bucket per band); the (e0, e7) plane
    # carries the angles.
    hp = [[0.0] * 8 for _ in range(8)]
    for i, h in enumerate(hp):
        h[1 + (i % 5)] = 1.0
    thetas = {0: 40, 1: 30, 2: 28, 3: 35, 4: 33, 5: 1, 6: 10, 7: 14, 8: 20, 9: 24}
    rows = []
    for i, t in thetas.items():
        r = math.radians(t)
        v = [math.cos(r), 0.001, 0.001, 0.001, 0.001, 0.001, 0.0, math.sin(r)]
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    cent = emb.filter(F.col("vec_id") == 5)  # one cell
    common = dict(
        hyperplanes=hp, bands=2, bucket_cap=4, tau=0.9, hub_sample_mod=1
    )

    star = {
        r.dropped_id: r.keeper_id
        for r in semantic_dedup(emb, cent, overcap="star", **common).collect()
    }
    medoid = {
        r.dropped_id: r.keeper_id
        for r in semantic_dedup(emb, cent, overcap="medoid", **common).collect()
    }
    # star hub = min id 0 at 40 deg: drops members within acos(0.9)=25.8
    # deg of 40 deg -> ids {1,2,3,4,8,9}, the cluster EDGE.
    assert star == {1: 0, 2: 0, 3: 0, 4: 0, 8: 0, 9: 0}
    # medoid hub = id 9 at 24 deg (angle of the mean direction is
    # atan2(sum sin, sum cos) ~ 23.5 deg): every other member is within
    # 25.8 deg of 24 deg (furthest: id 5 at 1 deg -> 23 deg away).
    assert medoid == {i: 9 for i in range(9)}


def test_semantic_dedup_overcap_refine_splits_loose_bucket(spark):
    """overcap="refine" re-buckets over-cap members with a finer
    hyperplane family: genuinely-similar members keep colliding and
    get the normal all-pairs join, loose co-tenants separate. Planted
    geometry: a 6-member over-cap bucket (cap 4) holding two tight
    sub-groups 90 deg apart — no single hub can link both groups
    (medoid's hub sits in one of them), but refinement with a
    hyperplane between the groups splits them into two under-cap
    sub-buckets whose all-pairs joins recover every within-group
    near-dup; a still-over-cap leaf degrades to the medoid hub (the
    tight-mega-cluster path, pinned by the XL stress)."""
    import math

    from cioos_siooc_data_transform_spark.operators.dedup import (
        semantic_dedup,
    )

    hp = [[0.0] * 8 for _ in range(8)]
    for i, h in enumerate(hp):
        h[1 + (i % 5)] = 1.0
    # group A: ids 0,1,2 at ~0 deg; group B: ids 3,4,5 at ~90 deg
    rows = []
    for i, t in {0: 0, 1: 4, 2: 8, 3: 90, 4: 94, 5: 98}.items():
        r = math.radians(t)
        v = [math.cos(r), 0.001, 0.001, 0.001, 0.001, 0.001, 0.0, math.sin(r)]
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    cent = emb.filter(F.col("vec_id") == 0)
    # refine family: one plane at 45 deg in the (e0, e7) plane per band
    # slot separates the groups (group A: e0-e7 component positive,
    # group B: negative); the rest re-test the shared tiny dims.
    rhp = [[0.0] * 8 for _ in range(16)]
    for i, h in enumerate(rhp):
        if i % 8 == 0:
            h[0], h[7] = 1.0, -1.0
        else:
            h[1 + (i % 5)] = 1.0
    common = dict(hyperplanes=hp, bands=2, bucket_cap=4, tau=0.9)

    medoid = {
        r.dropped_id
        for r in semantic_dedup(
            emb, cent, overcap="medoid", hub_sample_mod=1, **common
        ).collect()
    }
    refined = {
        r.dropped_id: r.keeper_id
        for r in semantic_dedup(
            emb, cent, overcap="refine", refine_hyperplanes=rhp,
            hub_sample_mod=1, **common
        ).collect()
    }
    # single mean-hub: the mean sits between the groups; whichever
    # member wins the argmax is within 25.8 deg of only ITS OWN group,
    # so at most one group's members drop.
    assert len(medoid) <= 3
    # refine: groups split into two under-cap sub-buckets; all-pairs
    # within each recovers both groups' near-dups with canonical
    # lower-id keepers.
    assert refined == {1: 0, 2: 0, 4: 3, 5: 3}


def test_semantic_dedup_medoid_equals_drop_when_under_cap(spark):
    """Like star, medoid is pure over-cap policy: with no over-cap
    bucket the hub branch contributes zero pairs and results are
    bit-identical to drop (the bench trained-vertical invariant keeps
    holding if the production config moves to medoid)."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        random_hyperplanes,
        semantic_dedup,
    )

    corpus = _planted_corpus(spark)
    cent = corpus.filter(F.col("vec_id") < 16)
    hp = random_hyperplanes(32, 64, seed=42)
    common = dict(hyperplanes=hp, bands=8, bucket_cap=400, tau=0.99)
    drop_rows = sorted(
        map(tuple, semantic_dedup(corpus, cent, overcap="drop", **common).collect())
    )
    medoid_rows = sorted(
        map(tuple, semantic_dedup(corpus, cent, overcap="medoid", **common).collect())
    )
    assert drop_rows == medoid_rows
    assert len(drop_rows) == 2


def test_semantic_dedup_medoid_clique_keeps_a_survivor(spark):
    """Survivor-guarantee regression (the XL stress caught this live:
    before the fix, medoid mode dropped all 150,000 mega-cluster
    copies — keeper included — because the 8 top-band buckets hold
    different noise co-tenants, elect different mean-hubs, and the
    hubs dropped each other). Minimal reproduction: one four-member
    near-dup clique {A=0@5deg, B=1@10deg, C=2@0deg, D=3@15deg} split
    over two over-cap band buckets — band 1 sees {A,B,C} (mean ~5deg
    -> hub A), band 2 sees {A,B,D} (mean ~10deg -> hub B). Without
    re-orientation the pairs (A->B) and (B->A) both survive and the
    whole clique drops; with it, any pair targeting a hub is
    id-ordered, so min-id hub A survives and the other three drop
    with canonical keepers."""
    import math

    from cioos_siooc_data_transform_spark.operators.dedup import (
        semantic_dedup,
    )

    # band 1 = hyperplanes testing dims 1-2, band 2 = dims 3-4; the
    # (e0, e7) plane carries the angles. C flips band 2's dims (same
    # bucket as A/B only in band 1), D flips band 1's.
    hp = [[0.0] * 8 for _ in range(4)]
    hp[0][1] = hp[1][2] = hp[2][3] = hp[3][4] = 1.0

    def vec(theta_deg, d12, d34):
        r = math.radians(theta_deg)
        return [math.cos(r), d12, d12, d34, d34, 0.0, 0.0, math.sin(r)]

    rows = [
        (0, vec(5, 0.001, 0.001)),    # A: in both buckets
        (1, vec(10, 0.001, 0.001)),   # B: in both buckets
        (2, vec(0, 0.001, -0.001)),   # C: band-1 bucket only
        (3, vec(15, -0.001, 0.001)),  # D: band-2 bucket only
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    cent = emb.filter(F.col("vec_id") == 0)
    out = {
        r.dropped_id: r.keeper_id
        for r in semantic_dedup(
            emb, cent, hyperplanes=hp, bands=2, bucket_cap=2, tau=0.9,
            overcap="medoid", hub_sample_mod=1,
        ).collect()
    }
    assert out == {1: 0, 2: 0, 3: 1}


def test_semantic_dedup_medoid_empty_sample_falls_back_to_star(spark):
    """_mean_hub_pairs samples the bucket mean with a hash filter and
    deliberately has NO per-key guaranteed member (a guarantee window
    costs a full pass; an empty sample is ~0.03 % at the production
    cap): a key whose sample comes up empty scores every member 0.0
    via the left join's null and the (score, -id) argmax degrades to
    the MIN-ID hub — exactly star's rule. Pinned with a sample_mod
    chosen so no tiny-corpus id hashes to 0."""
    import math

    from cioos_siooc_data_transform_spark.operators.dedup import (
        semantic_dedup,
    )

    hp = [[0.0] * 8 for _ in range(8)]
    for i, h in enumerate(hp):
        h[1 + (i % 5)] = 1.0
    thetas = {0: 40, 1: 30, 2: 28, 3: 35, 4: 33, 5: 1, 6: 10, 7: 14, 8: 20, 9: 24}
    rows = []
    for i, t in thetas.items():
        r = math.radians(t)
        v = [math.cos(r), 0.001, 0.001, 0.001, 0.001, 0.001, 0.0, math.sin(r)]
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    cent = emb.filter(F.col("vec_id") == 5)
    common = dict(hyperplanes=hp, bands=2, bucket_cap=4, tau=0.9)
    star = {
        r.dropped_id: r.keeper_id
        for r in semantic_dedup(emb, cent, overcap="star", **common).collect()
    }
    # find a sample_mod where no id 0..9 samples in (xxhash64 % mod != 0
    # for all ten ids) -> every bucket's sample is empty
    mod_row = spark.range(10).agg(
        *[
            F.max(
                F.when(F.pmod(F.xxhash64(F.col("id")), F.lit(m)) == 0, 1).otherwise(0)
            ).alias(f"m{m}")
            for m in range(11, 40)
        ]
    ).head()
    empty_mod = next(m for m in range(11, 40) if mod_row[f"m{m}"] == 0)
    medoid_fallback = {
        r.dropped_id: r.keeper_id
        for r in semantic_dedup(
            emb, cent, overcap="medoid", hub_sample_mod=empty_mod, **common
        ).collect()
    }
    assert medoid_fallback == star


def test_memoized_expression_columns_are_reused_and_equivalent(spark):
    """The composed expressions of hyperplane_lsh_buckets / ivf_assign /
    pq_encode / pq_adc_topk / brute_force_topk / minhash / LSH bands /
    simhash are SQL text, rebuilt on every call (no per-process memo).
    Two independent constructions must give identical rows."""
    from cioos_siooc_data_transform_spark.operators import dedup as dd
    from cioos_siooc_data_transform_spark.operators import (
        similarity as sim,
    )

    vecs = _planted_corpus(spark)
    hp = dd.random_hyperplanes(8, 64, seed=11)
    books = [
        [[float(j + k) / 7.0 + 0.25 * s for s in range(8)] for k in range(4)]
        for j in range(8)
    ]
    cent = vecs.filter(F.col("vec_id") < 4)
    qs = vecs.filter(F.col("vec_id") < 3)

    tok = vecs.select(
        "vec_id",
        F.explode(
            F.transform(
                F.slice(F.col("embedding"), 1, 6),
                lambda x: F.format_number(x, 2),
            )
        ).alias("t"),
    )

    def build_all():
        sig = dd.minhash_signature(tok, "vec_id", "t", num_hashes=8)
        return {
            "lsh": dd.hyperplane_lsh_buckets(vecs, "vec_id", "embedding", hp, 4),
            "ivf": sim.ivf_assign(vecs, cent).select("vec_id", "centroid_id"),
            "codes": sim.pq_encode(vecs, books),
            "adc": sim.pq_adc_topk(qs, sim.pq_encode(vecs, books), books),
            "brute": sim.brute_force_topk(qs, vecs, k=5),
            "minhash": sig,
            "bands": dd.lsh_band_buckets(sig, "vec_id", 8, 4),
            "simhash": dd.simhash(tok, "vec_id", "t"),
        }

    fresh = build_all()
    again = build_all()
    for name in fresh:
        a, b = fresh[name], again[name]
        assert a.exceptAll(b).count() == 0, name
        assert b.exceptAll(a).count() == 0, name


def test_similarity_operators_build_in_a_few_round_trips(spark, monkeypatch):
    """The composed expressions reach the JVM as SQL text and the literal
    banks as one from_json each; as Column trees they cost a py4j round
    trip per node and per float (about 14,500 for this construction). The
    bank and codebooks are this test's own, so no earlier construction
    in the process can have built them."""
    from py4j.clientserver import ClientServerConnection

    from cioos_siooc_data_transform_spark.operators import dedup as dd
    from cioos_siooc_data_transform_spark.operators import (
        similarity as sim,
    )

    vecs = _planted_corpus(spark)
    qs = vecs.filter(F.col("vec_id") < 3)

    def build(seed: int) -> None:
        hp = dd.random_hyperplanes(16, 64, seed=seed)
        books = [
            [[round(math.sin(seed + 8 * j + k + 0.1 * s), 4) for s in range(8)]
             for k in range(16)]
            for j in range(8)
        ]
        sim.pq_adc_topk(qs, sim.pq_encode(vecs, books), books)
        dd.hyperplane_lsh_buckets(vecs, "vec_id", "embedding", hp, 4)
        sim.brute_force_topk(qs, vecs, k=5)

    build(9001)  # the first build looks up JVM functions
    calls = []
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        calls.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    build(9002)
    monkeypatch.undo()
    # 292 when run alone and 611 in a run of this whole module; about
    # 14,500 as Column trees
    assert len(calls) <= 1000


def test_dot_expr_memo_does_not_alias_join_sides(spark):
    """A memo keyed on a Column's text once handed one join side's
    expression to the other and returned 2.0 instead of 200.0. The
    expressions now take column names and are built on every call; the
    two join sides carry distinct names."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        cosine_expr,
        dot_expr,
    )

    a = spark.createDataFrame([(1, [1.0, 1.0])], "id INT, v ARRAY<DOUBLE>")
    b = spark.createDataFrame([(1, [10.0, 10.0])], "id INT, v ARRAY<DOUBLE>")
    assert a.select(dot_expr("v", "v").alias("d")).first().d == 2.0
    joined = a.select("id", F.col("v").alias("va")).join(
        b.select("id", F.col("v").alias("vb")), "id"
    )
    row = joined.select(
        dot_expr("vb", "vb").alias("bb"),
        dot_expr("va", "vb").alias("ab"),
        cosine_expr("va", "vb").alias("cos"),
    ).first()
    assert (row.bb, row.ab) == (200.0, 20.0)
    assert abs(row.cos - 1.0) < 1e-12
    assert b.select(dot_expr("v", "v").alias("d")).first().d == 200.0


def test_ivf_assign_packed_argmax_matches_struct_path(spark):
    """Round-13 optimization: with_vector=False plans the argmax as a
    packed-long HashAggregate (8-byte buffer, no vector in the agg)
    instead of the struct-max SortAggregate. Pin that both paths pick
    the SAME centroid for every vector — including under rounded-sim
    TIES (duplicated centroids force them; the min-centroid-id tiebreak
    must hold, i.e. the duplicate ids never win) — and that the packed
    plan really hash-aggregates."""
    from cioos_siooc_data_transform_spark.operators.similarity import (
        ivf_assign,
    )

    vecs = _planted_corpus(spark)
    cents = vecs.filter(F.col("vec_id") < 8)
    # duplicate centroid 0 under ids 200/201 and centroid 3 under 203:
    # every vector nearest 0 or 3 now has 2-3 equal-rounded-sim choices.
    dup = (
        cents.filter(F.col("vec_id").isin([0, 0, 3]))
        .select((F.col("vec_id") + 200).alias("vec_id"), "embedding")
        .unionByName(
            cents.filter(F.col("vec_id") == 0).select(
                (F.col("vec_id") + 201).alias("vec_id"), "embedding"
            )
        )
    )
    cent = cents.unionByName(dup)
    via_struct = {
        (r.vec_id, r.centroid_id)
        for r in ivf_assign(vecs, cent).select("vec_id", "centroid_id").collect()
    }
    packed_df = ivf_assign(vecs, cent, with_vector=False)
    via_packed = {(r.vec_id, r.centroid_id) for r in packed_df.collect()}
    assert via_packed == via_struct
    assert len(via_packed) == vecs.count()
    # the duplicated centroid ids must never win a tie
    assert all(cid < 200 for _, cid in via_packed)
    plan = packed_df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan


def test_ivf_assign_packed_argmax_rejects_out_of_range_ids(spark):
    """Round-14 ADVICE hardening: the packed encoding requires
    0 <= centroid_id < 2^31; ids outside that range would overflow the
    low 32-bit field into the sim field and silently mis-assign. The
    packed path must now raise at runtime (validated on the K-row
    broadcast centroid relation), while in-range ids are untouched."""
    import pytest as _pytest

    from cioos_siooc_data_transform_spark.operators.similarity import (
        ivf_assign,
    )

    vecs = _planted_corpus(spark)
    cents = vecs.filter(F.col("vec_id") < 8)
    bad_neg = cents.select((F.col("vec_id") - 100).alias("vec_id"), "embedding")
    with _pytest.raises(Exception, match="0 <= centroid_id < 2\\^31"):
        ivf_assign(vecs, bad_neg, with_vector=False).collect()
    bad_big = cents.select(
        (F.col("vec_id") + F.lit(2147483648).cast("long")).alias("vec_id"),
        "embedding",
    )
    with _pytest.raises(Exception, match="0 <= centroid_id < 2\\^31"):
        ivf_assign(vecs, bad_big, with_vector=False).collect()
