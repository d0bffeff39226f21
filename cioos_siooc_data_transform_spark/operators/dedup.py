"""Deduplication operators for large-scale text pipelines (beyond-reference
scope, BASELINE.json north star).

All operators are pure DataFrame compositions (no Python UDFs in the hot
path) so Catalyst plans them and whole-stage codegen executes them.

Scale design (100 TB):
- exact_dedup: hash-groupBy on a digest — one shuffle keyed by digest,
  map-side partial aggregation; digest keys are uniform so no skew.
- MinHash+LSH: per-doc signature is a single hash-agg (one shuffle by
  doc_id, combiner-friendly mins); candidate generation self-joins the
  small (doc, band-bucket) projection — the join explodes ONLY within
  buckets, and mega-buckets are dropped with a windowed count guard, the
  standard LSH skew control.
- SimHash: one explode + one hash-agg; bit counters are associative sums,
  so partial aggregation keeps the shuffle at one row per doc.
- n-gram Jaccard: inverted-index join (gram → docs) instead of O(n²)
  pairing; common-gram counting shuffles on gram then on (a, b), both
  high-cardinality keys.

The md5-based hash family is used where a DuckDB oracle must reproduce the
result bit-for-bit; xxhash64 (JVM intrinsic, no string materialization) is
the faster default for production use.

The composed expressions (minhash aggs, LSH bands, hyperplane signs,
simhash bit sums, SemDeDup pair pricing) are SQL text handed to the JVM in
one ``F.expr`` each, and hyperplane banks go in as ``from_json`` literals
(operators/similarity.py explains both); nothing is memoized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from cioos_siooc_data_transform_spark.operators.routing import sql_ident, sql_literal
from cioos_siooc_data_transform_spark.operators.similarity import (
    dot_expr,
    dot_sql,
    double_matrix_sql,
    ivf_assign,
    train_ivf_centroids,
)
from cioos_siooc_data_transform_spark.session import checkpoint_df


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------
def words_expr(text: Column) -> Column:
    """Whitespace tokenization (single-space corpora split exactly)."""
    return F.split(text, " ")


def word_shingles(words: Column, n: int = 3) -> Column:
    """Overlapping n-word shingles as strings; < n words → empty array.

    Built as a fold of zip_with over n shifted slices of the token
    array, NOT a transform over sequence() with element_at indexing:
    the element_at chain evaluates as interpreted per-element lookups
    and benched 7× slower (3.4 s vs 0.5 s for the sf0.1 3-shingle
    explode, noop write) — this construction is the hot inner loop of
    every minhash/Jaccard/decontamination pipeline. The slice length is
    clamped to 0 because Spark evaluates BOTH branches of the `when`
    guard (a negative slice length throws; an empty slice zips to an
    empty array)."""
    cnt = F.greatest(F.size(words) - (n - 1), F.lit(0))
    sh = F.slice(words, 1, cnt)
    for j in range(2, n + 1):
        sh = F.zip_with(
            sh,
            F.slice(words, j, cnt),
            lambda acc, nxt: F.concat_ws(" ", acc, nxt),
        )
    return F.when(F.size(words) >= n, sh).otherwise(
        F.array().cast("array<string>")
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical texts by digest; keep the smallest id as keeper."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def doc_shingle_sets(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, sh_set) with per-doc DISTINCT shingles as an ARRAY column —
    entirely row-local (no explode, no shuffle). Docs too short to shingle
    are dropped (matches explode-of-empty-array semantics)."""
    sh = F.array_distinct(word_shingles(words_expr(F.col(text_col)), n))
    return docs.select(F.col(id_col), sh.alias("sh_set")).filter(
        F.size("sh_set") > 0
    )


def _minhash_sql(s: str, k: int, hash_family: str) -> str:
    """SQL: the k-th hash of the string expression ``s``. With md5, 4
    hash functions share a digest: the 128-bit md5 is sliced into four
    independent 8-hex-char (32-bit) chunks, so k functions cost
    ceil(k/4) digests instead of k."""
    if hash_family == "md5":
        digest_idx = (k - 1) // 4
        offset = ((k - 1) % 4) * 8 + 1
        return f"substring(md5(concat({s}, {sql_literal(f'#{digest_idx}')})), {offset}, 8)"
    return f"xxhash64({s}, {k})"


def minhash_signature_sets(
    doc_sets: DataFrame,
    id_col: str,
    set_col: str = "sh_set",
    num_hashes: int = 8,
    hash_family: str = "md5",
) -> DataFrame:
    """Row-local minhash over shingle-set ARRAYS: h_k = array_min(
    transform(set, s -> hash_k(s))) — the same values as the exploded
    groupBy formulation (min over the same set) with ZERO shuffles before
    the bucket self-join.

    Measured trade-off (sf0.1 A/B, SCALE.md): the exploded formulation
    benches ~2× faster here because its map-side partial agg shrinks the
    signature shuffle to one row per doc per map task AND its distinct
    Exchange is computed once and reused by every pipeline consumer,
    while this form recomputes the scan+shingle projection per consumer.
    Use this form when a query consumes the signatures exactly once (no
    reuse to exploit) or when cluster shuffle capacity — not CPU — is the
    binding constraint; the registered queries use the exploded form."""
    sets = sql_ident(set_col)
    cols = [
        F.expr(f"array_min(transform({sets}, s -> {_minhash_sql('s', k, hash_family)}))")
        .alias(f"h{k}")
        for k in range(1, num_hashes + 1)
    ]
    return doc_sets.select(F.col(id_col), *cols)


def jaccard_for_pair_sets(
    pairs: DataFrame,
    doc_sets: DataFrame,
    id_col: str,
    set_col: str = "sh_set",
) -> DataFrame:
    """jaccard_for_pairs over pre-built shingle-set arrays (skips the
    collect_set shuffle; the sets were already row-local)."""
    a = doc_sets.select(F.col(id_col).alias("doc_a"), F.col(set_col).alias("_sa"))
    b = doc_sets.select(F.col(id_col).alias("doc_b"), F.col(set_col).alias("_sb"))
    return (
        pairs.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size("_sa") + F.size("_sb") - F.col("n_common")),
                6,
            ),
        )
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signature(
    exploded: DataFrame,
    id_col: str,
    shingle_col: str,
    num_hashes: int = 8,
    hash_family: str = "md5",
) -> DataFrame:
    """One row per doc with columns h1..h{num_hashes} = min hash per fn.

    hash_family='md5' keys the k-th function as md5(shingle || '#k') and
    takes the lexicographic min of the hex digest — portable to any engine.
    hash_family='xxhash64' is the fast JVM-side default.
    """
    s = sql_ident(shingle_col)
    aggs = [
        F.expr(f"min({_minhash_sql(s, k, hash_family)})").alias(f"h{k}")
        for k in range(1, num_hashes + 1)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def lsh_band_buckets(
    signatures: DataFrame, id_col: str, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """Signature → (doc, bucket) rows; bucket embeds the band index so
    equal hashes from different bands never collide."""
    rows = num_hashes // bands
    band_keys = []
    for b in range(bands):
        hashes = ", ".join(f"CAST(h{b * rows + r + 1} AS STRING)" for r in range(rows))
        band_keys.append(f"md5(concat({sql_literal(str(b))}, {hashes}))")
    exploded = F.expr(f"explode(array({', '.join(band_keys)}))")
    return signatures.select(F.col(id_col), exploded.alias("bucket"))


def lsh_candidate_pairs(
    buckets: DataFrame, id_col: str, max_bucket_size: int = 50
) -> DataFrame:
    """Self-join (doc, bucket) on bucket → distinct candidate pairs a < b.

    Buckets larger than max_bucket_size are dropped (mega-bucket guard —
    at scale a degenerate bucket would otherwise produce a quadratic
    explosion inside one task).
    """
    w = Window.partitionBy("bucket")
    guarded = buckets.withColumn("_n", F.count(F.lit(1)).over(w)).filter(
        F.col("_n") <= max_bucket_size
    )
    a = guarded.select(F.col(id_col).alias("doc_a"), "bucket")
    b = guarded.select(F.col(id_col).alias("doc_b"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH over embedding columns (SRP / sign-random-projection)
# ---------------------------------------------------------------------------
def random_hyperplanes(n: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes, rounded to 4 decimals so the
    same decimal literals parse to identical doubles in any engine."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return [[float(round(v, 4)) for v in row] for row in rng.standard_normal((n, dim))]


def hyperplane_lsh_buckets(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    hyperplanes: list[list[float]],
    bands: int,
) -> DataFrame:
    """(id, bucket) rows: bucket = band index + the band's sign bits of
    the vector's dot products with broadcast hyperplane literals.

    Two vectors land in the same bucket for a band iff no hyperplane in
    the band separates them — P(bit agree) = 1 − angle/π, so banding gives
    the classic OR-of-ANDs candidate amplification without any pairwise
    work: the expensive cosine runs only inside buckets.

    The dot product is a JVM-side fold in array order (left-to-right
    double accumulation starting from 0.0), which reproduces bit-for-bit
    in DuckDB's list_dot_product — the sign bits are engine-portable, no
    epsilon.

    Shape (round-13 optimization, bit-identical output): the bank is ONE
    array<array<double>> literal and all sign bits come from a single
    transform() over it, projected once as a signs array; the per-band
    bucket strings concat element_at slices of that array in a second
    projection (CollapseProject keeps the non-cheap signs expression
    materialized rather than duplicating it into each band). vs the
    previous per-hyperplane aggregate(zip_with(...)) chain: sf0.1 bucket
    subtree 2.2 -> 1.4 s (mostly plan construction) and 200k x 64
    execution 3.98 -> 2.02 s — one signs pass per row instead of 32
    independent fold traversals.
    An UNROLLED element-wise sum-of-products form was also measured and
    REFUTED: 15.4 s exec / 8 s planning (the ~2,500-node tree breaks
    whole-stage codegen and Catalyst walks it per rule).
    """
    rows = len(hyperplanes) // bands
    v = f"CAST({sql_ident(vec_col)} AS ARRAY<DOUBLE>)"
    dot = f"aggregate(zip_with({v}, hp, (x, y) -> x * y), 0D, (acc, t) -> acc + t)"
    signs = F.expr(
        f"transform({double_matrix_sql(hyperplanes)},"
        f" hp -> CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END)"
    )
    buckets = []
    for b in range(bands):
        band_signs = ", ".join(f"element_at(_sg, {b * rows + r + 1})" for r in range(rows))
        buckets.append(f"concat({sql_literal(f'{b}:')}, {band_signs})")
    exploded = F.expr(f"explode(array({', '.join(buckets)}))")
    tmp = vectors.select(F.col(id_col), signs.alias("_sg"))
    return tmp.select(F.col(id_col), exploded.alias("bucket"))


# ---------------------------------------------------------------------------
# SimHash (16-bit portable variant; bit width is a parameter)
# ---------------------------------------------------------------------------
def simhash_token_sql(token: str, hex_chars: int = 4) -> str:
    """SQL: portable token hash of the string expression ``token`` — the
    first `hex_chars` of its md5 as an integer (4 bits per char via
    position in '0123456789abcdef')."""
    v = "0"
    for i in range(1, hex_chars + 1):
        v = f"({v}) * 16 + (instr('0123456789abcdef', substring(md5({token}), {i}, 1)) - 1)"
    return f"CAST({v} AS BIGINT)"


def simhash(
    exploded: DataFrame, id_col: str, token_col: str, bits: int = 16
) -> DataFrame:
    """Per-doc SimHash: majority vote of each hash bit over the doc's
    distinct tokens (+1 if set, −1 if not; bit set iff sum > 0)."""
    v = F.expr(simhash_token_sql(sql_ident(token_col), hex_chars=bits // 4))
    bit_sums = [
        F.expr(f"sum(CASE WHEN (shiftright(_v, {i}) & 1) = 1 THEN 1 ELSE -1 END)")
        .alias(f"s{i}")
        for i in range(bits)
    ]
    hash_expr = F.expr(
        "CAST(0 AS BIGINT)"
        + "".join(f" + CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(bits))
    )
    with_v = exploded.withColumn("_v", v)
    summed = with_v.groupBy(id_col).agg(*bit_sums)
    return summed.select(F.col(id_col), hash_expr.alias("simhash"))


# ---------------------------------------------------------------------------
# n-gram Jaccard via inverted index (no O(n²) pairing)
# ---------------------------------------------------------------------------
def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_rounds: int = 12,
) -> DataFrame:
    """Union-find over candidate-pair edges via min-label propagation with
    POINTER JUMPING: each round a node takes the min of (its label, its
    neighbors' labels, and the label OF its label node). The jump step
    roughly doubles the propagation distance per round, so convergence is
    O(log diameter) — a path of 2^10 nodes converges in ~11 rounds, where
    plain one-hop propagation would need 2^10. Each round is two shuffles
    (neighbor groupBy + label-through-label join); no driver-side graph.

    Raises RuntimeError if max_rounds pass without convergence, instead of
    silently returning a partially-merged (split-component) labeling.
    """
    # Materialize the edge set ONCE: every round joins it twice (plus the
    # convergence probe), and without the checkpoint each of those jobs
    # would re-run the entire upstream candidate-pair pipeline (LSH,
    # minhash, shingling) — 3-4 full recomputations per round.
    edges = checkpoint_df(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct(),
        eager=True,
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    converged = False
    for _ in range(max_rounds):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        # Pointer jump: follow my label to ITS label (labels always point
        # within the component, so taking the min preserves correctness
        # while halving the remaining chain length).
        jump = labels.select(
            F.col("node").alias("_jn"), F.col("label").alias("_jl")
        )
        new_labels = (
            stepped.join(jump, stepped["label"] == jump["_jn"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("_jl"), F.col("label"))
                ).alias("label"),
            )
        )
        # Checkpoint FIRST so the convergence probe reads materialized
        # labels instead of re-running the round's two joins.
        new_labels = checkpoint_df(new_labels, eager=True)  # cut lineage per round
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds; "
            "raise max_rounds (components deeper than ~2^rounds hops exist)"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


def pair_shingle_sets(
    pairs: DataFrame,
    doc_shingles: DataFrame,
    id_col: str,
    shingle_col: str,
) -> DataFrame:
    """(doc_a, doc_b, _sa, _sb, n_common) for a GIVEN candidate-pair set:
    each doc's distinct shingles collect into one array, the pair set
    joins to both sides, and |A∩B| is a JVM-side array_intersect — the
    shared scaffolding under every confirm-stage score (Jaccard,
    containment). Linear in |pairs| × bounded doc length, never the
    all-shingle-sharing-pairs explosion of the inverted-index join."""
    sets_ = doc_shingles.groupBy(id_col).agg(
        F.collect_set(shingle_col).alias("_sh")
    )
    a = sets_.select(F.col(id_col).alias("doc_a"), F.col("_sh").alias("_sa"))
    b = sets_.select(F.col(id_col).alias("doc_b"), F.col("_sh").alias("_sb"))
    return (
        pairs.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("_sa", "_sb")))
    )


def jaccard_for_pairs(
    pairs: DataFrame,
    doc_shingles: DataFrame,
    id_col: str,
    shingle_col: str,
) -> DataFrame:
    """Exact Jaccard for a GIVEN candidate-pair set only — the confirm
    stage to run AFTER LSH candidate generation: LSH prunes the pair
    space, this prices only what survived (scaffolding in
    pair_shingle_sets)."""
    return (
        pair_shingle_sets(pairs, doc_shingles, id_col, shingle_col)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size("_sa") + F.size("_sb") - F.col("n_common")),
                6,
            ),
        )
        .select("doc_a", "doc_b", "jaccard")
    )


def deduplicate_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """End-to-end near-dup removal: MinHash+LSH candidates → exact Jaccard
    confirmation OVER THE CANDIDATES ONLY → connected components → keep
    the min-id doc per component. Returns docs with `is_keeper` and
    `component` columns.

    Ordering matters at scale: Jaccard runs per candidate pair
    (jaccard_for_pairs), so the LSH stage's pruning is actually realized —
    computing all shingle-sharing pairs first and semi-joining against
    candidates afterwards would spend the full inverted-index cost and
    save nothing. The exploded formulation (distinct Exchange reused by
    all consumers, map-side-combined signature agg) measured ~2× faster
    than the row-local set formulation at sf0.1 — see SCALE.md.
    """
    shingled = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles(words_expr(F.col(text_col)), 3))
        ).alias("s"),
    ).distinct()
    sig = minhash_signature(shingled, id_col, "s", num_hashes=num_hashes)
    buckets = lsh_band_buckets(sig, id_col, num_hashes=num_hashes, bands=bands)
    candidates = lsh_candidate_pairs(buckets, id_col)
    confirmed = jaccard_for_pairs(candidates, shingled, id_col, "s").filter(
        F.col("jaccard") >= jaccard_threshold
    )
    components = connected_components(confirmed)
    out = docs.join(
        components, docs[id_col] == components["doc_id"], "left"
    ).drop(components["doc_id"])
    return out.withColumn(
        "component", F.coalesce(F.col("component"), F.col(id_col))
    ).withColumn("is_keeper", F.col("component") == F.col(id_col))


def ngram_jaccard_pairs(
    doc_shingles: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """doc_shingles: exploded DISTINCT (doc, shingle) rows.
    Returns pairs (doc_a < doc_b) with Jaccard ≥ threshold.

    max_doc_freq is the hot-shingle guard: a shingle appearing in k docs
    contributes k²/2 rows to the inverted-index join, so one stop-shingle
    in a million docs is a 10¹²-row explosion. Shingles with document
    frequency above the cap are removed from the shingle sets BEFORE both
    the common-count join and the per-doc sizes (stop-shingle removal:
    Jaccard is computed over the filtered sets, a well-defined contract
    both engines mirror). Near-universal shingles carry no dedup signal,
    so the cap costs ~nothing in practice.
    """
    if max_doc_freq is not None:
        w_df = Window.partitionBy(shingle_col)
        doc_shingles = (
            doc_shingles.withColumn("_df", F.count(F.lit(1)).over(w_df))
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
    sizes = doc_shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = doc_shingles.select(F.col(id_col).alias("doc_a"), F.col(shingle_col).alias("s"))
    b = doc_shingles.select(F.col(id_col).alias("doc_b"), F.col(shingle_col).alias("s"))
    common = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "jaccard")


def substring_overlap_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_overlap_tokens: int = 8,
    max_doc_freq: int = 10,
) -> DataFrame:
    """Exact-substring overlap detection (the Lee et al. 2022
    'Deduplicating Training Data Makes Language Models Better'
    exact-substring family, re-expressed relationally): two documents
    share a T-token substring iff they share T−k+1 CONSECUTIVE aligned
    k-shingles on one diagonal (pa − pb constant). Positioned shingles →
    doc-frequency-capped inverted-index join → gap-and-islands run
    length per (pair, diagonal) → longest overlap = max run + k − 1.

    Scale: the same inverted-index discipline as ngram_jaccard_pairs —
    stop-grams (df > max_doc_freq) are dropped BEFORE the self-join, so
    the join fanout per gram is ≤ max_doc_freq²; the islands window is
    keyed by (pair, diagonal) — bounded by the shorter document's
    length. No all-pairs comparison anywhere; a suffix array would give
    the same answer with a global sort at 100 TB, this form gives it
    with two keyed shuffles.
    """
    toks = F.split(F.col(text_col), " ")
    d = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("toks")
    ).filter(F.size("toks") >= k)
    # positioned shingles from the zip_with fold (word_shingles) +
    # posexplode — the exploded rows carry only (pos, gram), not the
    # whole token array (the previous explode-positions-then-slice form
    # duplicated the token array per position and ran ~4× slower)
    grams = d.select(
        "doc_id",
        F.posexplode(word_shingles(F.col("toks"), k)).alias("p0", "g"),
    ).select("doc_id", (F.col("p0") + 1).cast("long").alias("p"), "g")
    keep = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= max_doc_freq)
        .select("g")
    )
    gg = grams.join(keep, "g", "left_semi")
    a = gg.select(
        F.col("doc_id").alias("doc_a"), F.col("p").alias("pa"), "g"
    )
    b = gg.select(
        F.col("doc_id").alias("doc_b"), F.col("p").alias("pb"), "g"
    )
    pairs = a.join(b, "g").filter(F.col("doc_a") < F.col("doc_b"))
    w = Window.partitionBy(
        "doc_a", "doc_b", (F.col("pa") - F.col("pb"))
    ).orderBy("pa")
    islands = pairs.select(
        "doc_a",
        "doc_b",
        "pa",
        (F.col("pa") - F.row_number().over(w)).alias("grp"),
        (F.col("pa") - F.col("pb")).alias("diag"),
    )
    runs = islands.groupBy("doc_a", "doc_b", "diag", "grp").agg(
        F.count(F.lit(1)).alias("run")
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg((F.max("run") + (k - 1)).cast("long").alias("max_overlap_tokens"))
        .filter(F.col("max_overlap_tokens") >= min_overlap_tokens)
    )


# ---------------------------------------------------------------------------
# Semantic (SemDeDup-shape) dedup — the operator behind the registered
# dedup_semantic_clusters query, with the centroid set as a parameter so
# the production path can use TRAINED centroids (train_ivf_centroids on
# a bounded sample) while the oracle-paired query keeps its
# deterministic first-N-rows centroid twin.
# ---------------------------------------------------------------------------
def semantic_bucket_counts(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hyperplanes: list[list[float]] | None = None,
    bands: int = 8,
) -> DataFrame:
    """(id, composite ``cell/band-bucket``, windowed count ``_n``) — the
    guarded-join input of :func:`semantic_dedup`, exposed so audits and
    bench sidecars can check the over-cap invariant (e.g. "no sf0.1
    bucket exceeds bucket_cap, so star == drop") against the SAME
    assembly the operator prices, not a re-derived approximation."""
    assigned = ivf_assign(
        vectors, centroids, id_col=id_col, vec_col=vec_col, with_vector=False
    )
    buckets = hyperplane_lsh_buckets(vectors, id_col, vec_col, hyperplanes, bands)
    # distinct is a near-no-op on unique (id, bucket) rows, but its
    # Exchange is reused by both self-join sides, so the
    # centroid-assignment subtree computes once (A/B in the registered
    # query's docstring: 4.5 s stable vs 4.8-8.8 s cold recompute).
    cb = (
        buckets.join(assigned, id_col)
        .select(
            F.col(id_col),
            F.concat(
                F.col("centroid_id").cast("string"), F.lit("/"), F.col("bucket")
            ).alias("bucket"),
        )
        .distinct()
    )
    wb = Window.partitionBy("bucket")
    return cb.withColumn("_n", F.count(F.lit(1)).over(wb))


def _mean_hub_pairs(
    members: DataFrame,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    key_col: str,
    sample_mod: int = 50,
) -> DataFrame:
    """Hub pairs for over-cap groups: for each ``key_col`` group, the
    hub is the member most similar to the group's MEAN vector (the
    "medoid" in the SemDeDup sense — the best single representative),
    and every other member pairs with it: O(n) pairs, exact-cosine
    priced downstream like any candidate.

    Scale shape: the mean comes from a deterministic hash sample
    (xxhash64(id) % sample_mod == 0) — an over-cap group has >
    bucket_cap members, so the sample is a law-of-large-numbers
    estimate of the mean DIRECTION, which is all the argmax needs; the
    rare group whose sample comes up empty degrades to the min-id
    (star) hub via a null score. The sampled members posexplode to
    (key, dim, x) for one partial-agg sum, the per-key mean is
    reassembled into a single ARRAY row (64 collect_list elements,
    bounded by the dimension), and ALL members score against it with a
    JVM higher-order dot — no corpus-wide explode, no per-pair work.
    The hub argmax is a per-key max over (rounded score, -id): rounding
    to 4 dp makes float-sum reorder noise lose to the deterministic id
    tiebreak. Returns (doc_a=hub, doc_b=member, key_col).

    Survivor guarantee: a pair whose MEMBER side is itself another
    key's hub is re-oriented to canonical id order (smaller id keeps).
    Without this, two over-cap buckets sharing a tight clique but
    electing different hubs (their means differ with their co-tenants)
    drop each other's hub and the clique loses EVERY copy — observed
    on the XL stress before the fix: mega_dropped == 150000, keeper
    included. With it, any pair that targets a hub is id-ordered, so
    the minimum-id hub can never appear on a dropped side of a hub
    pair: every tight clique keeps exactly its min-id hub (sub-tau
    hubs of foreign buckets cannot drop it either — the cosine
    confirm rejects those pairs downstream)."""
    mem = members.join(
        vectors.select(F.col(id_col), F.col(vec_col)), id_col
    ).select(key_col, id_col, vec_col)
    # No per-key "guaranteed member" window here: a key whose hash
    # sample comes up empty (P ~ (1-1/mod)^cap, ~0.03 % at the
    # production cap) simply finds no mean and falls back to the
    # min-id hub below (the star rule) via the left join's null score —
    # cheaper than the full window pass a guarantee would cost.
    sampled = mem.filter(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == 0
    )
    dims = sampled.select(
        key_col, F.posexplode(F.col(vec_col)).alias("_pos", "_x")
    )
    mean_arr = (
        dims.groupBy(key_col, "_pos")
        .agg(F.sum("_x").alias("_mx"))
        .groupBy(key_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_mx"))),
                lambda s: s["_mx"],
            ).alias("_mv")
        )
    )
    scored = mem.join(mean_arr, key_col, "left").select(
        key_col,
        id_col,
        F.coalesce(
            F.round(
                dot_expr(vec_col, "_mv")
                / F.sqrt(dot_expr(vec_col, vec_col)),
                4,
            ),
            F.lit(0.0),
        ).alias("_ms"),
    )
    # Hub election and the survivor guarantee are BOTH window functions
    # over the single scored relation — per-key argmax, then a
    # per-ID max marking "is a hub of ANY key" (the flip test). The
    # first cut built these as a groupBy + two joins (members x hubs
    # for pairs, pairs x distinct-hub-set for the flip) and paid for it
    # in lineage: every consumer re-derived the whole bucket-count
    # subtree, and the sf0.1 bench vertical (zero over-cap buckets, so
    # ALL of this is empty) measured a 46 % premium over drop. Stacked
    # windows keep one consumer chain; re-measured premium ~9-17 %,
    # and the XL all-over-cap stress wall fell 295 -> 100 s.
    wk2 = Window.partitionBy(key_col)
    wid = Window.partitionBy(id_col)
    scored = (
        scored.withColumn(
            "_hub",
            -F.max(
                F.struct(F.col("_ms"), (-F.col(id_col)).alias("_ni"))
            ).over(wk2)["_ni"],
        )
        .withColumn(
            "_hub_any",
            F.max(
                F.when(F.col(id_col) == F.col("_hub"), 1).otherwise(0)
            ).over(wid),
        )
    )
    # survivor guarantee (docstring): member-side hubs get id-ordered.
    flip = (F.col("_hub_any") == 1) & (F.col(id_col) < F.col("_hub"))
    return scored.filter(F.col(id_col) != F.col("_hub")).select(
        F.when(flip, F.col(id_col)).otherwise(F.col("_hub")).alias("doc_a"),
        F.when(flip, F.col("_hub")).otherwise(F.col(id_col)).alias("doc_b"),
        key_col,
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hyperplanes: list[list[float]] | None = None,
    bands: int = 8,
    bucket_cap: int = 400,
    tau: float = 0.45,
    overcap: str = "drop",
    hub_sample_mod: int = 50,
    refine_hyperplanes: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup restated Spark-first (ref: Abbas et al. 2023 sketch —
    cluster, then drop within-cluster near-duplicates): a vector is
    DROPPED when a lower-id vector in the SAME semantic cell scores
    rounded-cosine >= tau; its keeper is the smallest such partner.

    Scale shape: the centroid assignment is a corpus x broadcast-K
    linear pass; candidates come from an equi-join on the
    (cell, hyperplane-band-bucket) composite key with a windowed-count
    mega-bucket guard, so the naive O(cell^2) within-cluster pairwise
    step never materializes — cells grow linearly with the corpus, the
    guard keeps per-bucket work bounded. Exact cosine prices only the
    guarded candidates. At 100 TB: train centroids on a sample
    (train_ivf_centroids), broadcast them, and this whole pipeline is
    two shuffles (bucket self-join + final group-by).

    overcap decides what happens to buckets LARGER than bucket_cap:

    - "drop" (default, the oracle-paired live behavior): the bucket is
      excluded from pairing entirely. Bounded, but a tight mega-cluster
      (every member in ONE bucket) contributes no candidates at all —
      the round-11 XL stress measured ~0 recall on a 150k-vector
      mega-cluster for exactly this reason.
    - "star": over-cap buckets pair each member with the bucket's
      MIN-id member only — O(n) pairs instead of O(n^2), still exact-
      cosine priced. For a tight cluster (pairwise cos ~ 1) the star
      captures every member, so mega-cluster recall is ~100 % at
      linear cost; for a loose over-cap bucket it under-links (a
      member is dropped only if it matches the bucket minimum), which
      is the documented recall trade vs the unbounded all-pairs join.
      Round 13 measured exactly how bad that trade gets: on a 5k-member
      loose band-collision cluster (pairwise cos in [0.5, 1]) the
      min-id member's own angle draw decides everything, and the
      measured star recall was 0.0000 (tools/skew_stress_results.json,
      semantic_dedup_loose_knob).
    - "medoid": like star, but the hub is the member most similar to
      the bucket's MEAN vector — the best possible single
      representative (see :func:`_mean_hub_pairs`; a cheaper hub
      candidate, the member with the highest centroid-assignment
      cosine, was tried first and REFUTED on the loose stress corpus:
      with member-sampled centroids the "most central member" is just
      whichever member happens to be the centroid, whose angle draw is
      as arbitrary as star's min id — measured recall 0.0000). Same
      O(n) pair count as star plus a sampled-mean pass; on a tight
      cluster any hub works (recall ~100 %), and on the loose stress
      cluster the mean-hub is the best single hub: numpy ground truth
      puts the ceiling of ANY single-hub policy at 0.833 there,
      because the residual truth pairs exist only between specific
      mid-angle member pairs. Pairs are oriented hub -> member (the
      member is the dropped side), so the keeper of an over-cap drop
      may have a HIGHER id than the dropped row — a documented
      deviation from the lower-id-keeper contract that only over-cap
      buckets exhibit. A medoid that is itself a near-dup of a
      lower-id vector via an under-cap bucket can still be dropped by
      that pair (keeper chains, resolve with
      dedup_connected_components — the same chain class the base
      semantics already has).
    - "refine": over-cap buckets are RE-BUCKETED with a fresh,
      2x-wider hyperplane family (``refine_hyperplanes``, default
      random_hyperplanes(2*len(hyperplanes), dim, seed=43)) keyed by
      (cell, refined band-bucket) — one recursion level, no loop.
      Members of an over-cap bucket that are genuinely similar keep
      colliding under the finer bits (P ~ (1 - theta/pi)^bits per
      band), while loose co-tenants separate; refined sub-buckets
      under the cap get the normal all-pairs join, and sub-buckets
      STILL over the cap (a tight mega-cluster never splits — its
      members are near-identical under any hyperplane) fall back to
      the medoid hub. Cost: a linear re-hash of over-cap members plus
      capped sub-bucket pairs. On the loose stress cluster this lifts
      recall past any single-hub ceiling (numpy simulation 0.957 vs
      0.833 medoid / 0.0 star, at ~1.1M confirm pairs vs 12.5M
      unbounded); on the tight XL mega-cluster it degrades to exactly
      the medoid path (recall 1.0).

    hub_sample_mod controls the deterministic mean-sample density for
    the medoid/refine hub (1 = every member; 50 = ~2 % of an over-cap
    bucket, plenty for a >400-member mean direction).
    """
    if hyperplanes is None:
        # Plan composition must stay fully lazy (no hidden Spark jobs
        # while a caller is still assembling a pipeline), so the
        # dimension probe that used to live here is gone. Pass
        # hyperplanes=random_hyperplanes(4*bands, dim) explicitly, or
        # use semantic_dedup_trained (already eager through KMeans.fit,
        # so it derives the dimension from its trained centroids).
        raise ValueError(
            "semantic_dedup: hyperplanes is required — pass "
            "random_hyperplanes(4*bands, dim, seed=...) (dim = embedding "
            "length) to keep plan composition lazy, or call "
            "semantic_dedup_trained which derives them from its trained "
            "centroids"
        )
    if overcap not in ("drop", "star", "medoid", "refine"):
        raise ValueError(f"semantic_dedup: unknown overcap mode {overcap!r}")
    counted = semantic_bucket_counts(
        vectors, centroids, id_col=id_col, vec_col=vec_col,
        hyperplanes=hyperplanes, bands=bands,
    )
    wb = Window.partitionBy("bucket")
    if overcap == "star":
        # min shares the count's window pass (same partition spec, no
        # ordering): one WindowExec either way.
        counted = counted.withColumn("_min", F.min(id_col).over(wb))
    guarded = counted.filter(F.col("_n") <= bucket_cap)
    a = guarded.select(F.col(id_col).alias("doc_a"), "bucket")
    b = guarded.select(F.col(id_col).alias("doc_b"), "bucket")
    cell_of_bucket = (
        F.split_part(F.col("bucket"), F.lit("/"), F.lit(1))
        .cast("long")
        .alias("cell_id")
    )
    cand = (
        a.join(b, "bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", cell_of_bucket)
    )
    # A pair lands in cand once per shared band-bucket and an over-cap
    # pair can coincide with a guarded-bucket pair, so ONE distinct
    # after the union covers every branch — distinct-ing cand first
    # would add a second full shuffle on the pipeline's largest
    # intermediate for no semantic gain (round-12 advice).
    if overcap == "star":
        # hub -> member with hub = bucket min, so doc_a < doc_b always.
        extra = (
            counted.filter(F.col("_n") > bucket_cap)
            .filter(F.col(id_col) != F.col("_min"))
            .select(
                F.col("_min").alias("doc_a"),
                F.col(id_col).alias("doc_b"),
                cell_of_bucket,
            )
        )
        cand = cand.unionByName(extra).distinct()
    elif overcap == "medoid":
        # hub -> member with hub = mean-nearest member (doc_a may
        # exceed doc_b — see the docstring).
        over = counted.filter(F.col("_n") > bucket_cap).select(id_col, "bucket")
        extra = _mean_hub_pairs(
            over, vectors, id_col, vec_col, "bucket", sample_mod=hub_sample_mod
        ).select("doc_a", "doc_b", cell_of_bucket)
        cand = cand.unionByName(extra).distinct()
    elif overcap == "refine":
        if refine_hyperplanes is None:
            refine_hyperplanes = random_hyperplanes(
                2 * len(hyperplanes), len(hyperplanes[0]), seed=43
            )
        # One distinct row per over-cap member (cells are unique per
        # id, so this is |over-cap ids| rows), re-hashed with the
        # finer family; the refined key is (cell | refined band
        # bucket) — the top-level band that flagged the member as
        # over-cap already served its purpose, keeping it in the key
        # would only duplicate every candidate across band pairs.
        over_ids = (
            counted.filter(F.col("_n") > bucket_cap)
            .select(F.col(id_col), cell_of_bucket)
            .distinct()
        )
        refined = hyperplane_lsh_buckets(
            vectors.join(over_ids.select(id_col), id_col, "left_semi"),
            id_col, vec_col, refine_hyperplanes, bands,
        )
        sub = (
            over_ids.join(refined, id_col)
            .select(
                F.col(id_col),
                F.col("cell_id"),
                F.concat(
                    F.col("cell_id").cast("string"), F.lit("|"), F.col("bucket")
                ).alias("_rkey"),
            )
        )
        wr = Window.partitionBy("_rkey")
        sub = sub.withColumn("_rn", F.count(F.lit(1)).over(wr))
        sub_ok = sub.filter(F.col("_rn") <= bucket_cap)
        ra = sub_ok.select(F.col(id_col).alias("doc_a"), "_rkey", "cell_id")
        rb = sub_ok.select(F.col(id_col).alias("doc_b"), "_rkey")
        sub_pairs = (
            ra.join(rb, "_rkey")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "cell_id")
        )
        leaf = sub.filter(F.col("_rn") > bucket_cap).select(id_col, "_rkey")
        leaf_pairs = _mean_hub_pairs(
            leaf, vectors, id_col, vec_col, "_rkey", sample_mod=hub_sample_mod
        ).join(
            sub.select("_rkey", "cell_id").distinct(), "_rkey"
        ).select("doc_a", "doc_b", "cell_id")
        cand = cand.unionByName(sub_pairs).unionByName(leaf_pairs).distinct()
    else:
        cand = cand.distinct()
    # Norms are projected BEFORE the pair join, so each vector pays its
    # sqrt(dot(v,v)) once instead of once per candidate pair: cosine_expr
    # inlined per pair evaluates THREE higher-order aggregates (dot(a,b),
    # dot(a,a), dot(b,b)) and the XL skew-stress straggler (600k vectors,
    # 150k mega-cluster) attributed its 28-44 s worst task to exactly
    # this pair-pricing stage. dot/(na*nb) is the same doubles in the
    # same order as cosine_expr, so the rounded scores are bit-identical.
    v = sql_ident(vec_col)
    nrm = F.expr(f"sqrt({dot_sql(v, v)})")
    cos_sim = F.expr(f"round({dot_sql('va', 'vb')} / (na * nb), 4)")
    ea = vectors.select(
        F.col(id_col).alias("doc_a"),
        F.col(vec_col).alias("va"),
        nrm.alias("na"),
    )
    eb = vectors.select(
        F.col(id_col).alias("doc_b"),
        F.col(vec_col).alias("vb"),
        nrm.alias("nb"),
    )
    near = (
        cand.join(ea, "doc_a")
        .join(eb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "cell_id",
            cos_sim.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= F.lit(tau))
    )
    return near.groupBy(F.col("doc_b").alias("dropped_id")).agg(
        F.min("doc_a").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_partners"),
        F.min("cell_id").alias("cell_id"),
    )


def semantic_dedup_trained(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    sample_fraction: float | None = None,
    seed: int = 42,
    **kwargs,
) -> DataFrame:
    """semantic_dedup with centroids TRAINED on a (bounded) sample via
    train_ivf_centroids — the production SemDeDup recipe. Deterministic
    for a fixed seed (seeded sample + seeded KMeans). At 100 TB pass a
    small sample_fraction: KMeans cost is per-point x per-center, and
    the centroid quality needed here is coarse cell structure, not
    convergence on the full corpus."""
    sample = vectors
    if sample_fraction is not None:
        sample = vectors.sample(fraction=sample_fraction, seed=seed)
    cent = train_ivf_centroids(
        sample, id_col=id_col, vec_col=vec_col, n_cells=n_cells, seed=seed
    )
    if kwargs.get("hyperplanes") is None:
        # This path is already eager (KMeans.fit above is a full
        # action), so deriving the hyperplane dimension here adds no
        # surprise job — and cent is a driver-local relation, so the
        # head() below is a LocalTableScan, not a corpus scan.
        head = cent.select(vec_col).head()
        if head is None or head[0] is None:
            raise ValueError(
                "semantic_dedup_trained: trained centroids are empty — "
                "the input corpus has no rows"
            )
        bands = kwargs.get("bands", 8)
        kwargs["hyperplanes"] = random_hyperplanes(
            4 * bands, len(head[0]), seed=42
        )
    return semantic_dedup(vectors, cent, id_col=id_col, vec_col=vec_col, **kwargs)
