"""Physical-plan regression tests: filter pushdown, column pruning, and
broadcast joins must survive refactors (the 100 TB properties)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR_SMOKE


def _plan(spark, name: str) -> str:
    from cioos_siooc_data_transform_spark.plans import all_queries

    df = all_queries()[name](spark, SF_DIR_SMOKE)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q1_pushdown_and_pruning(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    # column pruning: the scan must not read unused columns
    assert "l_partkey" not in plan.split("ReadSchema")[1][:400]


def test_q6_all_predicates_reach_scan(spark):
    plan = _plan(spark, "q6_forecast_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity" in plan
    assert "GreaterThanOrEqual(l_discount" in plan
    # pruning: only the four referenced columns are read
    read = plan.split("ReadSchema")[1][:300]
    assert "l_extendedprice" in read and "l_partkey" not in read


def test_broadcast_joins(spark):
    for name in ["broadcast_lookup_join", "q5_supplier_volume", "positional_schema_join"]:
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, name


def test_containment_join_broadcasts_dimension(spark):
    plan = _plan(spark, "geo_containment_join")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_semi_and_anti_joins_planned(spark):
    assert "LeftSemi" in _plan(spark, "semi_join_present")
    assert "LeftAnti" in _plan(spark, "anti_join_orphans")


def test_no_cartesian_in_asof(spark):
    plan = _plan(spark, "asof_join_events")
    assert "CartesianProduct" not in plan
    assert "Window" in plan  # union+window formulation, not a range join


def test_no_cartesian_in_any_dedup_or_similarity_plan(spark, registry_plans):
    """Every dedup/similarity operator must be blocked (equi-join on a
    bucket/block key) — an all-pairs cartesian is the one plan shape that
    can never survive 100 TB. brute-force top-k is exempt: its crossJoin
    against the BROADCAST query set is the intended streaming plan."""
    names = [
        n for n in registry_plans
        if n.startswith("dedup_") or n.startswith("similarity_")
    ]
    assert len(names) >= 8
    for name in names:
        plan = registry_plans[name].formatted
        # A true cartesian (two unbounded sides) is always wrong.
        assert "CartesianProduct" not in plan, name
        # Pair-generating dedup ops must be bucket equi-joins; a nested
        # loop there means an all-pairs explosion. (similarity_* may use
        # BroadcastNestedLoopJoin: streaming the corpus against a tiny
        # broadcast query/centroid set is the intended scale plan.)
        # Two dedup exemptions from the BNLJ ban:
        # - dedup_semantic_clusters: its cell assignment streams the
        #   corpus against the 16-row broadcast centroid set (linear,
        #   the same intended shape as similarity_ivf_topk); its PAIR
        #   join is still a guarded (cell, band-bucket) equi-join,
        #   which the CartesianProduct assertion above still covers.
        # - dedup_layer_funnel (activated round 5): its final row is
        #   three SINGLE-ROW aggregates cross-joined (scalar assembly);
        #   every pair-generating join in it remains a bucket equi-join
        #   (the exemption test_staged_r5 carried while it was parked).
        # - dedup_lsh_recall_audit (activated round 6): same scalar
        #   assembly — three single-row aggregates cross-joined into
        #   the one-row audit result; its pair-generating joins are
        #   bucket/shingle equi-joins (exemption carried over from
        #   test_staged_r6's parked-state test).
        # - dedup_vocab_impact (activated round 9): the same scalar
        #   assembly again — the before/after vocabulary counts are two
        #   SINGLE-ROW aggregates cross-joined; the keeper relation is
        #   an md5 equi-join.
        # - dedup_jaccard_threshold_sweep (activated round 10): the
        #   bounded pair set (hot-shingle-capped inverted-index
        #   equi-join, never quadratic) theta-joins a 9-ROW broadcast
        #   threshold table (BuildLeft on the constant side) — the
        #   intended stream-vs-broadcast sweep shape; its
        #   pair-generating join remains a shingle equi-join, which the
        #   CartesianProduct assertion above still covers.
        # - dedup_transitivity_audit (activated round 11): the same
        #   scalar assembly — its one-row result cross-joins THREE
        #   SINGLE-ROW aggregates (edge count x degree stats x triangle
        #   count); every pair-generating join (hot-shingle-capped
        #   inverted-index pairs, a<b<c triangle closure on the bounded
        #   near-dup edge set) is an equi-join, which the
        #   CartesianProduct assertion above still covers.
        # - dedup_lsh_band_tradeoff / dedup_bucket_cap_sweep (activated
        #   round 12): the same scalar assembly per sweep point — each
        #   output row cross-joins three SINGLE-ROW aggregates
        #   (candidate count x hit count x exact-pair count); the
        #   pair-generating joins (banded LSH bucket equi-join with the
        #   mega-bucket cap, hot-shingle-capped inverted-index exact
        #   pairs) remain equi-joins, which the CartesianProduct
        #   assertion above still covers.
        # - dedup_lsh_precision_audit (activated round 13): the same
        #   scalar assembly — the per-pair exact-Jaccard relation
        #   cross-joins the SINGLE-ROW candidate count so precision can
        #   divide by it; the pair-generating joins (4x4-band cap-50
        #   LSH bucket equi-join, hot-shingle-capped inverted-index
        #   confirm join) remain equi-joins, which the CartesianProduct
        #   assertion above still covers.
        # - dedup_shingle_size_sweep (activated round 13): the same
        #   scalar assembly per sweep point — each output row
        #   cross-joins TWO SINGLE-ROW aggregates (shingle-type count x
        #   pair count); the pair-generating join per shingle size
        #   remains the hot-shingle-capped inverted-index equi-join.
        # - dedup_semantic_tau_sweep (activated round 13): the bounded
        #   candidate-pair set (cap-guarded hyperplane-LSH bucket
        #   equi-join, never quadratic) theta-joins a 3-ROW broadcast
        #   tau table — the same intended stream-vs-broadcast sweep
        #   shape as dedup_jaccard_threshold_sweep; its pair-generating
        #   join remains a bucket equi-join, which the CartesianProduct
        #   assertion above still covers.
        if name.startswith("dedup_") and name not in (
            "dedup_semantic_clusters",
            "dedup_layer_funnel",
            "dedup_lsh_recall_audit",
            "dedup_vocab_impact",
            "dedup_jaccard_threshold_sweep",
            "dedup_transitivity_audit",
            "dedup_lsh_band_tradeoff",
            "dedup_bucket_cap_sweep",
            "dedup_lsh_precision_audit",
            "dedup_shingle_size_sweep",
            "dedup_semantic_tau_sweep",
        ):
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_decontamination_broadcasts_benchmark_side(spark):
    """The benchmark shingle set is small by construction — the training
    side must stream through a broadcast join, never shuffle on shingle."""
    plan = _plan(spark, "decontaminate_benchmark_overlap")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_interval_join_is_binned_equi_join(spark):
    """The range predicate must run as a residual filter on a bin
    equi-join — a nested-loop range join is the scale-killer shape."""
    plan = _plan(spark, "interval_bin_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q18_membership_is_semi_join(spark):
    plan = _plan(spark, "q18_large_orders")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_lm_scoring_broadcasts_vocab(spark):
    """The unigram frequency table is vocabulary-sized and must broadcast
    — a shuffle join on the token key is the Zipf-skew trap."""
    plan = _plan(spark, "lm_unigram_logprob")
    assert "BroadcastHashJoin" in plan


def _plan_at(spark, name: str, sf_dir: str) -> str:
    from cioos_siooc_data_transform_spark.plans import all_queries

    df = all_queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@pytest.mark.parametrize(
    "name",
    ["lm_unigram_logprob", "decontaminate_benchmark_overlap", "text_tfidf"],
)
def test_broadcasts_survive_bench_scale_statistics(spark, name):
    """The broadcast plan shape must hold at the BENCH scale factor too:
    AQE/statistics changes with 100× input size must not flip the small
    side into a shuffle join. Statically pinned via broadcast() hints in
    the plans, so this guards against a refactor dropping the hint."""
    import os

    sf_dir = "/root/testdata/sf0.1"
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.1 testdata not present")
    plan = _plan_at(spark, name, sf_dir)
    assert "BroadcastHashJoin" in plan, name
    assert "CartesianProduct" not in plan, name


def test_broadcast_threshold_zero_still_broadcasts_hinted_sides(spark):
    """With autoBroadcastJoinThreshold=-1 (no size-based broadcasts at
    all — the adversarial cluster default), the explicitly hinted small
    sides must STILL broadcast: the scale property belongs to the plan,
    not to a size heuristic that flips with statistics."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name in [
            "lm_unigram_logprob",
            "decontaminate_benchmark_overlap",
            "text_tfidf",
        ]:
            plan = _plan(spark, name)
            assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_centroid_distance_broadcasts_centroids(spark):
    """The corpus side must stream; only the labels-sized centroid-array
    table may broadcast. A hash re-join on label would shuffle the whole
    corpus a second time."""
    plan = _plan(spark, "embedding_centroid_distance")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_rfm_has_no_global_window(spark):
    """RFM scores by broadcast quartile cutpoints, NOT ntile over an
    unpartitioned window (which would serialize the table through one
    task at scale)."""
    plan = _plan(spark, "rfm_segmentation")
    assert "Window" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoop" in plan


def test_q15_scalar_max_is_broadcast(spark):
    plan = _plan(spark, "q15_top_supplier")
    assert "BroadcastExchange" in plan or "BroadcastNestedLoop" in plan
    assert "CartesianProduct" not in plan
    # the shipdate window must reach the parquet scan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_lateral_decorrelates_to_window(spark):
    """LATERAL + LIMIT must NOT plan per-row re-execution: Catalyst
    decorrelates it into a window-and-filter over one equi-join."""
    plan = _plan(spark, "lateral_top_orders")
    assert "CartesianProduct" not in plan
    assert "Window" in plan


# Queries whose construction is eager BY DESIGN, each category
# documented in the query/operator docstring. Everything else must
# build without running anything beyond parquet footer/schema reads.
_EAGER_BY_DESIGN = {
    # Iterative algorithms whose rounds are cut with localCheckpoint
    # barriers — the checkpoint IS the algorithm. (Even eager=False
    # checkpoints execute the upstream exchanges at build time: under
    # AQE, producing the checkpoint RDD materializes the intermediate
    # query stages.)
    "dedup_components",
    "dedup_canonical_keeper",
    "dedup_component_size_histogram",
    "dedup_layer_funnel",
    "graph_pagerank_iterations",
    "graph_triangle_count",
    # Round-7 activation: the Markov family shares one checkpointed
    # transition-count relation (plans/staged_r7.py _transition_counts
    # — reused by three CTE-iteration consumers), and the lagged
    # cross-correlation checkpoints its per-minute grid for the
    # multi-lag self-join. Same category as above: the eager=False
    # checkpoint finalizes the (dimension-bounded) upstream stages at
    # build time under AQE.
    "events_markov_stationary",
    "events_markov_entropy_rate",
    "events_lagged_crosscorr",
    # Round-8 runway (plans/staged_r8.py): the wave-M graph queries
    # checkpoint the shared support>=2 co-purchase edge list — the
    # graph_triangle_count pattern on the same relation.
    "graph_clustering_coefficient",
    "graph_common_neighbors_linkpred",
    # Write-once bucketed-table derivation: the saveAsTable DDL is the
    # operator being demonstrated (operators/bucketing.py cache).
    "dedup_exact_bucketed",
    "bucketed_colocated_join",
    # Whole-file IOS ingest: the parse cache materializes the 35-file
    # corpus once per session (sources/ios_source.py) — attributed to
    # whichever ios_* query warms it first, so the whole family is
    # covered by the prefix check below.
    # Bounded driver fetch pinned in the docstring: 4 seed vectors for
    # the deterministic PQ codebook (one 4-row collect, put in vec_id
    # order in Python; no sort job, not a scan).
    "similarity_pq_adc_topk",
    "similarity_ivf_pq_topk",
    # Write-once derived partsupp parquet (sources/partsupp.py) —
    # staged in plans/staged_r8.py, listed ahead of its round-8
    # activation.
    "q2_partsupp_min_cost",
    "q9_partsupp_profit",
    "q11_partsupp_important_stock",
    "q16_partsupp_supplier_count",
    "q20_partsupp_promotion",
    # Round-10 runway (plans/staged_r10.py wave F): iterative 3-core
    # peeling cuts every round with lazy checkpoints (the per-round
    # relation is referenced 4x — the checkpoint IS the algorithm),
    # and Adamic–Adar checkpoints the shared co-purchase edge list.
    "graph_kcore3_peeling",
    "graph_adamic_adar_linkpred",
    # Power iteration cuts each round's matvec with a lazy checkpoint
    # (u and v are each referenced twice per round).
    "embedding_pca_power_iteration",
    # Round-11 runway (plans/staged_r11.py): source-purity audit runs
    # the pointer-jumping connected-components operator (per-round
    # checkpoints ARE the algorithm — the dedup_components pattern),
    # and the PQ utilization audit shares similarity_pq_adc_topk's
    # documented 16-row bounded codebook collect.
    "dedup_component_source_purity",
    "similarity_pq_codebook_utilization",
    # Round-12 activation (plans/staged_r12.py): ADC rank correlation
    # shares similarity_pq_adc_topk's documented bounded codebook
    # collect (4 seed vectors) plus a corpus count() that sizes k_top
    # to the whole corpus for the full-ordering comparison.
    "similarity_adc_rank_correlation",
}


def test_plan_construction_runs_no_hidden_actions(registry_plans):
    """Building EVERY registered query plan must be lazy: the only
    Spark jobs allowed during construction are parquet footer/schema
    reads ('parquet at ...' stages — unavoidable, schema inference IS
    plan building). A collect/head/toPandas/freqItems-style
    materialization surfaces as a non-parquet stage and fails the
    audit. (Round-5 verdict: sketch_frequent_items hid a
    freqItems().collect(); it is lazy now, and this pins the whole
    registry.) The per-name job-group tracking happens once in the
    session-scoped registry_plans fixture (conftest.py) that all the
    registry-wide audits share."""
    offenders = {
        name: rec.hidden_stages
        for name, rec in registry_plans.items()
        if rec.hidden_stages
        and name not in _EAGER_BY_DESIGN
        and not name.startswith("ios_")
    }
    assert not offenders, (
        "plan construction ran hidden non-schema Spark work: "
        f"{offenders}"
    )


# Queries allowed to keep an unpartitioned (single-partition) Window,
# each with the reason its input is bounded BY CONSTRUCTION. Everything
# else in the registry must have zero unpartitioned windows outside the
# two-pass operators' internal <=n_buckets/<=num_partitions offset
# tables (allowed globally by plan_guards.is_operator_internal). A new
# query that grows a global window must either migrate to the two-pass
# operators (operators/windows.py) or earn an entry here with a
# bounded-input justification.
_ALLOWED_UNPARTITIONED_WINDOWS = {
    "cumulative_distinct_users": "runs over the per-DAY rollup (calendar-bounded axis)",
    "doc_ngram_coverage_curve": "runs over a TakeOrdered(limit=1000) result",
    "events_markov_stationary": "runs over the distinct event-type state set (bounded alphabet)",
    "funnel_conversion_rates": "runs over the 3-row funnel-stage union of scalar aggregates",
    "interval_sweepline_backlog": "runs over the per-DAY sweep table (calendar-bounded axis)",
    "orders_lorenz_curve": "runs over the 10-row decile rollup",
    "orders_seasonal_trend_decomposition": "runs over the per-MONTH rollup (calendar-bounded axis)",
    "stratified_oversample_balance": "runs over the per-language rollup (bounded alphabet)",
    "weighted_sample_ares": "runs over a TakeOrdered(limit=200) result",
    # round-10 activations (pre-audited at staging; the one key-scaled
    # window in the slate, graph_degree_gini, was migrated onto
    # ranked_cumsum_two_pass BEFORE activation instead of allowlisted)
    "embedding_pca_power_iteration": "runs over a TakeOrdered(limit=8) loading result (bounded dims)",
    "events_ewma_daily": "runs over the per-DAY rollup (calendar-bounded axis)",
    "events_ljung_box": "runs over the per-DAY rollup + its 7-lag stack (calendar-bounded axis)",
    "events_runs_test": "runs over the per-DAY rollup; final row is a scalar cross-join assembly",
    "lineitem_cramers_v": "runs over the returnflag x shipdate-dow contingency table (bounded alphabets)",
    "orders_bollinger_bands": "runs over the per-DAY revenue rollup (calendar-bounded axis)",
    "orders_kaplan_meier": "runs over the per-DAY risk-set table (calendar-bounded axis)",
    # round-11 activations (pre-audited at staging; recorded in the
    # activation note at plans/staged_r11.py:30-50)
    "events_changepoint_binseg2": (
        "runs over the per-DAY rollup + TakeOrdered(limit=1) split picks "
        "(calendar-bounded axis)"
    ),
    "orders_max_drawdown": "runs over the per-MONTH revenue rollup (calendar-bounded axis)",
    "orders_rolling_corr_12m": "runs over the per-MONTH rollup (calendar-bounded axis)",
    # round-13 activations (pre-audited at staging; recorded in the
    # activation note at plans/staged_r13.py:45-50)
    "events_page_hinkley_drift": (
        "runs over the per-DAY rollup crossed with 1-row broadcast "
        "scalars (calendar-bounded axis)"
    ),
}


def test_no_unbounded_unpartitioned_window_registry_wide(registry_plans):
    """The round-8/9 migration invariant, pinned: no registered query
    may plan a Window over a single partition unless its input is
    bounded by construction — either the two-pass operators' internal
    bucket/pid offset tables (detected structurally) or a named
    allowlist entry above. This is what turns 'correct at sf0.1,
    one-task sort at 100 TB' from a per-round judge finding into a CI
    failure. Plans come from the shared registry_plans fixture."""
    from cioos_siooc_data_transform_spark.plan_guards import (
        find_unpartitioned_windows,
        is_operator_internal,
    )

    offenders: dict[str, list[str]] = {}
    stale_allowlist = set(_ALLOWED_UNPARTITIONED_WINDOWS) - set(registry_plans)
    for name, rec in registry_plans.items():
        found = [
            sig
            for (_w, sig) in find_unpartitioned_windows(rec.executed)
            if not is_operator_internal(sig)
        ]
        if found and name not in _ALLOWED_UNPARTITIONED_WINDOWS:
            offenders[name] = found
    assert not stale_allowlist, (
        f"allowlist names not in the registry: {sorted(stale_allowlist)}"
    )
    assert not offenders, (
        "unpartitioned Window over a non-allowlisted input "
        f"(migrate to operators/windows.py two-pass forms): {offenders}"
    )
