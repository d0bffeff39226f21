"""The round-8 slate (plans/staged_r8.py): every query registers at
import and must match its DuckDB oracle."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR_SMOKE, slate


def _staged():
    return slate("staged_r8")


def test_staged_now_registered():
    """Every slate name is live in the registry with its oracle."""
    from cioos_siooc_data_transform_spark.plans import all_oracles, all_queries

    names = set(STAGED_NAMES)
    missing = names - set(all_queries())
    assert not missing, f"slate queries not registered: {missing}"
    missing_o = names - set(all_oracles())
    assert not missing_o, f"slate oracles not registered: {missing_o}"


def test_activate_idempotent_after_import():
    """Registration happens once, at import: registering a served
    builder again under its own name and oracle is a no-op."""
    from cioos_siooc_data_transform_spark.plans import (
        all_oracles,
        all_queries,
        register,
    )

    before = (all_queries(), all_oracles())
    for name, fn in slate("staged_r8")[0].items():
        register(name, before[1][name])(fn)
    assert (all_queries(), all_oracles()) == before


STAGED_NAMES = [
    # wave A — ACF profile, language JS matrix, basket sizes, dispersion
    "events_acf_profile",
    "lang_js_divergence_matrix",
    "orders_basket_size_distribution",
    "part_brand_price_dispersion",
    # wave B — inter-purchase quartiles, seasonality strength, Tukey
    "orders_interpurchase_percentiles",
    "events_hourly_seasonality_strength",
    "supplier_acctbal_tukey_outliers",
    # wave C — partial corr, entropy-vs-volume, categorical drift
    "lineitem_partial_corr_price_qty",
    "events_user_entropy_vs_volume",
    "orders_priority_mix_drift",
    # wave D — weekend share, tax x discount grid, repeat rate
    "orders_weekend_share",
    "lineitem_tax_discount_grid",
    "customer_repeat_rate",
    # wave E — real-shape TPC-H over the derived partsupp
    "q2_partsupp_min_cost",
    "q9_partsupp_profit",
    "q11_partsupp_important_stock",
    "q16_partsupp_supplier_count",
    "q20_partsupp_promotion",
    # wave F — GSW energy/conversion tranche
    "gsw_entropy_from_t",
    "gsw_spiciness0",
    "gsw_internal_energy",
    "gsw_t_from_ct",
    "gsw_conversion_pairs",
    # wave G — deep spiciness, SA-from-rho inversion, composed IVF-PQ
    "gsw_spiciness_deep",
    "gsw_sa_from_rho",
    "similarity_ivf_pq_topk",
    # wave H — GSW ice tranche (IAPWS-06 Gibbs derivatives)
    "gsw_rho_ice",
    "gsw_entropy_ice",
    "gsw_cp_ice",
    "gsw_enthalpy_ice",
    # wave I — GSW energy tail
    "gsw_enthalpy_diff",
    "gsw_ct_from_enthalpy",
    "gsw_ct_freezing",
    "gsw_latentheat_melting",
    "latentheat_evap_hs84",
    # wave J — scale-safe global ranking (two-pass range-bucket operator)
    "pareto_share_two_pass",
    # wave K — second-order stability coefficients (analytic derivatives)
    "gsw_cabbeling",
    "gsw_thermobaric",
    # wave L — event-stream operational analytics
    "events_poisson_rate_ci",
    "events_peak_hour_stability",
    "events_runlength_profile",
    # wave M — graph structure metrics
    "graph_clustering_coefficient",
    "graph_common_neighbors_linkpred",
    # wave N — corpus/embedding second-moment diagnostics
    "text_yule_k",
    "embedding_covariance_top_pair",
    "similarity_cosine_histogram",
    # wave O — balance / finance / sketch round-out
    "stratified_oversample_balance",
    "orders_cohort_ltv_curve",
    "nation_trade_balance",
    "sketch_countmin_heavy_hitters",
]


def test_staged_name_list_is_complete():
    qs, _ = _staged()
    assert sorted(qs) == sorted(STAGED_NAMES)


@pytest.mark.parametrize("name", STAGED_NAMES)
def test_staged_query_matches_oracle(spark, name):
    from tests.oracle_harness import compare_query

    qs, os_ = _staged()
    ok, msg = compare_query(spark, SF_DIR_SMOKE, qs[name], os_[name])
    assert ok, f"{name}: {msg}"


def test_two_pass_rank_equals_global_window(spark):
    """operators/windows.ranked_cumsum_two_pass must reproduce the
    global-window rank/cumsum bit-for-bit (integer values), and its
    physical plan must contain NO single-partition window over the key
    table — the only unpartitioned window runs over the <= n_buckets
    bucket-stats rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )
    from cioos_siooc_data_transform_spark.session import read_table

    cust = (
        read_table(spark, SF_DIR_SMOKE, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
            .cast("long")
            .alias("v")
        )
    )
    got = {
        r.o_custkey: (r.rnk, r.cum)
        for r in ranked_cumsum_two_pass(cust, "v", "o_custkey", n_buckets=32)
        .select("o_custkey", "rnk", "cum")
        .collect()
    }
    w = Window.orderBy(F.col("v").desc(), F.col("o_custkey"))
    want = {
        r.o_custkey: (r.rnk, r.cum)
        for r in cust.select(
            "o_custkey",
            F.row_number().over(w).cast("long").alias("rnk"),
            F.sum("v").over(w).cast("long").alias("cum"),
        ).collect()
    }
    assert got == want

    plan = (
        ranked_cumsum_two_pass(cust, "v", "o_custkey", n_buckets=32)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if "Window [" not in line:
            continue
        spec = line[line.index("Window [") :]
        if "__bucket" in spec and "windowspecdefinition(__bucket" in spec:
            continue  # per-bucket window (partitioned) or bucket-table offsets
        raise AssertionError(f"unexpected window spec: {spec[:160]}")
