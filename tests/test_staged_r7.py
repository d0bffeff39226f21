"""The round-7 slate (plans/staged_r7.py): every query registers at
import and must match its DuckDB oracle."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_SMOKE, slate


def _staged():
    return slate("staged_r7")


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
    for name, fn in slate("staged_r7")[0].items():
        register(name, before[1][name])(fn)
    assert (all_queries(), all_oracles()) == before


STAGED_NAMES = [
    # wave A — GSW tranche 3
    "gsw_gravity",
    "gsw_rt_from_sp",
    "gsw_specvol_anom",
    # wave B — embedding-label structure
    "embedding_cell_label_purity",
    "embedding_fisher_score",
    # wave C — event-stream anomalies
    "events_minute_burst_zscore",
    "events_heavy_hitters",
    # wave D — SQL-surface round-out
    "orders_percentile_bands_exact",
    "events_cumulative_reset",
    "orders_null_aware_anti",
    # wave E — EWMA, grouped OLS, DF profile, assortativity
    "events_value_ewma",
    "lineitem_discount_elasticity",
    "dedup_shingle_df_profile",
    "graph_degree_assortativity",
    # wave F — seasonal index, audience Jaccard, packing audit, funnel
    "orders_seasonal_index",
    "events_type_audience_jaccard",
    "pack_fill_efficiency_audit",
    "funnel_window_constrained",
    # wave G — Benford audit, one-way ANOVA
    "lineitem_benford_audit",
    "part_type_price_anova",
    # wave H — skyline, bipartite density, Lorenz curve
    "part_price_size_skyline",
    "supplier_part_bipartite_density",
    "orders_lorenz_curve",
    # wave I — exact-integer power iteration
    "events_markov_stationary",
    # wave J — PK audit, winsorized mean, Duncan dissimilarity
    "table_pk_uniqueness_audit",
    "events_winsorized_mean",
    "segment_nation_dissimilarity",
    # wave K — trailing 12m RANGE window, int8 error audit, ship lag
    "orders_rolling_12m_revenue",
    "embedding_int8_error_audit",
    "orders_ship_lag_histogram",
    # wave L — session co-occurrence, burstiness, variance decomposition
    "events_session_cooccurrence",
    "text_term_burstiness",
    "lineitem_price_variance_decomposition",
    # wave M — Mood's median test, type affinity, lagged cross-corr
    "events_mood_median_test",
    "customer_type_affinity",
    "events_lagged_crosscorr",
    # wave N — Cramér's V, PMI pairs
    "orders_status_priority_cramers_v",
    "doc_word_pmi_pairs",
    # wave O — survival, crest factor, return-by-discount, dow-hour grid
    "customer_survival_curve",
    "events_peak_to_mean",
    "lineitem_return_by_discount",
    "events_dow_hour_heatmap",
    # wave P — Spearman, share trend, grouped Gini, growth ratio
    "part_size_price_spearman",
    "supplier_share_trend",
    "customer_gini_by_nation",
    "orders_segment_growth_ratio",
    # wave Q — final four
    "doc_dup_rate_by_length",
    "embedding_pair_distance_histogram",
    "events_markov_entropy_rate",
    "events_user_type_diversity",
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


def test_normal_gravity_check_values(spark):
    """IGF-1980 surface gravity: g0(0) = 9.780327, g0(45) ~ 9.806200,
    g0(90) ~ 9.832186 (p = 0 so the free-air term vanishes)."""
    from cioos_siooc_data_transform_spark.plans.staged_r7 import grav_sql

    df = spark.createDataFrame(
        [(0.0, 0.0), (45.0, 0.0), (90.0, 0.0)], "lat DOUBLE, p DOUBLE"
    )
    got = [r[0] for r in df.select(F.expr(grav_sql("lat", "p"))).collect()]
    assert got[0] == pytest.approx(9.780327, abs=1e-9)
    assert got[1] == pytest.approx(9.806200, abs=5e-6)
    assert got[2] == pytest.approx(9.832186, abs=5e-6)
    # gravity increases with depth (free-air term)
    deep = spark.createDataFrame([(45.0, 10000.0)], "lat DOUBLE, p DOUBLE")
    g_deep = deep.select(F.expr(grav_sql("lat", "p"))).collect()[0][0]
    assert g_deep > got[1]


def test_rt_from_sp_roundtrip(spark):
    """PSS-78 inversion: SP(Rt(SP, t), t) == SP to < 1e-10 across the
    salinity/temperature range (forward check value SP(1, 15) = 35 is
    pinned in test_oceanography_checkvalues)."""
    from cioos_siooc_data_transform_spark.plans.staged_r7 import (
        _sp_from_rt_sql,
        rt_from_sp_stages,
    )

    rows = [
        (float(sp), float(t))
        for sp in (2.0, 8.2, 30.0, 35.0, 42.0)
        for t in (-2.0, 5.0, 15.0, 25.0, 35.0)
    ]
    df = spark.createDataFrame(rows, "sp DOUBLE, t DOUBLE")
    for name, expr in rt_from_sp_stages("sp", "t"):
        df = df.withColumn(name, F.expr(expr))
    out = df.select(
        "sp", F.expr(_sp_from_rt_sql("rt_from_sp", "t")).alias("sp_back")
    )
    for r in out.collect():
        assert abs(r.sp_back - r.sp) < 1e-10, r
