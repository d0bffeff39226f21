"""The round-5 slate (plans/staged_r5.py): every query must match its
DuckDB oracle through the strict driver-faithful harness.

The GSW additions also pin published UNESCO 1983 check values so a
typo'd constant cannot hide behind oracle symmetry (both sides sharing
one SQL template means the oracle can't catch a wrong coefficient — the
independent check value can).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR_SMOKE, slate


def _staged():
    """The slate's live entries plus the two flat-form GSW builders it
    keeps as unregistered reference code (the live names are served by
    staged_r9's staged-Horner twins)."""
    from cioos_siooc_data_transform_spark.plans import staged_r5

    qs, os_ = slate("staged_r5")
    qs["gsw_dynamic_enthalpy"] = staged_r5.gsw_dynamic_enthalpy
    os_["gsw_dynamic_enthalpy"] = staged_r5._dyn_enthalpy_oracle()
    qs["gsw_enthalpy"] = staged_r5.gsw_enthalpy
    os_["gsw_enthalpy"] = staged_r5._enthalpy_oracle()
    return qs, os_


def test_staged_now_registered():
    """Every slate name is live in the registry with its oracle."""
    from cioos_siooc_data_transform_spark.plans import all_oracles, all_queries

    names = set(STAGED_NAMES)
    missing = names - set(all_queries())
    assert not missing, f"slate queries not registered: {missing}"
    missing_o = names - set(all_oracles())
    assert not missing_o, f"slate oracles not registered: {missing_o}"


STAGED_NAMES = [
    "gsw_rho_at_pressure",
    "gsw_adiabatic_lapse_rate",
    "gsw_sigma1_sigma2",
    "window_value_functions",
    "dedup_bbit_minhash",
    "tokenizer_fertility",
    "text_stopword_density",
    "session_duration_stats",
    "funnel_conversion_rates",
    # wave 2
    "gsw_potential_density_theta",
    "quality_classifier_logreg",
    "embedding_knn_label_accuracy",
    "ngram_novelty_score",
    "snapshot_diff_cdc",
    "window_time_interval_frame",
    "grouping_id_flags",
    # wave 3
    "lm_bigram_logprob",
    "dedup_source_survivorship",
    "asof_nearest_tolerance",
    "graph_pagerank_iterations",
    # wave 4
    "scd2_point_in_time_lookup",
    "dedup_bag_jaccard_pairs",
    "embedding_mahalanobis_diag",
    # wave 5
    "weighted_sample_ares",
    "left_join_null_skew_isolated",
    "except_intersect_all",
    "dedup_component_size_histogram",
    # wave 6
    "sketch_frequent_items",
    "dedup_exact_normalized",
    "late_data_accounting",
    # wave 7
    "gsw_dynamic_enthalpy",
    "rate_limit_token_bucket",
    # wave 8
    "langid_confusion_matrix",
    "ios_profile_sound_speed",
    # wave 9
    "dedup_fingerprint_winnowing",
    "ab_test_lift",
    # wave 10
    "gsw_enthalpy",
    "dedup_winnowing_pairs",
    # wave 11
    "bucketed_colocated_join",
    "events_dow_seasonality",
    # wave 12
    "interval_sweepline_backlog",
    # wave 13
    "gsw_sound_speed_ct_native",
    # wave 14
    "cusum_range_drift",
    "dedup_layer_funnel",
    # wave 15
    "embedding_binary_signature",
    "vocab_zipf_slope",
    # wave 16
    "gsw_kappa",
    "text_heaps_law_fit",
    "orders_gini_concentration",
    "text_simpson_diversity",
]


#: Flat-form builders kept in staged_r5 unregistered; staged_r9 serves
#: these names (tests/test_staged_r9.py compares the two forms).
REFERENCE_NAMES = ["gsw_dynamic_enthalpy", "gsw_enthalpy"]


def test_staged_name_list_is_complete():
    served, _ = slate("staged_r5")
    assert sorted(served) == sorted(set(STAGED_NAMES) - set(REFERENCE_NAMES))


@pytest.mark.parametrize("name", STAGED_NAMES)
def test_staged_query_matches_oracle(spark, name):
    from tests.oracle_harness import compare_query

    qs, os_ = _staged()
    ok, msg = compare_query(spark, SF_DIR_SMOKE, qs[name], os_[name])
    assert ok, f"{name}: {msg}"


def test_eos80_pressure_density_check_values(spark):
    """UNESCO 1983 check values for the secant-bulk-modulus density."""
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.plans.staged_r5 import rho_eos80_sql

    df = spark.createDataFrame(
        [(35.0, 25.0, 10000.0), (35.0, 5.0, 10000.0), (35.0, 5.0, 0.0)],
        "s DOUBLE, t DOUBLE, p DOUBLE",
    )
    got = [
        r[0]
        for r in df.select(F.expr(rho_eos80_sql("s", "t", "p"))).collect()
    ]
    assert abs(got[0] - 1062.53817) < 5e-6
    assert abs(got[1] - 1069.48914) < 5e-6
    assert abs(got[2] - 1027.67547) < 5e-6


def test_adiabatic_lapse_rate_check_value(spark):
    """UNESCO 1983: Gamma(40, 40, 10000) = 3.255976e-4 K/dbar."""
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.plans.staged_r5 import lapse_rate_sql

    df = spark.createDataFrame([(40.0, 40.0, 10000.0)], "s DOUBLE, t DOUBLE, p DOUBLE")
    got = df.select(F.expr(lapse_rate_sql("s", "t", "p"))).collect()[0][0]
    assert abs(got - 3.255976e-4) < 1e-10


def test_bbit_estimate_bounds(spark):
    """J_hat = 2*(match/8 - 1/2) must stay in [-1, 1] and n_match in
    [0, 8]; exact duplicates (if any survive to candidates) must score
    n_match = 8."""
    from pyspark.sql import functions as F

    qs, _ = _staged()
    out = qs["dedup_bbit_minhash"](spark, SF_DIR_SMOKE)
    rows = out.collect()
    assert rows, "smoke SF plants near-dup documents"
    for r in rows:
        assert 0 <= r.n_match <= 8
        assert -1.0 <= r.jaccard_bbit <= 1.0


def test_funnel_rates_monotone(spark):
    """Cumulative membership can only shrink down-funnel, so both
    conversion ratios sit in (0, 1]."""
    qs, _ = _staged()
    rows = {r.step: r for r in qs["funnel_conversion_rates"](spark, SF_DIR_SMOKE).collect()}
    assert len(rows) == 3
    assert rows[0].conv_from_top == 1.0 and rows[0].conv_from_prev == 1.0
    assert rows[0].n_users >= rows[1].n_users >= rows[2].n_users
    for r in rows.values():
        assert 0.0 < r.conv_from_top <= 1.0
        assert 0.0 < r.conv_from_prev <= 1.0


def test_activate_idempotent_after_import():
    """Registration happens once, at import: registering a served
    builder again under its own name and oracle is a no-op."""
    from cioos_siooc_data_transform_spark.plans import (
        all_oracles,
        all_queries,
        register,
    )

    before = (all_queries(), all_oracles())
    for name, fn in slate("staged_r5")[0].items():
        register(name, before[1][name])(fn)
    assert (all_queries(), all_oracles()) == before


def test_staged_plans_never_cartesian(spark):
    """The staged set must obey the same 100 TB plan invariants as the
    live registry: no CartesianProduct anywhere, and no
    BroadcastNestedLoopJoin in pair-generating dedup plans (the
    brute-force kNN/top-k probes stream against broadcast sets, which
    is their intended shape)."""
    qs, _ = _staged()
    for name, fn in qs.items():
        df = fn(spark, SF_DIR_SMOKE)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "CartesianProduct" not in plan, name
        # dedup_layer_funnel's final row is three SINGLE-ROW aggregates
        # cross-joined (scalar assembly — each BNLJ side is one row);
        # its pair-generating joins remain bucket equi-joins.
        if name.startswith("dedup_") and name != "dedup_layer_funnel":
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_dynamic_enthalpy_derivative_is_specvol():
    """The pressure-derivative of the integrated polynomial must
    reproduce the 75-term specific volume: dh/dp ~ v * 1e4 (Pa/dbar) —
    a coefficient or exponent slip in the integration breaks this
    immediately. Central finite difference at several (SA, CT, p)."""
    import duckdb

    from cioos_siooc_data_transform_spark.functions.teos10 import specvol_sql
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        dynamic_enthalpy_sql,
    )

    con = duckdb.connect()
    cases = [(35.0, 10.0, 500.0), (30.0, 2.0, 2000.0), (36.5, 25.0, 50.0)]
    eps = 0.01  # dbar
    for sa, ct, p in cases:
        h_hi = con.sql(
            f"SELECT {dynamic_enthalpy_sql(str(sa), str(ct), str(p + eps))}"
        ).fetchone()[0]
        h_lo = con.sql(
            f"SELECT {dynamic_enthalpy_sql(str(sa), str(ct), str(p - eps))}"
        ).fetchone()[0]
        v = con.sql(
            f"SELECT {specvol_sql(str(sa), str(ct), str(p))}"
        ).fetchone()[0]
        dh_dp = (h_hi - h_lo) / (2 * eps)
        assert abs(dh_dp - v * 1.0e4) < 1e-6 * abs(v * 1.0e4), (sa, ct, p)
    con.close()


def test_token_bucket_semantics(spark):
    """First event per user is always allowed (bucket starts full);
    tokens never exceed the cap or go negative; a denied event pays
    nothing (tokens_after equals the refilled balance)."""
    qs, _ = _staged()
    rows = qs["rate_limit_token_bucket"](spark, SF_DIR_SMOKE).collect()
    assert rows
    from collections import defaultdict

    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
        assert 0 <= r.tokens_after <= 1000
    # at least one denial must occur at smoke scale (bursty users)
    assert any(not r.allowed for r in rows)


def test_bucketed_join_has_no_exchange_below_agg(spark):
    """With size-based broadcasting disabled (at 100 TB neither side
    broadcasts), the join must plan as a SortMergeJoin whose children
    carry NO Exchange — both sides read pre-bucketed by the join key,
    so the only Exchange in the whole plan is the final bounded-key
    aggregation. (At smoke scale with default thresholds Spark rightly
    broadcasts the tiny dimension instead — also Exchange-free; this
    test pins the scale plan.)"""
    import re

    qs, _ = _staged()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = qs["bucketed_colocated_join"](spark, SF_DIR_SMOKE)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    ops = [m.group(1) for m in re.finditer(r"\(\d+\) (\w+)", plan)]
    assert "SortMergeJoin" in ops, ops
    assert ops.count("Exchange") == 1, ops  # only the final groupBy
    assert "BroadcastExchange" not in ops, ops


def test_specvol_z_derivative_matches_finite_difference():
    """The analytic dv/dz sum must reproduce a central finite difference
    of the independent Horner specvol — catching any exponent or
    coefficient slip in the derivative construction."""
    import duckdb

    from cioos_siooc_data_transform_spark.functions.teos10 import specvol_sql
    from cioos_siooc_data_transform_spark.plans.staged_r5 import specvol_dz_sql

    con = duckdb.connect()
    for sa, ct, p in [(34.7118, 28.7856, 10.0), (35.0, 10.0, 1000.0), (35.5, 2.0, 4000.0)]:
        dz = con.sql(f"SELECT {specvol_dz_sql(str(sa), str(ct), str(p))}").fetchone()[0]
        vp = con.sql(f"SELECT {specvol_sql(str(sa), str(ct), str(p + 0.01))}").fetchone()[0]
        vm = con.sql(f"SELECT {specvol_sql(str(sa), str(ct), str(p - 0.01))}").fetchone()[0]
        fd = (vp - vm) / (2 * 0.01 * 1.0e-4)
        assert abs(dz - fd) < 1e-7 * abs(fd), (sa, ct, p)
    con.close()


def test_sound_speed_ct_physical_envelope(spark):
    """TEOS-10 and Mackenzie are independent formulations of the same
    physical quantity — over oceanic (S, T, depth) they must agree to a
    few m/s (their published mutual deviation), and absolute values must
    sit in the oceanic band."""
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.functions.oceanography import (
        mackenzie_sound_speed,
    )
    from cioos_siooc_data_transform_spark.functions.teos10 import ct_from_t_sql
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _SA_SQL,
        _sound_speed_ct_sql,
    )

    grid = spark.createDataFrame(
        [
            (s, t, p)
            for s in (33.0, 35.0, 36.5)
            for t in (2.0, 10.0, 25.0)
            for p in (10.0, 500.0, 2000.0)
        ],
        "s DOUBLE, t DOUBLE, p DOUBLE",
    )
    staged = grid.select(
        "s", "t", "p",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    rows = staged.select(
        F.expr(_sound_speed_ct_sql("sa", "ct", "p")).alias("c_teos"),
        mackenzie_sound_speed(
            F.col("t"), F.col("s"), F.col("p")  # depth ~ dbar to few %
        ).alias("c_mack"),
    ).collect()
    for r in rows:
        assert 1400.0 < r.c_teos < 1600.0
        assert abs(r.c_teos - r.c_mack) < 6.0, (r.c_teos, r.c_mack)


def test_rho_c2_kappa_identity():
    """rho * c^2 * kappa = 1 exactly (all three derive from the same
    polynomial): ties the density, sound-speed, and compressibility
    surfaces together — any inconsistency in scale factors or the
    derivative breaks the product."""
    import duckdb

    from cioos_siooc_data_transform_spark.functions.teos10 import rho_sql
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _kappa_sql,
        _sound_speed_ct_sql,
    )

    con = duckdb.connect()
    for sa, ct, p in [(34.7118, 28.7856, 10.0), (35.0, 10.0, 1000.0), (35.5, 2.0, 4000.0)]:
        rho = con.sql(f"SELECT {rho_sql(str(sa), str(ct), str(p))}").fetchone()[0]
        c = con.sql(f"SELECT {_sound_speed_ct_sql(str(sa), str(ct), str(p))}").fetchone()[0]
        k = con.sql(f"SELECT {_kappa_sql(str(sa), str(ct), str(p))}").fetchone()[0]
        assert abs(rho * c * c * k - 1.0) < 1e-12, (sa, ct, p)
    con.close()


def test_scd2_lookup_resolves_final_open_ended_version(spark):
    """Regression for the three-separate-IGNORE-NULLS-scans bug: a probe
    falling inside a multi-version customer's FINAL (open-ended) version
    must resolve to that version — the broken formulation paired the
    final version's key with an EARLIER version's valid_to and silently
    dropped the probe. Checked against an independent pandas replay."""
    from cioos_siooc_data_transform_spark.plans.staged_r5 import (
        _PIT_PROBES,
        scd2_point_in_time_lookup,
    )
    from cioos_siooc_data_transform_spark.session import read_table

    got = {
        (r.o_custkey, str(r.probe_date)[:10]): r.version_key
        for r in scd2_point_in_time_lookup(spark, SF_DIR_SMOKE).collect()
    }
    orders = (
        read_table(spark, SF_DIR_SMOKE, "orders")
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .toPandas()
    )
    import pandas as pd

    orders["o_orderdate"] = pd.to_datetime(orders["o_orderdate"])
    n_multi_final = 0
    for probe in _PIT_PROBES:
        probe_d = pd.Timestamp(probe)
        for ck, grp in orders.groupby("o_custkey"):
            g = grp.sort_values(["o_orderdate", "o_orderkey"]).reset_index(drop=True)
            want = None
            for i in range(len(g)):
                vf = g.loc[i, "o_orderdate"]
                vt = g.loc[i + 1, "o_orderdate"] if i + 1 < len(g) else None
                if vf <= probe_d and (vt is None or probe_d < vt):
                    want = int(g.loc[i, "o_orderkey"])
            if want is None:
                assert (ck, probe) not in got
            else:
                assert got.get((ck, probe)) == want, (ck, probe)
                if len(g) > 1 and want == int(g.iloc[-1]["o_orderkey"]):
                    n_multi_final += 1
    # the bug class must actually be exercised: some probes resolve to
    # the final version of a multi-version customer
    assert n_multi_final > 0
