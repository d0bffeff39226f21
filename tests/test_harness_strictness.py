"""The local harness must reproduce every round-2 driver failure class:
array outputs crash the canonicalizer, -0.0 != 0.0, and HUGEINT→float64
vs bigint hash differently. A harness that tolerates any of these lets
local green diverge from driver red (the round-2 process bug)."""

from __future__ import annotations

from tests.conftest import SF_DIR_SMOKE
from tests.oracle_harness import compare_query


def test_array_output_fails_like_driver(spark):
    """Array-typed result columns must be reported as failures (the
    driver's pandas canonicalizer raises TypeError on unhashable cells)."""

    def q(spark_, sf_dir):
        return spark_.sql("SELECT 1 AS id, array(1, 2) AS arr")

    ok, msg = compare_query(spark, SF_DIR_SMOKE, q, "SELECT 1 AS id, [1, 2] AS arr")
    assert not ok
    assert "canonicalizer" in msg


def test_negative_zero_is_distinguished(spark):
    """-0.0 and 0.0 are equal as numbers but different as hashed text —
    exactly the gsw_turner_rsubrho r02 failure. The harness must flag it."""

    def q(spark_, sf_dir):
        return spark_.sql("SELECT CAST(0.0 AS DOUBLE) AS v")

    # DuckDB round() preserves the sign of -ε → -0.0
    ok, msg = compare_query(
        spark, SF_DIR_SMOKE, q, "SELECT round(CAST(-1e-12 AS DOUBLE), 6) AS v"
    )
    assert not ok and "-0.0" in msg

    # and the fixed idiom (+ 0.0 after rounding) passes
    ok2, _ = compare_query(
        spark, SF_DIR_SMOKE, q, "SELECT round(CAST(-1e-12 AS DOUBLE), 6) + 0.0 AS v"
    )
    assert ok2


def test_int_vs_float_dtype_is_distinguished(spark):
    """DuckDB HUGEINT window sums materialize as float64 ('3.0') while
    Spark emits bigint ('3') — the sessionize_gap r02 failure. The
    harness must flag the dtype-visible text difference."""

    def q(spark_, sf_dir):
        return spark_.sql("SELECT CAST(3 AS BIGINT) AS s")

    # sum(int) over a window → HUGEINT → pandas float64
    hugeint_oracle = """
    SELECT sum(x) OVER () AS s FROM (SELECT 3 AS x)
    """
    ok, msg = compare_query(spark, SF_DIR_SMOKE, q, hugeint_oracle)
    assert not ok and "3.0" in msg

    ok2, _ = compare_query(
        spark,
        SF_DIR_SMOKE,
        q,
        "SELECT CAST(sum(x) OVER () AS BIGINT) AS s FROM (SELECT 3 AS x)",
    )
    assert ok2


def test_oracle_type_lint_catches_known_bad_classes():
    """The static lint must flag every oracle-type class that has (or
    would have) produced a local-green/driver-red divergence — a fixture
    per class, plus the benign types it must NOT flag."""
    import duckdb

    from tests.oracle_harness import lint_oracle_types

    con = duckdb.connect()
    bad_fixtures = {
        "hugeint window sum": "SELECT sum(x) OVER () AS s FROM (SELECT 3 AS x)",
        "array column": "SELECT [1, 2] AS arr",
        "struct column": "SELECT {'a': 1} AS st",
        "raw date": "SELECT date_trunc('day', TIMESTAMP '2020-01-02 03:04') AS d",
        "decimal literal": "SELECT 1.5 AS v",
        "time": "SELECT TIME '10:00' AS t",
    }
    for label, sql in bad_fixtures.items():
        assert lint_oracle_types(con, sql), f"lint missed: {label}"

    good = (
        "SELECT CAST(sum(x) OVER () AS BIGINT) AS s, "
        "CAST(1.5 AS DOUBLE) AS v, TIMESTAMP '2020-01-02 03:04' AS ts, "
        "'x' AS str FROM (SELECT 3 AS x)"
    )
    assert lint_oracle_types(con, good) == []


def test_registry_oracles_pass_type_lint():
    """Registry-wide driver-canon contract: EVERY registered oracle must
    prepare cleanly in DuckDB with no banned result-column type. This is
    the guard that keeps the round-2 failure classes (HUGEINT, arrays,
    dates, decimals) from ever re-entering via a new query."""
    from cioos_siooc_data_transform_spark.plans import all_oracles
    from tests.oracle_harness import duckdb_connection, lint_oracle_types

    con = duckdb_connection(SF_DIR_SMOKE)
    findings = {}
    for name, sql in all_oracles().items():
        hits = lint_oracle_types(con, sql)
        if hits:
            findings[name] = hits
    assert findings == {}, f"banned oracle result types: {findings}"


def test_staged_oracles_pass_type_lint():
    """The SAME driver-canon type lint over every PARKED staged slate
    (one that keeps a local STAGED_ORACLES registry): round 12's first
    full-suite run caught a just-registered query
    (orders_quantile_treatment_effect) whose oracle typed a struct-
    literal column DECIMAL(3,2) — it hash-matched at tested scales but
    was latently canon-divergent, and the registry-wide lint only sees
    live names. Live slates register directly and are swept there."""
    import importlib
    from pathlib import Path

    from cioos_siooc_data_transform_spark import plans as plans_pkg
    from cioos_siooc_data_transform_spark.plans import all_oracles
    from tests.oracle_harness import duckdb_connection, lint_oracle_types

    # Derive the slate list from disk so a new parked slate is linted
    # automatically (a hardcoded list silently skips new files).
    mod_names = sorted(
        p.stem for p in Path(plans_pkg.__file__).parent.glob("staged_r*.py")
    )
    assert len(mod_names) >= 6, f"staged slate glob broke: {mod_names}"
    live = set(all_oracles())
    con = duckdb_connection(SF_DIR_SMOKE)
    findings = {}
    for mod_name in mod_names:
        mod = importlib.import_module(
            f"cioos_siooc_data_transform_spark.plans.{mod_name}"
        )
        for name, sql in getattr(mod, "STAGED_ORACLES", {}).items():
            if sql is None or name in live:
                # live names are swept by the registry-wide lint
                continue
            hits = lint_oracle_types(con, sql)
            if hits:
                findings[f"{mod_name}.{name}"] = hits
    assert findings == {}, f"banned staged oracle result types: {findings}"


def test_sweep_movers_class_normalization():
    """tools/sweep_movers.py --plan-stats (round-12 verdict item 3):
    flags are normalized by their OWN canary class's median ratio, not
    the global median — a uniform slowdown of the shuffle-bound
    population must not flag arith-bound queries (and vice versa), and
    each flag carries its class tag for adjudication."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "sweep_movers",
        os.path.join(os.path.dirname(__file__), "..", "tools", "sweep_movers.py"),
    )
    sm = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sm)

    # A MINORITY shuffle-bound population uniformly 2x slower (host
    # shuffle pressure: the round-10 finding), the arith majority flat —
    # plus one GENUINE arith regression.
    old = {f"s{i}": 2.0 for i in range(4)} | {f"a{i}": 2.0 for i in range(10)}
    new = {f"s{i}": 4.0 for i in range(4)} | {f"a{i}": 2.0 for i in range(10)}
    new["a0"] = 8.0
    classes = {f"s{i}": "shuffle" for i in range(4)} | {
        f"a{i}": "arith" for i in range(10)
    }

    rep = sm.movers(old, new, threshold=1.5, min_sec=0.5, classes=classes)
    assert rep["class_median_ratios"] == {"shuffle": 2.0, "arith": 1.0}
    # With class normalization only the genuine regression flags: the
    # shuffle 2x IS its class's median (normalized 1.0), while a0's 4x
    # ratio over the arith median 1.0 stays 4x.
    assert set(rep["movers"]) == {"a0"}
    assert rep["movers"]["a0"]["canary_class"] == "arith"
    assert rep["movers"]["a0"]["normalized"] == 4.0

    # Without classes the global median (1.0, set by the arith majority)
    # under-divides the shuffle population: all 4 shuffle queries flag —
    # exactly the false-positive class the classification removes.
    rep_global = sm.movers(old, new, threshold=1.5, min_sec=0.5)
    assert {f"s{i}" for i in range(4)} <= set(rep_global["movers"])

    # load_classes: >=2 real (non-broadcast) shuffles = shuffle-bound.
    import json
    import tempfile

    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as fh:
        json.dump(
            {
                "queries": {
                    "q_shuffle": {"exchanges": 5, "broadcast_exchanges": 2},
                    "q_arith": {"exchanges": 3, "broadcast_exchanges": 2},
                }
            },
            fh,
        )
        path = fh.name
    try:
        got = sm.load_classes(path)
    finally:
        os.unlink(path)
    assert got == {"q_shuffle": "shuffle", "q_arith": "arith"}
