"""Every registered query must hash-match its DuckDB oracle at sf0.001
(the driver runs the same comparison at sf0.01).

Round 14 (VERDICT item 1 — default pytest wall): names whose IDENTICAL
sf0.001 comparison already runs by default in a live slate's own test
file (test_staged_r5..r13 test_staged_query_matches_oracle) are gated
behind SPARK_GRAFT_SLOW_TESTS=1 here — running both copies doubled
~7.5 min of suite wall for zero marginal coverage. Names NOT covered by
a live slate file (the round-1..4 core) and every FRESH name of the
current round (not in __spark_entry__._CHECKED — the driver re-samples
exactly those) always run."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR_SMOKE, slow_gate
from tests.oracle_harness import compare_query


def _slate_covered() -> set[str]:
    """Names whose served builder is defined in a live slate module: the
    slate's own test file runs that same builder against its oracle."""
    from cioos_siooc_data_transform_spark.plans import all_queries

    slates = {
        f"cioos_siooc_data_transform_spark.plans.staged_r{r}" for r in range(5, 14)
    }
    return {n for n, fn in all_queries().items() if fn.__module__ in slates}


def _pairs():
    import __spark_entry__ as entrymod
    from cioos_siooc_data_transform_spark.plans import all_oracles, all_queries

    queries = all_queries()
    oracles = all_oracles()
    duplicated = _slate_covered() - (set(queries) - entrymod._CHECKED)
    return [
        pytest.param(
            name,
            queries[name],
            oracles.get(name),
            id=name,
            marks=(slow_gate,) if name in duplicated else (),
        )
        for name in sorted(queries)
    ]


@pytest.mark.parametrize("name,fn,oracle", _pairs())
def test_query_matches_oracle(spark, name, fn, oracle):
    if oracle is None:
        df = fn(spark, SF_DIR_SMOKE)
        assert df.count() >= 0  # rows-only check, like the driver
        return
    ok, msg = compare_query(spark, SF_DIR_SMOKE, fn, oracle)
    assert ok, f"{name}: {msg}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()).issubset(set(e.queries()))
