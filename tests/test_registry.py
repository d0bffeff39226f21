"""`plans.registry.register` gives every query name exactly one owner."""

from __future__ import annotations

import pytest


def test_register_refuses_a_name_owned_by_another_function():
    from cioos_siooc_data_transform_spark.plans import all_oracles, all_queries
    from cioos_siooc_data_transform_spark.plans.registry import register

    name, owner = next(iter(all_queries().items()))
    before = (all_queries(), all_oracles())

    def impostor(spark, sf_dir):
        raise AssertionError("never registered, never run")

    with pytest.raises(ValueError, match=f"{name!r} is already registered by"):
        register(name, "SELECT 1 AS x")(impostor)
    assert (all_queries(), all_oracles()) == before
    assert all_queries()[name] is owner


def test_register_same_function_again_is_a_noop():
    from cioos_siooc_data_transform_spark.plans import all_oracles, all_queries
    from cioos_siooc_data_transform_spark.plans.registry import register

    name, fn = next(iter(all_queries().items()))
    before = (all_queries(), all_oracles())
    assert register(name, before[1][name])(fn) is fn
    assert (all_queries(), all_oracles()) == before
