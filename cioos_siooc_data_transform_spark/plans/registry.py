"""Registry mapping query names to (spark, sf_dir) -> DataFrame builders
plus optional DuckDB oracle SQL twins.

Contract (driver harness, /root/repo/__spark_entry__.py):
- the Spark result and the oracle result are compared order-insensitively
  after sorting columns by name, so BOTH sides must use identical column
  names (alias every computed column).
- float aggregates are rounded identically on both sides to make the
  value-hash robust to summation-order differences.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

QUERIES: dict[str, Callable[..., Any]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: register a query builder and (optionally) its oracle SQL.

    A name has one owner: registering it for a different function raises
    instead of silently replacing (or skipping) the first builder.
    Registering the same function again is a no-op."""

    def deco(fn):
        owner = QUERIES.get(name)
        if owner is not None and owner is not fn:
            raise ValueError(
                f"query {name!r} is already registered by "
                f"{owner.__module__}.{owner.__qualname__}"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def all_queries() -> dict[str, Callable[..., Any]]:
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    return dict(ORACLES)
