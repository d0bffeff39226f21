"""Derived deterministic ``partsupp`` table (TPC-H completion).

The synthetic testdata ships the trimmed TPC-H schema without a
partsupp table, which blocks the real shapes of Q2/Q9/Q11/Q16/Q20.
This module derives one as a PURE INTEGER FUNCTION of the existing
tables, so a DuckDB oracle can rebuild the identical relation from the
same base parquet with a CTE (PARTSUPP_CTE below) — no side files in
the oracle path, tri-scale portable.

Derivation (0-based keys, matching the testdata's key domains):

- pair coverage = TPC-H-spec synthetic coverage ∪ referential closure:
  * spec pairs (TPC-H v3 §4.2.3, dbgen's partsupp generator shape):
    for i in 0..3,  ps_suppkey = (p_partkey + i·step) mod S with
    step = S div 4 + p_partkey div S  (S = |supplier|) — 4 suppliers
    per part, spread across the key space;
  * observed trade pairs: DISTINCT (l_partkey, l_suppkey) from
    lineitem — guarantees the Q9/Q20 lineitem⋈partsupp pair join is
    total, the invariant real TPC-H data has by construction.
- ps_availqty        = (ps_partkey·7919 + ps_suppkey·104729) % 9999 + 1
- ps_supplycost_cents = (ps_partkey·104651 + ps_suppkey·48271) % 99901 + 100
  (1.00 .. 1000.00 currency units, kept in integer cents — the
  repo-wide exact-sum invariant).

Scale design: the derivation costs one lineitem DISTINCT shuffle and is
written ONCE per version of its source files to a parquet dir under the
Spark warehouse (see ensure_partsupp); every consumer afterwards scans
the materialized file with normal pushdown.
At 100 TB the equivalent is a one-time CTAS into the lakehouse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The oracle-side twin: paste into a WITH clause. Rebuilds the exact
# relation this module materializes, from the same base tables.
# DuckDB `//` is floor division == Spark's `div` on non-negative longs.
PARTSUPP_CTE = """
    nsup AS (SELECT CAST(count(*) AS BIGINT) AS n FROM supplier),
    ps_pairs AS (
      SELECT p_partkey AS ps_partkey,
             CAST((p_partkey + i.i * (n // 4 + p_partkey // n)) % n AS BIGINT)
               AS ps_suppkey
      FROM part, nsup, (VALUES (0), (1), (2), (3)) AS i(i)
      UNION
      SELECT l_partkey, l_suppkey FROM lineitem
    ),
    partsupp AS (
      SELECT ps_partkey, ps_suppkey,
             CAST((ps_partkey * 7919 + ps_suppkey * 104729) % 9999 + 1
                  AS BIGINT) AS ps_availqty,
             CAST((ps_partkey * 104651 + ps_suppkey * 48271) % 99901 + 100
                  AS BIGINT) AS ps_supplycost_cents
      FROM ps_pairs
    )
"""


def partsupp_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy derivation plan (used by the write; consumers should go
    through ensure_partsupp for the materialized copy)."""
    from cioos_siooc_data_transform_spark.session import read_table

    part = read_table(spark, sf_dir, "part").select("p_partkey")
    nsup = (
        read_table(spark, sf_dir, "supplier")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    spec = (
        part.crossJoin(F.broadcast(nsup))
        .select(
            "p_partkey",
            "n",
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i"),
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            (
                (
                    F.col("p_partkey")
                    + F.col("i")
                    * (
                        F.expr("n div 4")
                        + F.expr("p_partkey div n")
                    )
                )
                % F.col("n")
            )
            .cast("long")
            .alias("ps_suppkey"),
        )
    )
    observed = li.select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    )
    pairs = spec.union(observed).distinct()
    return pairs.select(
        "ps_partkey",
        "ps_suppkey",
        (
            (F.col("ps_partkey") * 7919 + F.col("ps_suppkey") * 104729) % 9999
            + 1
        )
        .cast("long")
        .alias("ps_availqty"),
        (
            (F.col("ps_partkey") * 104651 + F.col("ps_suppkey") * 48271)
            % 99901
            + 100
        )
        .cast("long")
        .alias("ps_supplycost_cents"),
    )


def ensure_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the derived partsupp once per version of its sources
    and return a DataFrame scanning the parquet copy (full pushdown /
    column pruning, no re-derivation per query).

    The copy lives under the Spark warehouse in a directory named from
    the ``file_signature`` of ``part``, ``supplier`` and ``lineitem``, so
    rewriting any of them derives a new copy; a ``_SUCCESS`` marker says
    that copy is complete, and any process may reuse it."""
    import hashlib
    import os
    import shutil

    from cioos_siooc_data_transform_spark.session import file_signature

    sources = "".join(
        file_signature(os.path.join(sf_dir, f"{t}.parquet"))
        for t in ("part", "supplier", "lineitem")
    )
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    path = os.path.join(
        warehouse,
        "partsupp_derived_" + hashlib.md5(sources.encode()).hexdigest()[:12],
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)  # clear any crashed write
        # Tiny dimension-scale table (4·|part| + observed pairs):
        # coalesce to a handful of files so consumers don't pay 32-task
        # scheduling overhead per scan.
        partsupp_df(spark, sf_dir).coalesce(4).write.mode("overwrite").parquet(
            path
        )
    return spark.read.parquet(path)  # no timestamp cols: plain read OK
