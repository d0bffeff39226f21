"""Bucketed-table co-location (SURVEY.md §4 / 100 TB design).

Big fact⋈fact joins shuffle both sides on the join key every query. If
the tables are WRITTEN bucketed by that key (hash-partitioned files +
bucket metadata in the catalog), Spark plans the join with zero Exchange:
each task reads matching bucket files from both sides. This is the
pre-shuffle-once, join-many-times trade — essential when the same join
key is hit repeatedly at 100 TB.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Save as a bucketed (and optionally sorted) managed table."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two co-bucketed tables on their bucket key — plans without a
    shuffle Exchange on either side."""
    left = spark.table(left_table)
    right = spark.table(right_table)
    return left.join(right, key)


def _write_bucketed_once(
    spark: SparkSession,
    name: str,
    source: Callable[[], DataFrame],
    bucket_col: str,
    num_buckets: int,
) -> str:
    """Write ``source()`` as bucketed table ``name`` unless this
    application's catalog already holds it, and return ``name``.

    The catalog is the memo: it is in-memory, so a table exists only if
    this application wrote it. A previous PROCESS may have left the
    managed-table location on disk without a row in this catalog —
    saveAsTable then fails with LOCATION_ALREADY_EXISTS — so drop and
    delete before the write; the name is deterministic, so this also
    replaces any half-written copy from a crashed run."""
    if spark.catalog.tableExists(name):
        return name
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
    write_bucketed(source(), name, bucket_col, num_buckets)
    return name


def ensure_bucketed_documents(
    spark: SparkSession, sf_dir: str, num_buckets: int = 8
) -> str:
    """Write the documents table bucketed by a materialized md5 digest
    column (text_hash) and return the managed-table name. Idempotent per
    (application, sf_dir). This is the write half of the shuffle-elision
    demo: groupBy/self-join on text_hash over this table plans with NO
    Exchange (the bucketed scan already reports
    hashpartitioning(text_hash, num_buckets))."""
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.session import read_table

    # md5, not built-in hash(): hash() is per-process randomized
    # (PYTHONHASHSEED), which would rewrite the full table under a new
    # name every driver restart and allow mod-1e8 collisions between
    # sf_dirs; 12 md5 hex chars are stable across processes and
    # collision-safe for any realistic number of sf_dirs.
    name = (
        "documents_bucketed_digest_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    )
    return _write_bucketed_once(
        spark,
        name,
        lambda: read_table(spark, sf_dir, "documents").withColumn(
            "text_hash", F.md5("text")
        ),
        "text_hash",
        num_buckets,
    )


def ensure_bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key_col: str,
    num_buckets: int = 8,
) -> str:
    """Write one synthetic table bucketed by ``key_col`` and return the
    managed-table name (idempotent per application/sf_dir/table — the
    same drop-and-delete protocol as ensure_bucketed_documents). Two
    tables bucketed by their join key with the SAME bucket count join
    with zero Exchange on either side — the co-located fact⋈dim/
    fact⋈fact layout that pays for itself the second time the key is
    joined."""
    from cioos_siooc_data_transform_spark.session import read_table

    # key_col and num_buckets are part of the hashed table name: the
    # same table bucketed by a second join key (or bucket count) must
    # get its own physical layout, or the caller silently joins on a
    # mismatched bucketing and pays the Exchange this helper exists to
    # eliminate.
    name = (
        f"{table}_bucketed_"
        + hashlib.md5(f"{sf_dir}:{key_col}:{num_buckets}".encode()).hexdigest()[:12]
    )
    return _write_bucketed_once(
        spark, name, lambda: read_table(spark, sf_dir, table), key_col, num_buckets
    )
