"""CF-convention Parquet sink (SURVEY.md §2.8 K1-K4).

Replaces the reference's per-file NetCDF writer (IDT/OceanNcFile.py:23-65)
with a columnar layout:

- measurements: long-format CF variables partitioned by observation year
  (the reference writes out_path/yy/file.nc, IDT/ios_data_transform_script.py:73-75
  → partitionBy('year') gives the same pruning, plus dynamic partition
  pruning on read);
- variables sidecar: per-file variable attributes (CF standard/long names,
  canonical units — FIXTURES.md §6);
- headers sidecar: full header tree as JSON (the reference stores it as a
  global attr, IDT/write_ctd_ncfile.py:36).

Idempotency: the measurements writer's mode=overwrite with its own
partitionOverwriteMode=dynamic option replaces exactly the year partitions
being rewritten, and leaves the session conf alone — this subsumes the
reference's orphan-delete (K3) and failed-write cleanup (K4) shell hacks;
Spark's task commit protocol guarantees no partial files.

The four writes are submitted together from a thread pool, so their
small jobs overlap instead of queueing behind each other. Each write
runs under a copy of the caller's local properties and session tags
(``pyspark.util.inheritable_thread_target``), so a caller's job group
covers every write job. The sink waits for all four writes and then
raises the first error.

Scale notes: partitionBy(year) keeps files clustered for time-range scans;
within a partition, writers are sized by the upstream shuffle — repartition
by (year) with AQE coalescing avoids small-file explosions at 100 TB.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target


def write_cf_dataset(parsed: DataFrame, out_dir: str) -> dict[str, str]:
    """Write the full CF dataset (measurements + variables + headers +
    catalog). Returns the written paths.

    ``parsed`` feeds four writes, so callers should pass a cached frame;
    this sink neither caches nor unpersists its input — the caller owns
    that cache."""
    from cioos_siooc_data_transform_spark.operators.bodc import (
        assign_bodc_codes,
        bodc_codes,
    )
    from cioos_siooc_data_transform_spark.sources.ios_source import (
        explode_masked,
        ios_catalog,
        ios_header_json,
    )

    # CF measurements: the masked cells of routed channels, keyed by
    # var_code, with the observation year for partitioning (profile
    # files: start year) — both taken from the cell's own file row.
    files = parsed.select(
        "file_id", "records", "channels", "pad_default",
        F.year("start_ts").alias("year"),
        F.transform(bodc_codes("channels"), lambda c: c["var_code"]).alias("_codes"),
    )
    cf = (
        explode_masked(files)
        .withColumn("var_code", F.get("_codes", F.col("channel_idx") - 1))
        .filter(F.col("var_code").isNotNull())
        .select("year", "file_id", "record_idx", "var_code", "value_num")
    )

    paths = {
        "measurements": os.path.join(out_dir, "measurements"),
        "variables": os.path.join(out_dir, "variables"),
        "headers": os.path.join(out_dir, "headers"),
        "catalog": os.path.join(out_dir, "catalog"),
    }
    writers = {
        "measurements": cf.repartition("year")
        .sortWithinPartitions("file_id", "record_idx")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("year"),
        "variables": assign_bodc_codes(parsed).write.mode("overwrite").option("compression", "zstd"),
        "headers": ios_header_json(parsed).write.mode("overwrite"),
        "catalog": ios_catalog(parsed).write.mode("overwrite"),
    }
    # submitted together, measurements (the longest) first; wrapping each
    # write on its own gives each thread its own copy of the caller's
    # local properties (concurrent SQL executions each set theirs)
    spark = parsed.sparkSession
    with ThreadPoolExecutor(max_workers=len(writers)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(writer.parquet), paths[name])
            for name, writer in writers.items()
        ]
    # leaving the pool waited for every write; raise the first error
    errors = [e for e in (f.exception() for f in futures) if e is not None]
    if errors:
        raise errors[0]
    return paths
