"""SparkSession factory tuned for this engine.

Local testing runs on local[N] (single JVM); the configuration is chosen so the
same logical plans scale to a multi-executor cluster at ~100 TB:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic join-strategy switching (sort-merge → broadcast) replace hand-tuning.
- Arrow on: every pandas_udf / mapInPandas crossing is Arrow-batched, never
  per-row pickled.
- shuffle.partitions is a default for local scale; at cluster scale AQE's
  coalescing makes the initial number mostly irrelevant as long as it is high
  enough (set spark.sql.adaptive.coalescePartitions.initialPartitionNum there).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import SparkSession

#: spark.sql.sources.parallelPartitionDiscovery.threshold: Int.MaxValue, so
#: every file listing stays on the driver (see get_spark).
DRIVER_LISTING_THRESHOLD = 2**31 - 1


def get_spark(app_name: str = "cioos-siooc-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Round-13 (guide §6): this engine's first-class ingest workload
        # is many SMALL text files (the IOS corpus: ~KB-sized profiles).
        # The 4 MB default open cost packs at most 32 such files per
        # 128 MB split — the 50k-file vertical ran 1,563 tasks and was
        # pure scheduler overhead. 1 MB packs ~128 files/split (measured
        # sweep at 50k files: 4MB 19.7 s, 1MB 8.0 s, 128KB 15.2 s — too
        # few tasks under-parallelizes, so 1 MB is the balance point;
        # 5k corpus 2.2 -> 0.95 s). For large-file scans (parquet at
        # cluster scale, 128MB-1GB files) open cost is negligible
        # relative to file size, so the change is inert there.
        # Parameterised for cluster tuning.
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST_BYTES", str(1024 * 1024)),
        )
        # File listing never becomes a Spark job. Past the threshold
        # (default 32 paths) InMemoryFileIndex lists in a job with one
        # task per path; on local[N] those tasks run on the driver JVM's
        # own threads against the same filesystem, so the job adds one
        # scheduled task per path and no parallel I/O. The stream source
        # re-lists its last committed batch on every restart, so a
        # nightly drain ran a 200-task listing job before its first
        # batch. Measured on local[2], warm: that drain 3.6-4.4 ->
        # 1.8-2.1 s and 3 jobs -> 2; binaryFile.load of 5,000 paths
        # 36.9 -> 1.2 s; discover_files over 40 directories 679 -> 48 ms.
        # On a cluster against an object store, restore 32 so large
        # listings fan out to executors (SCALE.md).
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(DRIVER_LISTING_THRESHOLD),
        )
        .config("spark.ui.enabled", "false")
        # Round-13 (guide §1/§7.3: plan-construction time is driver-side
        # work inside every timed bench region): PySpark 4's DataFrame
        # debugging decorates EVERY DataFrame/Column API call with a
        # Python stack walk plus a JVM PySparkCurrentOrigin round trip,
        # purely to enrich error messages with user call sites. Off, a
        # 60-query construction pass drops ~35 % of its py4j traffic
        # (measured round 13; errors still carry the full JVM stack
        # trace — only the "user file:line" hint is lost). Semantics
        # and plans are unchanged; parameterised to re-enable when
        # debugging a query interactively.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            os.environ.get("SPARK_GRAFT_DF_DEBUGGING", "false"),
        )
        # The deep GSW stage chains (hundreds of stacked projections)
        # drive Catalyst's recursive rules (CollapseProject) past the
        # default 1 MB thread stack — a StackOverflowError that
        # surfaces as a hung/respinning optimizer. 64 MB driver stacks
        # are standard practice for deep-plan workloads.
        .config("spark.driver.extraJavaOptions", "-Xss64m")
        .config("spark.executor.extraJavaOptions", "-Xss64m")
    )
    return builder.getOrCreate()


def checkpoint_df(df, eager: bool):
    """Lineage-truncation point for iterative / multi-consumer plans.

    Default: ``DataFrame.localCheckpoint(eager)`` — executor-local
    shuffle-free materialization, measured-best locally and at XL
    (SCALE.md round 12). localCheckpoint blocks live only on the
    executors that wrote them: on a real cluster an executor loss makes
    them unrecoverable (no lineage to rebuild from), which is fine for
    a re-runnable batch query but wrong on preemptible nodes (round-13
    verdict item 3). Escape hatch: set ``$SPARK_GRAFT_CHECKPOINT_DIR``
    to an HDFS/object-store path and every call site switches to the
    RELIABLE ``checkpoint()`` into that directory — blocks survive
    executor loss at the cost of one write+read through the filesystem.
    Local default unchanged; results identical either way (both
    materialize the same rows; only the storage tier differs).
    """
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def file_signature(path: str) -> str:
    """Hex digest of ``(path, st_size, st_mtime_ns)``: changes when the
    file at ``path`` is rewritten, so it names state derived from it."""
    st = os.stat(path)
    key = f"{path}\0{st.st_size}\0{st.st_mtime_ns}"
    return hashlib.md5(key.encode()).hexdigest()


def lookup_view(spark: SparkSession, view: str):
    """``spark.table(view)``, or None when the session has no such view.

    One py4j round trip on a hit; a miss costs the exception's ~40."""
    from pyspark.errors import AnalysisException

    try:
        return spark.table(view)
    except AnalysisException as exc:
        if exc.getCondition() != "TABLE_OR_VIEW_NOT_FOUND":
            raise
    return None


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read ``<sf_dir>/<name>.parquet`` as a DataFrame.

    What it keeps: one temp view per file version, in the session's own
    catalog, named from ``file_signature(path)``. The first read of a
    version takes the schema from the Parquet footer (pyarrow reads it;
    Spark starts no schema-inference job) and registers the relation;
    later reads are one ``spark.table`` lookup, where re-resolving the
    source and re-listing the path would cost ~30 ms. The view holds
    metadata only; every execution scans the file, and each
    ``spark.table`` reference gets fresh attribute ids, so self-joins
    stay sound. A rewritten file has a new signature, so it gets a new
    view and its new schema. The views die with the session.

    Confs it writes, and why:

    - ``spark.sql.session.timeZone`` = UTC, on every call: timestamps
      must collect as UTC wall-clock values to match the tz-naive values
      DuckDB sees, whatever session the caller built.
    - ``spark.sql.legacy.parquet.nanosAsLong`` = true, for files with
      TIMESTAMP(NANOS) columns: Spark timestamps are microsecond
      precision and its reader rejects NANOS unless this is on, at
      execution as well as at planning. Such a column arrives as epoch
      nanoseconds and is truncated to microseconds, as DuckDB truncates
      TIMESTAMP_NS when it coerces to TIMESTAMP.

    Tz-naive microsecond timestamps read as TimestampType (LTZ), not
    TIMESTAMP_NTZ: the footer schema says so explicitly, and NTZ would
    refuse the numeric casts several plans make.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import LongType, StructField, StructType

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    view = f"__spark_graft_src_{name}_{file_signature(path)}"
    df = lookup_view(spark, view)
    if df is not None:
        return df

    arrow_schema = pq.read_schema(path)
    ns_cols = [
        f.name
        for f in arrow_schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]
    schema = StructType(
        [
            StructField(f.name, LongType(), f.nullable) if f.name in ns_cols else f
            for f in from_arrow_schema(arrow_schema)
        ]
    )
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(schema).parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    df.createOrReplaceTempView(view)
    return df
