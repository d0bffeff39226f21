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


#: path -> (inferred Spark StructType, [TIMESTAMP(NANOS) column names]).
#: Metadata-only memo (see the block comment inside read_table); the
#: testdata fixtures are immutable per path, and a changed path is a
#: different key.
_SCHEMA_CACHE: dict = {}

#: SparkSession -> {path: temp-view name}. Round 14 (§7.3 construction
#: floor): even with the schema memo, every `spark.read.schema(...)
#: .parquet(path)` re-resolves the data source and re-lists the path —
#: ~30 ms of driver work per read_table call, ~2.4 s of a 60-query
#: construction pass. Registering ONE temp view per (session, path) and
#: serving later calls with spark.table(view) is the catalog idiom: the
#: view stores the ANALYZED relation (schema + file index — metadata
#: only, the same thing a catalog table or the session file-listing
#: cache of guide §6 holds); every execution still scans the parquet
#: files. Self-joins stay sound: each spark.table() reference is a
#: fresh UnresolvedRelation and Spark's DeduplicateRelations assigns
#: fresh attribute ids per join side, exactly as for catalog tables.
#: WeakKeyDictionary so a stopped session's views never leak into a new
#: session (temp views are per-session).
#: Hazard: the view freezes the file listing it was first resolved
#: with, and later calls serve that frozen listing. An sf dir must not
#: change (files added, removed or rewritten) during a session; a
#: changed dir needs a new session or a new path.
import weakref

_VIEW_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one synthetic parquet table, handling nanosecond timestamps.

    Spark's Parquet reader rejects INT64 TIMESTAMP(NANOS) columns (Spark
    timestamps are microsecond precision). For files containing them we
    enable spark.sql.legacy.parquet.nanosAsLong (the column arrives as a
    LongType of epoch-nanos) and truncate to microseconds — the same
    truncation DuckDB applies when it coerces TIMESTAMP_NS to TIMESTAMP,
    so both engines see identical values.
    """
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    # Timestamps must collect as UTC to hash-match the (naive) DuckDB
    # oracle values, regardless of how the caller's session was built.
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    path = os.path.join(sf_dir, f"{name}.parquet")
    views = _VIEW_CACHE.get(spark)
    if views is None:
        views = _VIEW_CACHE[spark] = {}
    view = views.get(path)
    if view is not None:
        # Cached path: ONE py4j call. The view's analyzed plan embeds
        # the schema and file index; execution scans parquet as always.
        return spark.table(view)

    # Tz-naive parquet timestamps must read as TIMESTAMP_LTZ (interpreted
    # as UTC), not TIMESTAMP_NTZ: NTZ refuses numeric casts (epoch math in
    # several plans) and the UTC-pinned LTZ collects the same wall-clock
    # values DuckDB sees.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    cached = _SCHEMA_CACHE.get(path)
    if cached is None:
        schema = pq.read_schema(path)
        ns_cols = [f.name for f in schema if str(f.type) == "timestamp[ns]"]
        if ns_cols:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        # Memoize the INFERRED Spark schema (metadata only — the exact
        # StructType Spark's own footer inference produced under the
        # confs above, the same thing a catalog would serve). Every
        # bare spark.read.parquet runs a driver-side footer-inference
        # job at plan-construction time: ~120 ms per read_table call,
        # and a bench run constructs hundreds of them (round-13
        # measurement: 20 constructions 2.44 s inferred vs 0.48 s with
        # an explicit schema). Data is never cached; the scan still
        # reads the parquet files at execution.
        _SCHEMA_CACHE[path] = (df.schema, ns_cols)
    else:
        spark_schema, ns_cols = cached
        if ns_cols:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.schema(spark_schema).parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # Register the finished relation (ns-truncation included) as this
    # session's temp view for the path; later calls become spark.table.
    view = f"__spark_graft_src_{len(views)}_{name}"
    df.createOrReplaceTempView(view)
    views[path] = view
    return df
