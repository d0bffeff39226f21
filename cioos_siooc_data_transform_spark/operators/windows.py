"""Window / sequence operators (SURVEY.md §2.5).

- occurrence_numbering (W2): nth channel mapping to the same code base gets
  a numeric suffix — reference probes code+'{:02d}' against already-assigned
  names in file order (IDT/OceanNcVar.py:95-110). Relational form:
  row_number() OVER (PARTITION BY group, base ORDER BY stable_idx).
- regular_timeseries (W1): obs_time[i] = start + i·dt
  (IDT/ObsFile.py:455-456, 507-508) via sequence + posexplode.
- record_index (W3): stable per-partition ordinal.

Scale notes: window functions shuffle on the partition key once; the keys
(file_id / user_id) are high-cardinality so partitions stay balanced. The
sequence+posexplode generation is executor-side row expansion — no driver
loop, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from cioos_siooc_data_transform_spark.session import checkpoint_df


def occurrence_numbering(
    df: DataFrame,
    partition_cols: list[str],
    base_col: str,
    order_col: str,
    out_col: str = "code",
    width: int = 2,
) -> DataFrame:
    """Append a per-(partition, base) occurrence number to the base code."""
    w = Window.partitionBy(*partition_cols, base_col).orderBy(order_col)
    rn = F.row_number().over(w)
    return df.withColumn(out_col, F.format_string(f"%s%0{width}d", F.col(base_col), rn))


def record_index(df: DataFrame, partition_cols: list[str], order_col: str) -> DataFrame:
    """0-based stable ordinal within each partition (W3)."""
    w = Window.partitionBy(*partition_cols).orderBy(order_col)
    return df.withColumn("record_idx", F.row_number().over(w) - F.lit(1))


def regular_timeseries(
    starts: DataFrame, start_col: str, n_col: str, dt_seconds_col: str
) -> DataFrame:
    """Expand (start, n, dt) rows into n rows each with
    obs_ts = start + i·dt (integer-second dt).

    Executor-side: sequence(0, n-1) + posexplode; no driver loop. The
    n >= 1 guard matters: Spark's sequence(0, -1) counts DOWN to
    [0, -1], so an unguarded n=0 row would fabricate two observations,
    one of them BEFORE the series start (DuckDB's generate_series(0,-1)
    is empty — the engines genuinely differ here).

    NB: sources/ios_source.py::obs_ts is the IOS engine's W1 formula, in
    integer-microsecond unix_micros arithmetic (its oracle needs that
    exact form); a semantic fix here must be mirrored there.
    """
    idx = F.posexplode(
        F.when(
            F.col(n_col) >= 1,
            F.sequence(F.lit(0), (F.col(n_col) - 1).cast("int")),
        ).otherwise(F.array().cast("array<int>"))
    )
    exploded = starts.select("*", idx.alias("_pos", "record_idx"))
    obs = F.col(start_col) + F.make_dt_interval(
        F.lit(0), F.lit(0), F.lit(0),
        (F.col("record_idx") * F.col(dt_seconds_col)).cast("double"),
    )
    return exploded.withColumn("obs_ts", obs).drop("_pos")


def ranked_cumsum_two_pass(
    df: DataFrame,
    value_col: str,
    tie_col: str,
    n_buckets: int = 512,
    out_rank: str = "rnk",
    out_cum: str = "cum",
    weight_col: str | None = None,
    group_cols: list[str] | None = None,
    ascending: bool = False,
) -> DataFrame:
    """Global dense ranking + running sum over (value_col DESC,
    tie_col ASC) WITHOUT a single-partition window — the scale-safe
    form of ``row_number()/sum() OVER (ORDER BY v DESC)`` for key
    spaces too large for one task (the ≥1e8-key escape hatch the
    concentration family's docstrings describe in prose:
    pareto_revenue_share, orders_abc_classification,
    doc_length_deciles).

    Two passes, three bounded shuffles:

    1. global min/max of the INTEGER value (one map-side-combinable
       agg, broadcast back as a 1-row dimension — no driver collect);
       rows bucket by value range, ``bucket = floor((max-v)/width)``,
       descending so bucket 0 holds the largest values. Equal values
       always share a bucket, so cross-bucket ordering is total.
    2. per-bucket counts/sums (≤ n_buckets rows) get exclusive running
       offsets via a window over the TINY bucket table (bounded by
       n_buckets, not by |keys|); rows get their within-bucket
       row_number/running sum from a window PARTITIONED by bucket, and
       the broadcast offsets lift them to global rank/cumsum.

    Exactness: value_col must be integer-typed (cents/micros idiom) so
    the bucketed running sums equal the global-window sums bit-for-bit
    regardless of grouping — equality with the single-window plan is
    pinned by the ``pareto_share_two_pass`` registered query (same
    oracle text as ``pareto_revenue_share``) and by pytest.

    Skew: a value-range bucket can be hot if the distribution is
    extremely peaked; the within-bucket window then degrades toward the
    global window for that bucket only. For adversarial distributions
    raise n_buckets or pre-split on a secondary hash of tie_col (the
    rank offsets stay exact because ties order by tie_col).

    weight_col (optional): when given, ``out_cum`` is the running sum
    of THIS integer column instead of value_col — the weighted-cumsum
    form (e.g. running observation counts over a distinct-value table,
    the midrank input for rank statistics like Kruskal–Wallis).
    Bucketing and ordering are still by value_col; weight_col must be
    integer-typed for the exactness contract to hold.

    group_cols (optional): rank/cumsum WITHIN each group instead of
    globally — the grouped-window escape hatch (e.g. per-nation Gini
    ranks). Bucket boundaries stay global (a partitioner needs no
    per-group tuning); offsets come from a window partitioned by group
    over its ≤ n_buckets bucket rows, and the offsets broadcast is
    |groups|·n_buckets rows — use this form for FEW groups with LARGE
    per-group cardinality (the skew case a plain grouped window cannot
    split); for many small groups a plain grouped window is already the
    right plan.

    ascending=True ranks by (value_col ASC, tie_col ASC) — no caller-
    side negation trick needed (bucket 0 then holds the smallest
    values).

    Tie contract: (group_cols, value_col, tie_col) must identify rows
    uniquely. The running sums use an explicit ROWS frame, so with
    duplicate tie pairs each duplicate gets a per-row running sum
    consistent with its (arbitrary) out_rank — deterministic only when
    the tie pairs are unique, which every caller guarantees (tie_col is
    always a key).
    """
    wcol = weight_col if weight_col is not None else value_col
    gc = list(group_cols or [])
    mm = df.agg(
        F.max(value_col).alias("__mx"),
        F.min(value_col).alias("__mn"),
    )
    pos = (
        (F.col(value_col) - F.col("__mn"))
        if ascending
        else (F.col("__mx") - F.col(value_col))
    )
    b = df.crossJoin(F.broadcast(mm)).withColumn(
        "__bucket",
        F.floor(
            pos
            / F.greatest(
                F.ceil(
                    (F.col("__mx") - F.col("__mn") + 1) / F.lit(n_buckets)
                ),
                F.lit(1),
            )
        ).cast("long"),
    ).drop("__mx", "__mn")
    stats = b.groupBy(*gc, "__bucket").agg(
        F.count(F.lit(1)).cast("long").alias("__bn"),
        F.sum(wcol).cast("long").alias("__bsum"),
    )
    w_off = (
        (Window.partitionBy(*gc) if gc else Window)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = stats.select(
        *gc,
        "__bucket",
        F.coalesce(F.sum("__bn").over(w_off), F.lit(0)).alias("__off_n"),
        F.coalesce(F.sum("__bsum").over(w_off), F.lit(0)).alias("__off_sum"),
    )
    order = [
        F.col(value_col).asc() if ascending else F.col(value_col).desc(),
        F.col(tie_col),
    ]
    w_in = Window.partitionBy(*gc, "__bucket").orderBy(*order)
    w_in_rows = w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = (
        b.withColumn("__rn_in", F.row_number().over(w_in).cast("long"))
        .withColumn("__cum_in", F.sum(wcol).over(w_in_rows).cast("long"))
        .join(F.broadcast(offsets), gc + ["__bucket"])
    )
    return (
        ranked.withColumn(out_rank, (F.col("__off_n") + F.col("__rn_in")))
        .withColumn(out_cum, (F.col("__off_sum") + F.col("__cum_in")))
        .drop("__bucket", "__rn_in", "__cum_in", "__off_n", "__off_sum")
    )


def ranked_cumsum_range_shuffle(
    df: DataFrame,
    value_col: str,
    tie_col: str,
    num_partitions: int | None = None,
    out_rank: str = "rnk",
    out_cum: str = "cum",
    weight_col: str | None = None,
    ascending: bool = False,
) -> DataFrame:
    """Exact global rank + running sum via range repartitioning on the
    COMPOSITE (value_col, tie_col) key — the peaked-distribution-proof
    twin of ranked_cumsum_two_pass, and the same mechanism Spark's own
    global sort uses.

    Why it exists: ranked_cumsum_two_pass buckets by VALUE range, and
    equal values must share a bucket for the offsets to be exact — so a
    value held by 90 % of rows puts 90 % of rows in one window task no
    matter how large n_buckets is. RangePartitioner samples the full
    composite key, so the hot value splits across tasks by tie_col.
    Measured (tools/skew_stress.py, ranked_cumsum case): the bucket
    form's worst task sorts the whole hot value, this form's tasks stay
    ~|rows|/num_partitions.

    Mechanics: repartitionByRange(num_partitions, value desc/asc, tie)
    puts partition i entirely before partition i+1 in the total order;
    per-partition counts/weight-sums (map-side combinable, one
    num_partitions-row table) get exclusive prefix offsets from a
    window over that tiny table; rows get within-partition
    row_number/running-ROWS-sum from a window PARTITIONED by the range
    partition id. Exactness does not depend on where the sampled
    boundaries land — offsets come from actual partition contents.

    The lazy localCheckpoint pins the sampled partitioning: the stats
    aggregate and the rank window must see the SAME assignment, and
    RangePartitioner's sample seed is not stable across plan re-
    instantiations. Cost: one range shuffle + one linear, disk-spillable
    materialization — use the bucket form when value duplicates are
    bounded, this form when one value can dominate.

    Same contracts as ranked_cumsum_two_pass: integer value/weight
    columns for bit-exact sums, unique (value_col, tie_col) pairs.
    """
    wcol = weight_col if weight_col is not None else value_col
    order = [
        F.col(value_col).asc() if ascending else F.col(value_col).desc(),
        F.col(tie_col).asc(),
    ]
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    b = checkpoint_df(
        df.repartitionByRange(num_partitions, *order)
        .withColumn("__pid", F.spark_partition_id()),
        eager=False,
    )
    stats = b.groupBy("__pid").agg(
        F.count(F.lit(1)).cast("long").alias("__pn"),
        F.sum(wcol).cast("long").alias("__psum"),
    )
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = stats.select(
        "__pid",
        F.coalesce(F.sum("__pn").over(w_off), F.lit(0)).alias("__off_n"),
        F.coalesce(F.sum("__psum").over(w_off), F.lit(0)).alias("__off_sum"),
    )
    w_in = Window.partitionBy("__pid").orderBy(*order)
    w_in_rows = w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = (
        b.withColumn("__rn_in", F.row_number().over(w_in).cast("long"))
        .withColumn("__cum_in", F.sum(wcol).over(w_in_rows).cast("long"))
        .join(F.broadcast(offsets), "__pid")
    )
    return (
        ranked.withColumn(out_rank, (F.col("__off_n") + F.col("__rn_in")))
        .withColumn(out_cum, (F.col("__off_sum") + F.col("__cum_in")))
        .drop("__pid", "__rn_in", "__cum_in", "__off_n", "__off_sum")
    )


def running_extreme_two_pass(
    df: DataFrame,
    value_col: str,
    tie_col: str,
    agg_col: str,
    out_col: str = "run_ext",
    n_buckets: int = 512,
    agg: str = "max",
    inclusive: bool = False,
) -> DataFrame:
    """Global running max/min of ``agg_col`` over (value_col ASC,
    tie_col ASC) without a single-partition window — the extreme-value
    twin of ranked_cumsum_two_pass (max/min are associative, so the
    bucket decomposition is exact for them just like for sums).

    ``inclusive=False`` gives the EXCLUSIVE frame
    (``ROWS UNBOUNDED PRECEDING AND 1 PRECEDING``) — NULL for the
    first row, the skyline/record-breaking shape; ``inclusive=True``
    includes the current row. Same two-pass mechanics: per-bucket
    extremes get exclusive prefix extremes via a window over the
    <= n_buckets bucket table; rows combine their within-bucket running
    extreme with the broadcast bucket offset (F.greatest/F.least skip
    NULLs, so bucket boundaries need no special-casing). Same contracts:
    integer value_col, unique (value_col, tie_col) pairs.
    """
    ext = F.max if agg == "max" else F.min
    comb = F.greatest if agg == "max" else F.least
    mm = df.agg(
        F.max(value_col).alias("__mx"),
        F.min(value_col).alias("__mn"),
    )
    b = df.crossJoin(F.broadcast(mm)).withColumn(
        "__bucket",
        F.floor(
            (F.col(value_col) - F.col("__mn"))
            / F.greatest(
                F.ceil(
                    (F.col("__mx") - F.col("__mn") + 1) / F.lit(n_buckets)
                ),
                F.lit(1),
            )
        ).cast("long"),
    ).drop("__mx", "__mn")
    stats = b.groupBy("__bucket").agg(ext(agg_col).alias("__bext"))
    w_off = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = stats.select(
        "__bucket",
        ext("__bext").over(w_off).alias("__off_ext"),
    )
    end = 0 if inclusive else -1
    w_in = (
        Window.partitionBy("__bucket")
        .orderBy(F.col(value_col).asc(), F.col(tie_col).asc())
        .rowsBetween(Window.unboundedPreceding, end)
    )
    return (
        b.withColumn("__in_ext", ext(agg_col).over(w_in))
        .join(F.broadcast(offsets), "__bucket")
        .withColumn(out_col, comb(F.col("__off_ext"), F.col("__in_ext")))
        .drop("__bucket", "__in_ext", "__off_ext")
    )


def ntile_two_pass(
    df: DataFrame,
    value_col: str,
    tie_col: str,
    n_tiles: int,
    out_col: str = "tile",
    n_buckets: int = 512,
) -> DataFrame:
    """Exact SQL ``ntile(n) OVER (ORDER BY value_col, tie_col)`` without
    a single-partition window: the global ascending rank comes from
    ranked_cumsum_two_pass and the tile from the standard remainder
    formula (with N rows and k tiles, the first N % k tiles hold
    ceil(N/k) rows, the rest floor(N/k)) — bit-identical to the engine
    builtin for any N, including N < k (each row its own tile). The
    total row count is a 1-row broadcast aggregate, not a driver
    collect. Same contracts as the underlying operator: integer
    value_col, unique (value_col, tie_col) pairs."""
    ranked = ranked_cumsum_two_pass(
        df,
        value_col,
        tie_col,
        n_buckets=n_buckets,
        out_rank="__ntile_rn",
        out_cum="__ntile_cum",
        ascending=True,
    ).drop("__ntile_cum")
    tot = df.agg(F.count(F.lit(1)).cast("long").alias("__ntile_n"))
    t = ranked.crossJoin(F.broadcast(tot))
    base = F.floor(F.col("__ntile_n") / n_tiles).cast("long")
    rem = (F.col("__ntile_n") % n_tiles).cast("long")
    cutoff = rem * (base + 1)
    rn = F.col("__ntile_rn")
    tile = F.when(
        rn <= cutoff, F.floor((rn - 1) / (base + 1)).cast("long") + 1
    ).otherwise(
        rem
        + F.floor((rn - cutoff - 1) / F.greatest(base, F.lit(1))).cast("long")
        + 1
    )
    return t.withColumn(out_col, tile).drop("__ntile_rn", "__ntile_n")


def multi_weighted_cumsum_two_pass(
    df: DataFrame,
    value_col: str,
    tie_col: str,
    weight_cols: list[str],
    n_buckets: int = 512,
    descending: bool = True,
) -> DataFrame:
    """N running sums in ONE two-pass ranking: same range-bucket shape
    as ranked_cumsum_two_pass, but every integer column in
    ``weight_cols`` gets its own exclusive-prefix offset and
    within-bucket running sum — output columns ``cum_<w>``. The multi-
    statistic form rank statistics need (two-sample energy distance
    wants cumulative counts AND cumulative value sums for BOTH groups:
    four weights, still three bounded shuffles total, where four
    operator calls would pay the bucketing four times).

    ``descending=False`` ranks ascending on value_col directly (no
    negation trick needed by callers)."""
    mm = df.agg(
        F.max(value_col).alias("__mx"),
        F.min(value_col).alias("__mn"),
    )
    width = F.greatest(
        F.ceil((F.col("__mx") - F.col("__mn") + 1) / F.lit(n_buckets)),
        F.lit(1),
    )
    pos = (
        (F.col("__mx") - F.col(value_col))
        if descending
        else (F.col(value_col) - F.col("__mn"))
    )
    b = (
        df.crossJoin(F.broadcast(mm))
        .withColumn("__bucket", F.floor(pos / width).cast("long"))
        .drop("__mx", "__mn")
    )
    stats = b.groupBy("__bucket").agg(
        *[F.sum(w).cast("long").alias(f"__bs_{w}") for w in weight_cols]
    )
    w_off = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = stats.select(
        "__bucket",
        *[
            F.coalesce(F.sum(f"__bs_{w}").over(w_off), F.lit(0)).alias(
                f"__off_{w}"
            )
            for w in weight_cols
        ],
    )
    order = (
        [F.col(value_col).desc(), F.col(tie_col)]
        if descending
        else [F.col(value_col).asc(), F.col(tie_col)]
    )
    # Explicit ROWS frame: per-row running sums consistent with rank
    # order even under duplicate (value, tie) pairs — deterministic only
    # when the tie pairs are unique (same contract as
    # ranked_cumsum_two_pass; every caller ties on a key).
    w_in = Window.partitionBy("__bucket").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = b
    for w in weight_cols:
        ranked = ranked.withColumn(
            f"__ci_{w}", F.sum(w).over(w_in).cast("long")
        )
    ranked = ranked.join(F.broadcast(offsets), "__bucket")
    for w in weight_cols:
        ranked = ranked.withColumn(
            f"cum_{w}", F.col(f"__off_{w}") + F.col(f"__ci_{w}")
        ).drop(f"__off_{w}", f"__ci_{w}")
    return ranked.drop("__bucket")
