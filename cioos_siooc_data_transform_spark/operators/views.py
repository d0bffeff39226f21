"""User-facing views of parsed IOS files (SURVEY.md §1.1 'pivot to wide
per file type') and the incremental age filter (P3).

The long format is the storage/processing shape; these views are the
shape a reference user expects, e.g. one row per (file, record) with
BODC-coded columns. Each is projected from the file's own parsed row:
no join or aggregation by file_id, so two files sharing a basename stay
two files.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the wide view's columns, in order
VIEW_CODES = [
    "PRESPR01", "depth", "TEMPS901", "TEMPS601", "TEMPST01", "PSALST01",
    "DOXYZZ01", "DOXMZZ01", "CNDCST01", "NTRZAAZ1", "PHOSAAZ1", "SLCAAAZ1",
]


def wide_profile_view(parsed: DataFrame) -> DataFrame:
    """One row per (file_id, record_idx) of each record holding a cell of
    a BODC-coded channel: a column per VIEW_CODES entry (the masked value
    of the file's first channel with that code, NULL if it has none) and
    the profile scalars (lat/lon/time) — all from the file's own row."""
    from cioos_siooc_data_transform_spark.operators.bodc import bodc_codes
    from cioos_siooc_data_transform_spark.sources.ios_source import pad_masked

    def position(arr, x: Column) -> Column:  # 0-based; -1 when absent
        return (F.array_position(arr, x) - 1).cast("int")

    scalars = ["latitude", "longitude", "start_ts", "station", "event_number"]
    coded = parsed.select(
        "file_id", "records", "pad_default", *scalars,
        F.transform(bodc_codes("channels"), lambda c: c["var_code"]).alias("_codes"),
        F.transform("channels", lambda c: c["pad"]).alias("_pads"),
    )
    # per file, below the generator: each view code's channel position
    # (-1 if absent) and the first coded channel's position
    files = coded.select(
        "*",
        F.array(*[position("_codes", F.lit(code)) for code in VIEW_CODES]).alias("_idx"),
        position(F.transform("_codes", lambda c: c.isNotNull()), F.lit(True)).alias("_first"),
    )
    # a record is kept when it holds a cell of a coded channel; one
    # predicate on the cell array, so that Catalyst cannot push a part of
    # it below the generator and run the coding ladder a second time
    recs = files.select(
        "*", F.posexplode("records").alias("record_idx", "_cells")
    ).filter(F.size("_cells") > F.when(F.col("_first") >= 0, F.col("_first")))

    def value(j: int) -> Column:
        k = F.get("_idx", j)
        cell = F.get("_cells", k).try_cast("double")
        return F.when(k >= 0, pad_masked(cell, F.get("_pads", k), F.col("pad_default")))

    return recs.select(
        "file_id", "record_idx",
        *[value(j).alias(code) for j, code in enumerate(VIEW_CODES)],
        *scalars,
    )


def mooring_timeseries_view(parsed: DataFrame) -> DataFrame:
    """Mooring/current-meter user view: masked measurements of records
    0 .. n_records-1 with their W1 observation timestamp — one row per
    (file, instant, channel), computed from the file's own row."""
    from cioos_siooc_data_transform_spark.sources.ios_source import explode_masked, obs_ts

    files = parsed.select(
        "file_id", "records", "channels", "pad_default",
        "start_ts", "time_increment_s", "n_records",
    ).filter(F.col("start_ts").isNotNull() & F.col("time_increment_s").isNotNull())
    cells = explode_masked(files).filter(F.col("record_idx") < F.col("n_records"))
    obs = obs_ts(F.col("start_ts"), F.col("time_increment_s"), F.col("record_idx"))
    return cells.select("file_id", "record_idx", obs.alias("obs_ts"), "channel_idx", "value_num")


def filter_new_files(files: DataFrame, hours: float = 24.0) -> DataFrame:
    """P3: keep only files modified within the last `hours` (the
    reference's incremental heuristic, IDT/utils.py:37-43) using the
    binaryFile source's modificationTime column. Prefer the streaming
    exactly-once pickup (streaming/incremental.py) — this exists for
    contract parity."""
    cutoff = F.current_timestamp() - F.make_dt_interval(
        F.lit(0), F.lit(0), F.lit(0), F.lit(hours * 3600.0)
    )
    return files.filter(F.col("modificationTime") > cutoff)
