"""Spark integration for the IOS parser (SURVEY.md §3.1 "Spark shape").

Pipeline: binaryFile scan (one row per file, recursive, case-insensitive
extension filter) → mapInPandas(parse) → one nested row per file →
relational accessors (catalog / channels / measurements) that explode the
nested structures into the FIXTURES.md shapes.

Scale notes (100 TB):
- the scan parallelizes over files; each task parses its files
  independently (the reference forked a process per file for isolation —
  Spark gives isolation + retry per task for free, SURVEY.md §4);
- parsing is one Python pass per file over Arrow batches; everything after
  (explodes, joins, aggregations) is Catalyst-planned JVM work;
- measurements explode to long format (file_id, record_idx, channel_idx)
  — the only shape that survives per-file dynamic schemas; downstream
  pivots are per-file-type projections.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cioos_siooc_data_transform_spark.sources.ios_format import parse_ios_file_safe

CHANNEL_STRUCT = T.StructType(
    [
        T.StructField("channel_idx", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("units", T.StringType()),
        T.StructField("minimum", T.StringType()),
        T.StructField("maximum", T.StringType()),
        T.StructField("pad", T.StringType()),
        T.StructField("width", T.StringType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("type", T.StringType()),
    ]
)

PARSED_SCHEMA = T.StructType(
    [
        T.StructField("file_id", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("ios_header_version", T.StringType()),
        T.StructField("start_ts", T.TimestampType()),
        T.StructField("end_ts", T.TimestampType()),
        T.StructField("time_increment_s", T.DoubleType()),
        T.StructField("n_records", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("data_description", T.StringType()),
        T.StructField("pad_default", T.StringType()),
        T.StructField("format_fortran", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("station", T.StringType()),
        T.StructField("event_number", T.StringType()),
        T.StructField("geographic_area_declared", T.StringType()),
        T.StructField("water_depth", T.DoubleType()),
        T.StructField("mission", T.StringType()),
        T.StructField("agency", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("project", T.StringType()),
        T.StructField("scientist", T.StringType()),
        T.StructField("platform", T.StringType()),
        T.StructField("instrument_type", T.StringType()),
        T.StructField("instrument_model", T.StringType()),
        T.StructField("instrument_serial", T.StringType()),
        T.StructField("instrument_depth", T.DoubleType()),
        T.StructField("deployment_mission", T.StringType()),
        T.StructField("recovery_mission", T.StringType()),
        T.StructField("section_names", T.ArrayType(T.StringType())),
        T.StructField(
            "comments_json",
            T.MapType(T.StringType(), T.MapType(T.StringType(), T.StringType())),
        ),
        T.StructField(
            "header_sections",
            T.MapType(T.StringType(), T.MapType(T.StringType(), T.StringType())),
        ),
        T.StructField("parse_strategy", T.StringType()),
        T.StructField("channels", T.ArrayType(CHANNEL_STRUCT)),
        T.StructField("records", T.ArrayType(T.ArrayType(T.StringType()))),
        T.StructField("error", T.StringType()),
    ]
)


def discover_files(spark: SparkSession, root: str, extensions: list[str]) -> DataFrame:
    """S1: recursive, case-insensitive extension discovery.

    binaryFile + recursiveFileLookup parallelizes the listing; the
    case-insensitive match is a post-filter on the path (the reference
    uses '*.[Cc][Tt][Dd]'-style globs, IDT/ios_data_transform_script.py:24-38).
    """
    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    if not extensions:
        raise ValueError(
            "discover_files: extensions must be non-empty (an empty list "
            "would otherwise build a null predicate, not match-nothing)"
        )
    ext_pred = None
    for ext in extensions:
        p = F.lower(F.col("path")).endswith("." + ext.lower())
        ext_pred = p if ext_pred is None else (ext_pred | p)
    return df.filter(ext_pred)


def parse_ios(files: DataFrame) -> DataFrame:
    """mapInPandas over (path, content) binary rows → nested parsed rows."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                text = bytes(content).decode("ascii", errors="ignore")
                rows.append(parse_ios_file_safe(path, text))
            yield pd.DataFrame(rows)

    return files.select("path", "content").mapInPandas(run, schema=PARSED_SCHEMA)


def read_ios(spark: SparkSession, root: str, extensions: list[str] | None = None) -> DataFrame:
    """Discover + parse in one call. Returns the nested parsed DataFrame."""
    if extensions is None:
        extensions = ["ctd", "che", "bot", "cur", "mctd"]
    return parse_ios(discover_files(spark, root, extensions))


# ---------------------------------------------------------------------------
# Relational accessors (FIXTURES.md shapes)
# ---------------------------------------------------------------------------
def ios_catalog(parsed: DataFrame) -> DataFrame:
    """One row per file: the ios_file_catalog + ios_header envelope."""
    return parsed.drop("channels", "records", "comments_json", "header_sections")


def ios_channels(parsed: DataFrame) -> DataFrame:
    """Exploded per-file channel catalog (dynamic schema as data)."""
    return parsed.select(
        "file_id", F.explode("channels").alias("ch")
    ).select("file_id", "ch.*")


def _explode_cells(files: DataFrame) -> DataFrame:
    """One row per data cell of per-file rows that hold ``records``:
    every other column of ``files``, record_idx, channel_idx, value_str,
    value_num. Two posexplodes — all JVM-side. Per-file arrays belong in
    ``files``: there they are computed once per file, below the explodes,
    not beside a generator."""
    keep = [c for c in files.columns if c != "records"]
    recs = files.select(*keep, F.posexplode("records").alias("record_idx", "cells"))
    cells = recs.select(
        *keep, "record_idx", F.posexplode("cells").alias("channel_idx0", "value_str")
    )
    return cells.select(
        *keep,
        "record_idx",
        (F.col("channel_idx0") + 1).alias("channel_idx"),
        "value_str",
        F.col("value_str").try_cast("double").alias("value_num"),
    )


def ios_measurements(parsed: DataFrame) -> DataFrame:
    """Long-format measurements: (file_id, record_idx, channel_idx,
    value_str, value_num)."""
    return _explode_cells(parsed.select("file_id", "records"))


def pad_masked(value_num: Column, channel_pad: Column, file_pad: Column) -> Column:
    """P4: NULL where the value equals its pad — the channel's pad, else
    the file's PAD (J5 coalesce chain, IDT/write_ctd_ncfile.py:93-101).
    A blank pad, bare or quoted (the reference's ``' '`` no-pad
    sentinel), is no pad."""

    def given(p: Column) -> Column:
        return F.when(~F.trim(p).rlike(r"^('\s*')?$"), F.trim(p))

    pad = F.coalesce(given(channel_pad), given(file_pad)).try_cast("double")
    return F.when(pad.isNotNull() & (value_num == pad), F.lit(None)).otherwise(value_num)


def explode_masked(files: DataFrame) -> DataFrame:
    """Per-file rows holding records, channels and pad_default (plus any
    per-file columns to carry) → one row per cell with pads masked: the
    carried columns, record_idx, channel_idx, value_str, value_num.

    Each cell's pad is looked up by position in the file's own channel
    array; cells past the last channel fall back to the file's PAD."""
    pads = files.withColumn(
        "_pads", F.transform("channels", lambda c: c["pad"])
    ).drop("channels")
    cells = _explode_cells(pads)
    pad = F.get("_pads", F.col("channel_idx") - 1)
    return cells.withColumn(
        "value_num", pad_masked(F.col("value_num"), pad, F.col("pad_default"))
    ).drop("_pads", "pad_default")


def ios_measurements_masked(parsed: DataFrame) -> DataFrame:
    """ios_measurements with pad → NULL (see explode_masked)."""
    return explode_masked(parsed.select("file_id", "records", "channels", "pad_default"))


def obs_ts(start_ts: Column, dt_s: Column, record_idx: Column) -> Column:
    """W1: the regular time series' instant start + i·dt, in whole
    microseconds (IDT/ObsFile.py:455-456, 507-508)."""
    return F.timestamp_micros(
        F.unix_micros(start_ts) + (record_idx * dt_s * 1_000_000).cast("long")
    )


def ios_observation_times(parsed: DataFrame) -> DataFrame:
    """W1: obs_ts for records 0 .. n_records-1 of each file, generated
    executor-side with sequence + posexplode."""
    base = parsed.select("file_id", "start_ts", "n_records", "time_increment_s").filter(
        F.col("start_ts").isNotNull()
        & F.col("time_increment_s").isNotNull()
        & (F.col("n_records") > 0)
    )
    idx = F.posexplode(F.sequence(F.lit(0), F.col("n_records") - 1))
    exploded = base.select("*", idx.alias("_p", "record_idx"))
    obs = obs_ts(F.col("start_ts"), F.col("time_increment_s"), F.col("record_idx"))
    return exploded.select("file_id", "record_idx", obs.alias("obs_ts"))


def ios_header_json(parsed: DataFrame) -> DataFrame:
    """F8/K1: full header tree serialized to JSON per file (the reference
    stores it as a global attribute, IDT/write_ctd_ncfile.py:36)."""
    return parsed.select(
        "file_id",
        F.to_json(
            F.struct(F.col("header_sections"), F.col("comments_json"))
        ).alias("header_json"),
    )
