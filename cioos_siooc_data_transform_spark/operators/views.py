"""Per-file-type wide views over the long-format measurements
(SURVEY.md §1.1 'pivot to wide per file type') and the incremental
age filter (P3).

The long format is the storage/processing shape; these views are the
user-facing shape a reference user expects: one row per (file, record)
with BODC-coded columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def wide_profile_view(
    parsed: DataFrame, var_codes: list[str] | None = None
) -> DataFrame:
    """Pivot routed measurements to one row per (file_id, record_idx) with
    a column per BODC variable; attaches profile scalars (lat/lon/time).

    Pivot with an EXPLICIT code list: Catalyst then plans a single
    aggregation with one conditional-first per column — no extra pass to
    discover pivot values (which would be a full scan at 100 TB).
    """
    from cioos_siooc_data_transform_spark.operators.bodc import assign_bodc_codes
    from cioos_siooc_data_transform_spark.sources.ios_source import (
        ios_catalog,
        ios_measurements_masked,
    )

    if var_codes is None:
        var_codes = [
            "PRESPR01", "depth", "TEMPS901", "TEMPS601", "TEMPST01", "PSALST01",
            "DOXYZZ01", "DOXMZZ01", "CNDCST01", "NTRZAAZ1", "PHOSAAZ1", "SLCAAAZ1",
        ]
    codes = assign_bodc_codes(parsed).select("file_id", "channel_idx", "var_code")
    meas = ios_measurements_masked(parsed)
    routed = meas.join(codes, ["file_id", "channel_idx"])
    wide = (
        routed.groupBy("file_id", "record_idx")
        .pivot("var_code", var_codes)
        .agg(F.first("value_num"))
    )
    scalars = ios_catalog(parsed).select(
        "file_id", "latitude", "longitude", "start_ts", "station", "event_number"
    )
    return wide.join(scalars, "file_id")


def mooring_timeseries_view(parsed: DataFrame) -> DataFrame:
    """Mooring/current-meter user view: long-format measurements with the
    generated observation timestamp attached (W1 ⋈ measurements on
    (file_id, record_idx)) — one row per (file, instant, channel)."""
    from cioos_siooc_data_transform_spark.sources.ios_source import (
        ios_measurements_masked,
        ios_observation_times,
    )

    meas = ios_measurements_masked(parsed)
    times = ios_observation_times(parsed)
    return meas.join(times, ["file_id", "record_idx"]).select(
        "file_id", "record_idx", "obs_ts", "channel_idx", "value_num"
    )


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
