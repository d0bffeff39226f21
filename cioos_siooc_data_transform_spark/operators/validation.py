"""Data-quality validation over parsed IOS files.

- validate_channel_bounds: recompute per-channel min/max from the data
  block (A1) and compare against the header's DECLARED Minimum/Maximum
  (IDT/ObsFile.py:328-329 reads them; the reference never cross-checks —
  this engine does, surfacing instrument-pipeline drift).
- validate_record_counts: header NUMBER OF RECORDS vs parsed rows (A2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# tolerated escape from the declared envelope, as a fraction of its span
REL_TOL = 0.05


def validate_channel_bounds(parsed: DataFrame) -> DataFrame:
    """One row per (file, channel) that has at least one data cell, with
    recomputed vs declared bounds and an `out_of_bounds` flag (true when
    observed values escape the declared envelope by more than REL_TOL of
    its span). Each channel's statistics come from its own file's row."""
    from cioos_siooc_data_transform_spark.sources.ios_source import pad_masked

    def stats(vals: Column, c: Column, i: Column) -> Column:
        return F.named_struct(
            F.lit("channel_idx"), i + 1,
            F.lit("obs_min"), F.array_min(vals),
            F.lit("obs_max"), F.array_max(vals),
            F.lit("n_values"), F.size(F.filter(vals, lambda v: v.isNotNull())).cast("long"),
            F.lit("name"), c["name"],
            F.lit("decl_min"), c["minimum"].try_cast("double"),
            F.lit("decl_max"), c["maximum"].try_cast("double"),
        )

    def channel(c: Column, i: Column) -> Column:
        vals = F.transform(
            "records",
            lambda r: pad_masked(F.get(r, i).try_cast("double"), c["pad"], F.col("pad_default")),
        )
        # the one-element array binds the masked values to a lambda
        # variable, so min, max and count read them instead of recomputing
        return F.when(
            F.exists("records", lambda r: F.size(r) > i),
            F.get(F.transform(F.array(vals), lambda v: stats(v, c, i)), 0),
        )

    per_channel = F.filter(F.transform("channels", channel), lambda s: s.isNotNull())
    bounds = parsed.select("file_id", F.inline(per_channel))
    span = F.greatest(F.col("decl_max") - F.col("decl_min"), F.lit(1e-9))
    out = (
        (F.col("obs_min") < F.col("decl_min") - span * REL_TOL)
        | (F.col("obs_max") > F.col("decl_max") + span * REL_TOL)
    )
    return bounds.withColumn(
        "out_of_bounds",
        F.when(
            F.col("decl_min").isNotNull() & F.col("decl_max").isNotNull(), out
        ).otherwise(F.lit(None)),
    )


def validate_record_counts(parsed: DataFrame) -> DataFrame:
    """Files whose parsed row count disagrees with the header's
    NUMBER OF RECORDS."""
    return parsed.select(
        "file_id",
        "n_records",
        F.size("records").alias("parsed_records"),
    ).filter(F.col("n_records") != F.col("parsed_records"))
