"""CF NetCDF export (SURVEY.md §2.8 K1/K2): one NetCDF-3 file per input
observation file, mirroring the reference writer's variable assembly
(IDT/write_ctd_ncfile.py:11-151 + IDT/OceanNcFile.py:23-81):

global attrs (featureType, title, institution, header JSON) + dimension z
(= record count) + envelope vars (latitude, longitude, time, profile id)
+ the routed BODC-coded channel variables (pad → NaN, float32, CF names).

Each file's variables come from its own parsed row: BODC coding
(bodc_codes) and pad masking (pad_masked, the rule the Parquet sink's
cells use) run in Catalyst over the row's channel and record arrays; the
per-file byte assembly is a mapInPandas over those rows. Output is
(file_id, year, nc_bytes) — a DataFrame, so callers can write to any
store; write_netcdf_dir materializes to a local directory tree
(out/yy/file.nc like the reference, IDT/ios_data_transform_script.py:73-75).
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def to_netcdf_bytes(parsed: DataFrame) -> DataFrame:
    """Parsed IOS rows → (file_id, year, nc_bytes)."""
    from cioos_siooc_data_transform_spark.operators.bodc import bodc_codes
    from cioos_siooc_data_transform_spark.sources.ios_source import pad_masked

    def with_values(c, i):
        masked = F.transform(
            "records",
            lambda r: pad_masked(
                F.get(r, i).try_cast("double"), c["pad"], F.col("pad_default")
            ),
        )
        return c.withField("values", masked)

    cf_vars = F.filter(
        F.transform(bodc_codes("channels"), with_values), lambda v: v.isNotNull()
    )
    enriched = parsed.select(
        "file_id", "agency", "mission", "header_sections", "latitude", "longitude",
        "start_ts", F.size("records").alias("nrec"), cf_vars.alias("cf_vars"),
    )

    def build(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from cioos_siooc_data_transform_spark.sinks.netcdf3 import (
            NC_CHAR, NC_DOUBLE, NC_FLOAT, NcVariable, write_netcdf3,
        )

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                nrec = int(row["nrec"])
                if nrec == 0:
                    # classic NetCDF defines a dimension of length 0 as
                    # the UNLIMITED record dimension — writing z=0 would
                    # silently change every ['z'] variable into a record
                    # variable; skip the file instead (same per-file
                    # isolation as a parse error)
                    continue
                profile_id = str(row["file_id"])
                dims = {"z": nrec, "profile_strlen": max(len(profile_id), 1)}
                gattrs = {
                    "featureType": "profile",
                    "title": f"IOS observation {row['file_id']}",
                    "institution": row["agency"] or "",
                    "mission": row["mission"] or "",
                    "HEADER": json.dumps(
                        {k: dict(v) for k, v in (row["header_sections"] or {}).items()}
                    ),
                }
                variables = [
                    NcVariable(
                        "latitude", NC_FLOAT, [],
                        {"standard_name": "latitude", "units": "degrees_north"},
                        np.asarray(row["latitude"] if row["latitude"] is not None else math.nan),
                    ),
                    NcVariable(
                        # reference bug fixed: standard_name 'longitude'
                        # (IDT/OceanNcVar.py:63 wrote 'latitude')
                        "longitude", NC_FLOAT, [],
                        {"standard_name": "longitude", "units": "degrees_east"},
                        np.asarray(row["longitude"] if row["longitude"] is not None else math.nan),
                    ),
                    NcVariable(
                        "time", NC_DOUBLE, [],
                        {"standard_name": "time",
                         "units": "seconds since 1970-01-01 00:00:00+0000"},
                        # pd.notna, not `is not None`: a NULL start_ts
                        # arrives in mapInPandas as pd.NaT, which passes
                        # an identity check but raises on .timestamp()
                        np.asarray(
                            row["start_ts"].timestamp()
                            if pd.notna(row["start_ts"])
                            else math.nan
                        ),
                    ),
                    NcVariable(
                        "profile", NC_CHAR, ["profile_strlen"],
                        {"cf_role": "profile_id"}, profile_id,
                    ),
                ]
                for v in row["cf_vars"]:
                    variables.append(
                        NcVariable(
                            v["var_code"], NC_FLOAT, ["z"],
                            {
                                "standard_name": v["standard_name"],
                                "long_name": v["long_name"],
                                "units": v["units"],
                                # np.float32 → packed as NC_FLOAT: CF
                                # requires _FillValue to have the
                                # variable's exact type
                                "_FillValue": np.float32("nan"),
                            },
                            np.asarray(v["values"], dtype="f4"),
                        )
                    )
                nc = write_netcdf3(dims, gattrs, variables)
                year = row["start_ts"].year if pd.notna(row["start_ts"]) else 0
                out.append((row["file_id"], year, bytearray(nc)))
            yield pd.DataFrame(out, columns=["file_id", "year", "nc_bytes"])

    return enriched.mapInPandas(build, schema="file_id string, year int, nc_bytes binary")


def write_netcdf_dir(parsed: DataFrame, out_dir: str) -> int:
    """Materialize one .nc per file under out_dir/<year>/<file_id>.nc.

    Executor-side writes via foreachPartition (no driver collect — file
    bytes never funnel through one process); a task retry simply rewrites
    the same paths, so the write is idempotent. Returns the file count,
    summed by an accumulator in the same action (Spark applies an action's
    accumulator updates once per successful task, so retries do not count
    twice). ``parsed`` is neither cached nor unpersisted here — the caller
    owns its cache.
    """
    written = parsed.sparkSession.sparkContext.accumulator(0)

    def write_partition(rows) -> None:
        for r in rows:
            d = os.path.join(out_dir, str(r["year"]))
            os.makedirs(d, exist_ok=True)
            tmp = os.path.join(d, f".{r['file_id']}.nc.tmp")
            with open(tmp, "wb") as f:
                f.write(bytes(r["nc_bytes"]))
            os.replace(tmp, os.path.join(d, f"{r['file_id']}.nc"))
            written.add(1)

    to_netcdf_bytes(parsed).foreachPartition(write_partition)
    return written.value
