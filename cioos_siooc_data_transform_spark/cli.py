"""Batch-conversion entry point — the engine's equivalent of the
reference CLI (`python ios_data_transform_script.py {all|new} {ctd|mctd|
bot|cur}`, IDT/ios_data_transform_script.py:102-109).

    python -m cioos_siooc_data_transform_spark.cli all ctd \
        --in-dir /data/raw --out-dir /data/cf \
        [--geojson polygons.geojson] [--netcdf]

'all' converts every discovered file; 'new' only files modified in the
last 24 h (the reference's incremental heuristic; for production
incremental use streaming/incremental.py's exactly-once pickup instead).
Output: year-partitioned CF Parquet (+ optional per-file NetCDF-3).
"""

from __future__ import annotations

import argparse
import sys

FTYPE_EXTENSIONS = {
    "ctd": ["ctd"],
    "mctd": ["ctd", "mctd"],
    "bot": ["bot", "che"],
    "cur": ["cur"],
}


def convert(
    opt: str,
    ftype: str,
    in_dir: str,
    out_dir: str,
    geojson: str | None = None,
    netcdf: bool = False,
    spark=None,
) -> dict:
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.operators.views import filter_new_files
    from cioos_siooc_data_transform_spark.session import get_spark
    from cioos_siooc_data_transform_spark.sinks.cf_parquet import write_cf_dataset
    from cioos_siooc_data_transform_spark.sources.geojson_source import (
        assign_geo_code,
        read_geojson_polygons,
    )
    from cioos_siooc_data_transform_spark.sources.ios_source import (
        discover_files,
        ios_catalog,
        parse_ios,
    )

    own_session = spark is None
    if own_session:
        spark = get_spark("cioos-siooc-convert")
    try:
        files = discover_files(spark, in_dir, FTYPE_EXTENSIONS[ftype])
        if opt == "new":
            files = filter_new_files(files, hours=24.0)
        parsed = parse_ios(files).cache()
        try:
            # one action for both counts; it fills the cache before the
            # writes read it (writes that meet an unfilled cache run extra
            # jobs to fill it)
            n_files, n_errors = parsed.agg(F.count(F.lit(1)), F.count("error")).first()

            paths = write_cf_dataset(parsed, out_dir)

            if geojson:
                polys = read_geojson_polygons(spark, geojson)
                geo = assign_geo_code(ios_catalog(parsed), polys)
                geo.write.mode("overwrite").parquet(f"{out_dir}/geo_codes")
                paths["geo_codes"] = f"{out_dir}/geo_codes"

            if netcdf:
                from cioos_siooc_data_transform_spark.sinks.cf_netcdf import (
                    write_netcdf_dir,
                )

                write_netcdf_dir(parsed, f"{out_dir}/netcdf")
                paths["netcdf"] = f"{out_dir}/netcdf"
        finally:
            parsed.unpersist()
        return {"files": n_files, "errors": n_errors, "paths": paths}
    finally:
        if own_session:
            spark.stop()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("opt", choices=["all", "new"])
    ap.add_argument("ftype", choices=sorted(FTYPE_EXTENSIONS))
    ap.add_argument("--in-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--geojson")
    ap.add_argument("--netcdf", action="store_true")
    args = ap.parse_args(argv)
    result = convert(
        args.opt, args.ftype, args.in_dir, args.out_dir, args.geojson, args.netcdf
    )
    print(result)
    return 0 if result["errors"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
