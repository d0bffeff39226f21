"""GeoJSON polygon dimension + point-in-polygon spatial join (SURVEY.md
§2.1 S12, §2.3 J1).

The polygon set is tiny (51 named ocean areas) → broadcast dimension; the
containment test is an even-odd ray cast over each ring's vertex arrays,
evaluated in Catalyst as the join condition (shapely is not available in
this container; the even-odd rule is the same algorithm shapely uses for
point-in-polygon).

Deliberate divergence (SURVEY.md §1.3.4): matching area names are sorted
before concatenation (the reference concatenates in dict-insertion order,
which is non-deterministic across geojson rewrites); names have spaces
replaced by dashes like the reference (IDT/utils.py:75-81), and no-match
yields 'None' (IDT/ObsFile.py:396-398).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def read_geojson_polygons(spark: SparkSession, path: str) -> DataFrame:
    """GeoJSON FeatureCollection → (feature_idx, name, xs, ys, bbox) rows,
    name dash-ified; Polygon features only, exterior ring only
    (IDT/utils.py:53-67)."""
    with open(path) as f:
        data = json.load(f)
    rows = []
    for feature in data["features"]:
        if feature["geometry"]["type"] == "Polygon":
            ring = feature["geometry"]["coordinates"][0]
            xs = [float(p[0]) for p in ring]
            ys = [float(p[1]) for p in ring]
            name = feature["properties"]["name"].replace(" ", "-")
            rows.append((len(rows), name, xs, ys, min(xs), max(xs), min(ys), max(ys)))
    return spark.createDataFrame(
        rows,
        "feature_idx INT, name STRING, xs ARRAY<DOUBLE>, ys ARRAY<DOUBLE>, "
        "bbox_min_lon DOUBLE, bbox_max_lon DOUBLE, "
        "bbox_min_lat DOUBLE, bbox_max_lat DOUBLE",
    )


def _inside_ring(px: Column, py: Column) -> Column:
    """Even-odd ray cast of (px, py) against the ring (xs, ys): toggle on
    every edge the rightward ray crosses. The division only runs where
    the edge straddles py, so its divisor is never zero."""

    def toggle(inside: Column, i: Column) -> Column:
        x1, y1 = F.get("xs", i), F.get("ys", i)
        x2, y2 = F.get("xs", i + 1), F.get("ys", i + 1)
        crossing = (y1 > py) != (y2 > py)
        xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        return inside != F.when(crossing, px < xint).otherwise(F.lit(False))

    return F.aggregate(F.sequence(F.lit(0), F.size("xs") - 2), F.lit(False), toggle)


GRID_POLYGON_THRESHOLD = 256  # above this, the bbox-BNLJ scan loses


def assign_geo_code(
    points: DataFrame,
    polygons: DataFrame,
    num_polygons: int | None = None,
    grid_deg: float = 1.0,
) -> DataFrame:
    """J1: one row per input row of ``points`` (file_id, longitude,
    latitude): file_id and geo_code, ALL containing areas' names
    (space-joined, sorted), no match → 'None'.

    The containment test is the join condition of one left join, bbox
    test first, so the ray cast only runs where the bbox test passes (a
    point hits ~1-3 of 51 bboxes). Matches are collected per input row,
    so two rows sharing a file_id each get their own areas. Two
    candidate-generation strategies (SURVEY.md §4's R-tree ask):

    - DEFAULT (small catalogs, e.g. the reference's 51 polygons): a
      broadcast nested-loop join. Cost is O(points × polygons) bbox
      tests — fine while the catalog is dimension-sized.
    - GRID (num_polygons > GRID_POLYGON_THRESHOLD): polygons explode to
      every grid cell their bbox overlaps, points map to exactly one
      cell, and candidates come from an EQUI-join on (cell_x, cell_y) —
      O(points + candidate pairs) instead of points × polygons, the
      same blocking idea as the dedup LSH buckets. Catalyst/AQE picks
      hash vs broadcast for the cell join, so a million-polygon catalog
      no longer needs to fit a nested-loop broadcast. Both paths are
      property-tested equal on the full corpus.

    num_polygons is caller-supplied (polygon catalogs are metadata whose
    size the driver knows) so plan construction stays lazy — no hidden
    count() job."""
    lon, lat = F.col("longitude"), F.col("latitude")
    in_bbox = (
        (lon >= F.col("bbox_min_lon"))
        & (lon <= F.col("bbox_max_lon"))
        & (lat >= F.col("bbox_min_lat"))
        & (lat <= F.col("bbox_max_lat"))
    )
    contains = in_bbox & _inside_ring(lon, lat)
    pts = points.select(
        "file_id", "longitude", "latitude", F.monotonically_increasing_id().alias("_row")
    )
    if num_polygons is not None and num_polygons > GRID_POLYGON_THRESHOLD:

        def cells(lo: str, hi: str) -> Column:
            return F.explode(
                F.sequence(
                    F.floor(F.col(lo) / grid_deg).cast("int"),
                    F.floor(F.col(hi) / grid_deg).cast("int"),
                )
            )

        gridded = polygons.withColumn("_cx", cells("bbox_min_lon", "bbox_max_lon")).withColumn(
            "_cy", cells("bbox_min_lat", "bbox_max_lat")
        )
        cell = (
            pts.withColumn("_cx", F.floor(lon / grid_deg).cast("int"))
            .withColumn("_cy", F.floor(lat / grid_deg).cast("int"))
            .alias("p")
        )
        matched = cell.join(
            gridded.alias("g"),
            (F.col("p._cx") == F.col("g._cx")) & (F.col("p._cy") == F.col("g._cy")) & contains,
            "left",
        )
    else:
        matched = pts.join(F.broadcast(polygons), contains, "left")
    names = F.sort_array(F.collect_list("name"))
    return matched.groupBy("_row", "file_id").agg(
        F.when(F.size(names) > 0, F.concat_ws(" ", names)).otherwise(F.lit("None")).alias("geo_code")
    ).drop("_row")
