"""The IOS→CF job over a seeded corpus that the tests write themselves
(perfbench/corpus.py), so they run on any host: convert with its geo-code
and NetCDF steps, per-file coding, validation, views and geo-codes of
duplicate basenames, agreement of the two sinks' pad masking, join-free
plans, the CF Parquet sink's cache, overwrite and marker contracts, the
incremental stream's exactly-once pickup and codec, and file listing that
starts no Spark job."""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import sys
from collections import Counter

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)
import corpus  # noqa: E402

from tests.conftest import group_jobs  # noqa: E402

SEED = 7
N_FILES = 8
RECORDS = (20, 400)
CHANNELS = (5, 12)
N_CORRUPT = 3


@pytest.fixture(scope="module")
def ios_corpus(tmp_path_factory):
    """A seeded tree of IOS files, 3 of them damaged, plus polygons."""
    root = tmp_path_factory.mktemp("ios_corpus")
    in_dir = str(root / "ios")
    manifest = corpus.write_corpus(in_dir, SEED, N_FILES, RECORDS, CHANNELS, N_CORRUPT)
    geojson = str(root / "areas.geojson")
    corpus.write_geojson(geojson, SEED)
    return in_dir, geojson, manifest


def _parse(spark, in_dir):
    from cioos_siooc_data_transform_spark.cli import FTYPE_EXTENSIONS
    from cioos_siooc_data_transform_spark.sources.ios_source import (
        discover_files,
        parse_ios,
    )

    return parse_ios(discover_files(spark, in_dir, FTYPE_EXTENSIONS["ctd"]))


def _nc_files(root: str) -> int:
    return sum(f.endswith(".nc") for _, _, files in os.walk(root) for f in files)


def test_convert_counts_match_manifest(spark, ios_corpus, tmp_path):
    from cioos_siooc_data_transform_spark.cli import convert

    in_dir, geojson, manifest = ios_corpus
    exp = corpus.expected_counts(manifest)
    assert len(exp["errors"]) == N_CORRUPT
    out = str(tmp_path / "out")
    result = convert("all", "ctd", in_dir, out, geojson=geojson, netcdf=True, spark=spark)
    assert result["files"] == exp["files"] == N_FILES
    assert result["errors"] == N_CORRUPT
    assert spark.read.parquet(result["paths"]["measurements"]).count() == exp["measurement_rows"]
    assert spark.read.parquet(result["paths"]["geo_codes"]).count() == exp["files"]
    assert _nc_files(result["paths"]["netcdf"]) == exp["netcdf_files"]
    for name in ("measurements", "variables", "headers", "catalog"):
        assert os.path.exists(os.path.join(result["paths"][name], "_SUCCESS")), name


def test_convert_writes_each_per_file_table_as_one_file(spark, tmp_path):
    """variables, headers and catalog hold a few rows per input file; one
    Parquet file per cached partition made them mostly footers."""
    from cioos_siooc_data_transform_spark.cli import convert

    in_dir = str(tmp_path / "ios")
    corpus.write_corpus(in_dir, 1, 10, (189, 9022), CHANNELS, N_CORRUPT)  # archive_convert, seed 1
    result = convert("all", "ctd", in_dir, str(tmp_path / "out"), spark=spark)
    for name in ("variables", "headers", "catalog"):
        parts = [f for f in os.listdir(result["paths"][name]) if f.startswith("part-")]
        assert len(parts) == 1, (name, parts)


def test_convert_without_matching_files_is_total(spark, ios_corpus, tmp_path):
    """No file of the type: zero counts, nothing raised."""
    from cioos_siooc_data_transform_spark.cli import convert

    in_dir, _, manifest = ios_corpus
    other = tmp_path / "bot_only"
    other.mkdir()
    shutil.copy(os.path.join(in_dir, manifest["files"][0]["relpath"]), other / "cast.bot")
    result = convert("all", "ctd", str(other), str(tmp_path / "out"), spark=spark)
    assert result["files"] == 0 and result["errors"] == 0


def test_duplicate_basename_is_converted_per_copy(spark, ios_corpus, tmp_path):
    """Two copies of one file in different directories share a file_id:
    each copy is its own file — twice the rows, and each copy's codes are
    numbered from 01 within that copy."""
    from cioos_siooc_data_transform_spark.cli import convert

    in_dir, _, manifest = ios_corpus
    good = [f for f in manifest["files"] if not f["corrupt"]]
    cast = min(good, key=lambda f: f["n_records"])
    src = os.path.join(in_dir, cast["relpath"])
    single, double = tmp_path / "single", tmp_path / "double"
    for d in (single / "a", double / "a", double / "b"):
        d.mkdir(parents=True)
        shutil.copy(src, d / os.path.basename(src))

    def run(root):
        paths = convert("all", "ctd", str(root), str(tmp_path / f"out_{root.name}"), spark=spark)["paths"]
        rows = spark.read.parquet(paths["measurements"]).count()
        codes = Counter(r["var_code"] for r in spark.read.parquet(paths["variables"]).collect())
        return rows, codes

    rows1, codes1 = run(single)
    rows2, codes2 = run(double)
    assert rows1 == cast["n_records"] * cast["n_routed"]
    assert rows2 == 2 * rows1
    assert codes2 == Counter({code: 2 * n for code, n in codes1.items()})
    assert codes1["TEMPS901"] == 1


def test_parquet_and_netcdf_mask_the_same_cells(spark, tmp_path):
    """Blank CHANNEL DETAIL pads fall back to the file's PAD in both sinks:
    the NetCDF values are NaN exactly where Parquet value_num is NULL."""
    from cioos_siooc_data_transform_spark.plans.ios_queries import SAMPLE_IOS
    from cioos_siooc_data_transform_spark.sinks.cf_netcdf import to_netcdf_bytes
    from cioos_siooc_data_transform_spark.sinks.cf_parquet import write_cf_dataset
    from cioos_siooc_data_transform_spark.sinks.netcdf3 import read_netcdf3

    text = SAMPLE_IOS.replace("-99   ' '", "      ' '")  # blank the channel pads
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "blank_pads.ctd").write_text(text)
    parsed = _parse(spark, str(in_dir)).cache()
    try:
        assert [c["pad"] for c in parsed.first()["channels"]] == ["", "", ""]
        assert parsed.first()["pad_default"] == "-99"
        paths = write_cf_dataset(parsed, str(tmp_path / "out"))
        (nc_row,) = to_netcdf_bytes(parsed).collect()
    finally:
        parsed.unpersist()
    parquet_nulls = {
        (r["var_code"], r["record_idx"])
        for r in spark.read.parquet(paths["measurements"]).filter("value_num IS NULL").collect()
    }
    nc = read_netcdf3(bytes(nc_row["nc_bytes"]))["variables"]
    netcdf_nans = {
        (code, i)
        for code in ("PRESPR01", "TEMPS901", "PSALST01")
        for i, x in enumerate(nc[code]["data"].tolist())
        if math.isnan(x)
    }
    assert parquet_nulls == netcdf_nans == {("TEMPS901", 2)}


def test_quoted_blank_channel_pad_falls_back_to_the_file_pad(spark, tmp_path):
    """A CHANNEL DETAIL pad written ' ' (the reference's no-pad sentinel)
    is no channel pad: the file's PAD masks that channel's cells."""
    from cioos_siooc_data_transform_spark.operators.views import mooring_timeseries_view
    from cioos_siooc_data_transform_spark.plans.ios_queries import SAMPLE_MOORING
    from cioos_siooc_data_transform_spark.sinks.cf_parquet import write_cf_dataset

    text = SAMPLE_MOORING.replace("01:00:00   6.5000", "01:00:00 -99.0000")
    assert text != SAMPLE_MOORING
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "m1_2024.ctd").write_text(text)
    parsed = _parse(spark, str(in_dir)).cache()
    try:
        assert [c["pad"] for c in parsed.first()["channels"]][2:] == ["' '", "' '"]
        temps = {
            r["record_idx"]: r["value_num"]
            for r in mooring_timeseries_view(parsed).filter("channel_idx = 3").collect()
        }
        paths = write_cf_dataset(parsed, str(tmp_path / "out"))
    finally:
        parsed.unpersist()
    assert temps == {0: 6.1, 1: None, 2: 7.2, 3: 7.9}
    cells = spark.read.parquet(paths["measurements"]).filter("var_code = 'TEMPST01'")
    assert {r["record_idx"]: r["value_num"] for r in cells.collect()} == temps


def _plan_operators(df) -> list[str]:
    """Operator names of the formatted plan's numbered list ("(n) Name")."""
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    return re.findall(r"^\(\d+\) (\w+)", plan, flags=re.M)


def test_masking_and_coding_plans_have_no_join_window_or_exchange(spark, ios_corpus):
    """Per-file operators are projections of each file's own row; geo-coding
    is one join whose containment test runs in the JVM."""
    from cioos_siooc_data_transform_spark.operators.bodc import assign_bodc_codes
    from cioos_siooc_data_transform_spark.operators.validation import validate_channel_bounds
    from cioos_siooc_data_transform_spark.operators.views import (
        mooring_timeseries_view,
        wide_profile_view,
    )
    from cioos_siooc_data_transform_spark.sources.geojson_source import (
        assign_geo_code,
        read_geojson_polygons,
    )
    from cioos_siooc_data_transform_spark.sources.ios_source import (
        ios_catalog,
        ios_measurements_masked,
    )

    parsed = _parse(spark, ios_corpus[0])
    per_file = (
        ios_measurements_masked(parsed),
        assign_bodc_codes(parsed),
        validate_channel_bounds(parsed),
        wide_profile_view(parsed),
        mooring_timeseries_view(parsed),
    )
    for df in per_file:
        ops = _plan_operators(df)
        assert "Generate" in ops
        assert [op for op in ops if re.search("Join|Aggregate|Window|Exchange", op)] == []
    polys = read_geojson_polygons(spark, ios_corpus[1])
    for num_polygons in (None, 100000):
        ops = _plan_operators(assign_geo_code(ios_catalog(parsed), polys, num_polygons))
        assert len([op for op in ops if op.endswith("Join")]) == 1
        assert [op for op in ops if "EvalPython" in op] == []


def test_geo_code_equals_a_python_ray_cast(spark, ios_corpus):
    """Both candidate paths give each point exactly the areas that a plain
    even-odd ray cast over the GeoJSON rings finds."""
    import random

    from cioos_siooc_data_transform_spark.sources.geojson_source import (
        assign_geo_code,
        read_geojson_polygons,
    )

    geojson = ios_corpus[1]
    with open(geojson) as f:
        areas = [
            (feat["properties"]["name"].replace(" ", "-"), feat["geometry"]["coordinates"][0])
            for feat in json.load(f)["features"]
        ]

    def inside(x, y, ring):
        hit = False
        for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
            if (y1 > y) != (y2 > y) and x < (x2 - x1) * (y - y1) / (y2 - y1) + x1:
                hit = not hit
        return hit

    lons = [x for _, ring in areas for x, _ in ring]
    lats = [y for _, ring in areas for _, y in ring]
    rng = random.Random(SEED)
    points = [
        (str(i), rng.uniform(min(lons), max(lons)), rng.uniform(min(lats), max(lats)))
        for i in range(2000)
    ]
    expected = {
        pid: " ".join(sorted(name for name, ring in areas if inside(x, y, ring))) or "None"
        for pid, x, y in points
    }
    assert "None" in expected.values() and any(" " in v for v in expected.values())
    df = spark.createDataFrame(points, "file_id STRING, longitude DOUBLE, latitude DOUBLE")
    polys = read_geojson_polygons(spark, geojson)
    for num_polygons in (None, 100000):
        assert dict(assign_geo_code(df, polys, num_polygons).collect()) == expected


def test_per_file_operators_keep_duplicate_basenames_apart(spark, ios_corpus, tmp_path):
    """Two different files saved under one basename in different
    directories share a file_id: bounds, wide rows and geo codes of the
    pair are those of each file run alone under that name."""
    from cioos_siooc_data_transform_spark.operators.validation import validate_channel_bounds
    from cioos_siooc_data_transform_spark.operators.views import wide_profile_view
    from cioos_siooc_data_transform_spark.sources.geojson_source import (
        assign_geo_code,
        read_geojson_polygons,
    )
    from cioos_siooc_data_transform_spark.sources.ios_source import ios_catalog

    in_dir, _, manifest = ios_corpus
    good = sorted((f for f in manifest["files"] if not f["corrupt"]), key=lambda f: f["n_records"])
    first, second = (os.path.join(in_dir, f["relpath"]) for f in good[:2])
    name = os.path.basename(first)
    for root, d, src in (("one", "a", first), ("two", "b", second), ("both", "a", first), ("both", "b", second)):
        (tmp_path / root / d).mkdir(parents=True, exist_ok=True)
        shutil.copy(src, tmp_path / root / d / name)
    # two areas that cover the globe: every file lies in both
    world = [[[-180.0, -90.0], [180.0, -90.0], [180.0, 90.0], [-180.0, 90.0], [-180.0, -90.0]]]
    geojson = tmp_path / "world.geojson"
    geojson.write_text(json.dumps({"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {"name": n}, "geometry": {"type": "Polygon", "coordinates": world}}
        for n in ("World A", "World B")
    ]}))
    polys = read_geojson_polygons(spark, str(geojson))
    operators = {
        "bounds": validate_channel_bounds,
        "wide": wide_profile_view,
        "geo": lambda parsed: assign_geo_code(ios_catalog(parsed), polys),
    }
    parsed = {root: _parse(spark, str(tmp_path / root)).cache() for root in ("one", "two", "both")}
    try:
        assert parsed["both"].select("file_id").distinct().count() == 1
        for label, op in operators.items():
            both = op(parsed["both"])
            alone = op(parsed["one"]).unionAll(op(parsed["two"]))
            assert both.count() > 0, label
            assert both.exceptAll(alone).count() == alone.exceptAll(both).count() == 0, label
        geo = {r["geo_code"] for r in operators["geo"](parsed["both"]).collect()}
        assert geo == {"World-A World-B"}
    finally:
        for df in parsed.values():
            df.unpersist()


def test_cf_sink_leaves_cached_input_cached(spark, ios_corpus, tmp_path):
    """The caller owns the cache: the sink must not unpersist its input."""
    from cioos_siooc_data_transform_spark.sinks.cf_parquet import write_cf_dataset

    parsed = _parse(spark, ios_corpus[0]).cache()
    try:
        write_cf_dataset(parsed, str(tmp_path / "out"))
        assert parsed.is_cached
    finally:
        parsed.unpersist()


def test_cf_sink_overwrites_one_year_and_keeps_the_others(spark, ios_corpus, tmp_path):
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.sinks.cf_parquet import write_cf_dataset

    conf_key = "spark.sql.sources.partitionOverwriteMode"
    conf_before = spark.conf.get(conf_key)
    out = str(tmp_path / "out")
    parsed = _parse(spark, ios_corpus[0]).cache()
    try:
        paths = write_cf_dataset(parsed, out)
        per_year = dict(
            spark.read.parquet(paths["measurements"]).groupBy("year").count().collect()
        )
        assert len(per_year) > 1
        year = max(per_year)
        write_cf_dataset(parsed.filter(F.year("start_ts") == year), out)
    finally:
        parsed.unpersist()
    after = dict(spark.read.parquet(paths["measurements"]).groupBy("year").count().collect())
    assert after == per_year  # the rewritten year replaced, not appended; others kept
    assert spark.conf.get(conf_key) == conf_before


def test_cf_sink_writes_run_in_the_callers_job_group(spark, ios_corpus, tmp_path):
    """The four writes run on pool threads, and each inherits the
    caller's job group: the group holds every write job (5, as many as
    when the writes ran one after another on the caller's thread), and
    no job of the sink runs outside it."""
    import time

    from cioos_siooc_data_transform_spark.sinks.cf_parquet import write_cf_dataset

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    parsed = _parse(spark, ios_corpus[0]).cache()
    try:
        parsed.count()
        ungrouped = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup("cf-sink-writes", "write_cf_dataset")
        try:
            write_cf_dataset(parsed, str(tmp_path / "out"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    finally:
        parsed.unpersist()
    deadline = time.monotonic() + 10  # job events reach the tracker asynchronously
    while len(tracker.getJobIdsForGroup("cf-sink-writes")) < 5 and time.monotonic() < deadline:
        time.sleep(0.1)
    assert len(tracker.getJobIdsForGroup("cf-sink-writes")) == 5
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_cf_sink_raises_a_failed_write_after_the_others_finish(
    spark, ios_corpus, tmp_path, monkeypatch
):
    from pyspark.sql import functions as F

    from cioos_siooc_data_transform_spark.sinks.cf_parquet import write_cf_dataset
    from cioos_siooc_data_transform_spark.sources import ios_source

    def failing_headers(parsed):
        fail = F.raise_error(F.concat(F.lit("no header for "), F.col("file_id")))
        return parsed.select("file_id", fail.cast("string").alias("header_json"))

    monkeypatch.setattr(ios_source, "ios_header_json", failing_headers)
    out = tmp_path / "out"
    parsed = _parse(spark, ios_corpus[0]).cache()
    try:
        parsed.count()
        with pytest.raises(Exception, match="no header for"):
            write_cf_dataset(parsed, str(out))
    finally:
        parsed.unpersist()
    # the other three writes had committed when the error was raised
    for name in ("measurements", "variables", "catalog"):
        assert (out / name / "_SUCCESS").exists(), name
    rows = spark.read.parquet(str(out / "measurements")).count()
    assert rows == corpus.expected_counts(ios_corpus[2])["measurement_rows"]
    assert not (out / "headers" / "_SUCCESS").exists()


def test_incremental_drains_pick_up_each_file_once(spark, tmp_path):
    from cioos_siooc_data_transform_spark.streaming.incremental import (
        run_incremental_ingest,
    )

    src, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    first = corpus.write_corpus(os.path.join(src, "a"), SEED, 5, RECORDS, CHANNELS)

    def drain():
        run_incremental_ingest(spark, src, out, ckpt, max_files_per_trigger=2)
        return sorted(os.listdir(os.path.join(out, "catalog")))

    def file_ids():
        return sorted(r["file_id"] for r in spark.read.parquet(f"{out}/catalog").collect())

    assert drain() == ["batch_id=0", "batch_id=1", "batch_id=2"]
    ids = sorted(f["file_id"] for f in first["files"])
    assert file_ids() == ids
    rows = sum(f["n_records"] * f["n_channels"] for f in first["files"])
    assert spark.read.parquet(f"{out}/measurements").count() == rows

    assert drain() == ["batch_id=0", "batch_id=1", "batch_id=2"]  # nothing new

    second = corpus.write_corpus(
        os.path.join(src, "b"), SEED, 2, RECORDS, CHANNELS, first_index=5
    )
    assert drain() == ["batch_id=0", "batch_id=1", "batch_id=2", "batch_id=3"]
    assert file_ids() == sorted(ids + [f["file_id"] for f in second["files"]])
    written = [
        os.path.join(d, f) for d, _, files in os.walk(out) for f in files if f.endswith(".parquet")
    ]
    assert written and {_codec(p) for p in written} == {"ZSTD"}
    for batch in os.listdir(os.path.join(out, "catalog")):
        parts = os.listdir(os.path.join(out, "catalog", batch))
        assert sum(f.startswith("part-") for f in parts) == 1, batch


def _codec(path: str) -> str:
    """The one compression codec of every column chunk of a Parquet file."""
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(path).metadata
    (codec,) = {
        meta.row_group(g).column(c).compression
        for g in range(meta.num_row_groups)
        for c in range(meta.num_columns)
    }
    return codec


def test_restarted_drain_lists_known_files_without_a_job(spark, tmp_path):
    """A restart re-lists the last committed batch's files (40 here) only
    to rebuild its relation; that listing stays on the driver. The drain
    of one new file runs its two writes and nothing else."""
    from pyspark.sql.streaming import StreamingQueryListener

    from cioos_siooc_data_transform_spark.streaming.incremental import (
        run_incremental_ingest,
    )

    class RunIds(StreamingQueryListener):
        def __init__(self):
            self.run_ids = []

        def onQueryStarted(self, event):
            self.run_ids.append(str(event.runId))

        def onQueryProgress(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    src, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    corpus.write_corpus(os.path.join(src, "a"), SEED, 40, (20, 40), CHANNELS)
    run_incremental_ingest(spark, src, out, ckpt)
    corpus.write_corpus(os.path.join(src, "b"), SEED, 1, (20, 40), CHANNELS, first_index=40)
    listener = RunIds()
    spark.streams.addListener(listener)
    try:
        run_incremental_ingest(spark, src, out, ckpt)
    finally:
        spark.streams.removeListener(listener)
    assert spark.read.parquet(f"{out}/catalog").count() == 41
    (run_id,) = listener.run_ids
    jobs = group_jobs(spark, run_id)
    tracker = spark.sparkContext.statusTracker()
    stages = [tracker.getStageInfo(s) for job in jobs for s in job.stageIds]
    assert len(jobs) == 2
    assert stages and max(st.numTasks for st in stages if st is not None) < 40


def test_discovery_lists_on_the_driver(spark, tmp_path):
    """Discovering files in 40 directories, past Spark's default
    parallel-listing threshold of 32, starts no Spark job."""
    from cioos_siooc_data_transform_spark.sources.ios_source import discover_files

    for i in range(40):
        (tmp_path / f"d{i:02d}").mkdir()
        (tmp_path / f"d{i:02d}" / f"cast{i:02d}.ctd").write_text("*END OF HEADER\n")
    sc = spark.sparkContext
    sc.setJobGroup("discover-40-dirs", "discover_files")
    try:
        found = discover_files(spark, str(tmp_path), ["ctd"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert group_jobs(spark, "discover-40-dirs") == []
    assert found.count() == 40


def test_write_ios_batch_retry_is_idempotent(spark, ios_corpus, tmp_path):
    from cioos_siooc_data_transform_spark.streaming.incremental import write_ios_batch

    in_dir, _, manifest = ios_corpus
    paths = [os.path.join(in_dir, f["relpath"]) for f in manifest["files"][:3]]
    batch = spark.read.format("binaryFile").load(paths)
    out = str(tmp_path / "out")
    write_ios_batch(spark, batch, out, batch_id=0)
    first = spark.read.parquet(f"{out}/catalog").count()
    meas = spark.read.parquet(f"{out}/measurements").count()
    write_ios_batch(spark, batch, out, batch_id=0)  # simulated retry
    cat = spark.read.parquet(f"{out}/catalog")
    assert cat.count() == first == 3
    assert cat.select("file_id").distinct().count() == 3
    assert spark.read.parquet(f"{out}/measurements").count() == meas
