"""The benchmark's workloads.

Each workload makes its inputs from the seed (outside the clock), runs
one pass of the engine's public entry point (the timed part), checks the
outputs of that pass (outside the clock) and, for the traced run, times
the layer calls that make up a pass.

- ``archive_convert``: ``cli.convert("all", "ctd", ...)`` over a seeded
  corpus; the backfill job.
- ``nightly_increment``: one AvailableNow drain of ``K`` new files that
  land in a tree of already-ingested files; the cron increment.
- ``query_mix``: registered ``plans`` queries, their rows collected;
  reads only, the control for ETL changes.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
import time

import corpus
import tables
from spans import ProgressListener


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def wipe(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def source_key() -> str:
    """Hash of the engine's and the benchmark's Python sources: state
    cached under ``.perfbench/`` is reused only by the code that built it."""
    here = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha1()
    for top in (here, os.path.join(os.path.dirname(here), "cioos_siooc_data_transform_spark")):
        for dirpath, dirnames, files in os.walk(top):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    h.update(os.path.relpath(path, top).encode() + b"\0")
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:12]


def _count_rows(path: str) -> int:
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def _column(path: str, name: str, filter_not_null: str | None = None) -> list:
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    dset = ds.dataset(path, format="parquet", partitioning="hive")
    flt = pc.field(filter_not_null).is_valid() if filter_not_null else None
    return dset.to_table(columns=[name], filter=flt).column(name).to_pylist()


class Workload:
    """The calls run.py makes on a workload; these defaults do nothing.

    ``WARMUPS`` passes follow the cold pass and are not reported; then at
    least ``TIMED`` passes are timed (README, "Steadiness")."""

    WARMUPS = 0
    TIMED = 3

    def prepare_state(self, prog, spark) -> None:
        """After set-up, before the cold pass: state every pass starts from."""

    def reset(self) -> None:
        """Before each pass, outside the clock."""

    def close(self) -> None:
        """When the run ends, pass or fail."""


class ArchiveConvert(Workload):
    """Backfill: every file of a mixed corpus to CF Parquet. The NetCDF sink
    and the geo-code join run in the layer pass only (see README)."""

    name = "archive_convert"
    WARMUPS = 0  # a warm-up pass did not make run_s steadier (README)
    N_FILES = 10
    RECORDS = (189, 9022)
    CHANNELS = (5, 12)
    N_CORRUPT = 3

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.in_dir = os.path.join(work, "ios")
        self.geojson = os.path.join(work, "areas.geojson")
        self.out_dir = os.path.join(work, "out")
        self.layer_dir = os.path.join(work, "layers")

    def make_inputs(self) -> None:
        self.manifest = corpus.write_corpus(
            self.in_dir, self.seed, self.N_FILES, self.RECORDS, self.CHANNELS, self.N_CORRUPT
        )
        corpus.write_geojson(self.geojson, self.seed)
        self.expected = corpus.expected_counts(self.manifest)
        self.input_bytes = self.manifest["bytes"]

    def check_inputs(self) -> None:
        on_disk = dir_bytes(self.in_dir)
        if on_disk != self.input_bytes or not os.path.isfile(self.geojson):
            raise RuntimeError(f"corpus changed on disk: {on_disk} != {self.input_bytes} bytes")

    def reset(self) -> None:
        wipe(self.out_dir)

    def run(self, prog, spark) -> None:
        self.result = prog.cli.convert("all", "ctd", self.in_dir, self.out_dir, spark=spark)

    def check(self) -> list[str]:
        exp, out, problems = self.expected, self.out_dir, []
        if self.result["files"] != exp["files"]:
            problems.append(f"files {self.result['files']} != {exp['files']}")
        errors = sorted(_column(f"{out}/catalog", "file_id", filter_not_null="error"))
        if errors != exp["errors"]:
            problems.append(f"error files {errors} != corrupt set {exp['errors']}")
        rows = _count_rows(f"{out}/measurements")
        if rows != exp["measurement_rows"]:
            problems.append(f"measurement rows {rows} != {exp['measurement_rows']}")
        return problems

    def output_bytes(self) -> int:
        return dir_bytes(self.out_dir)

    def traced_run(self, prog, spark, tracer) -> None:
        with tracer.jobs("cli.convert"):
            self.run(prog, spark)

    def layer_pass(self, prog, spark, tracer) -> dict:
        """Call the layers of the backfill one at a time, each on a cached
        parse, time each call and check the NetCDF and geo-code outputs."""
        src, out = prog.ios_source, self.layer_dir
        wipe(out)
        with tracer.jobs("sources.discover"):
            files = src.discover_files(spark, self.in_dir, prog.cli.FTYPE_EXTENSIONS["ctd"])
        with tracer.jobs("sources.parse"):
            parsed = src.parse_ios(files).cache()
            parsed.count()
        with tracer.jobs("sinks.cf_parquet"):
            prog.cf_parquet.write_cf_dataset(parsed, out)
        parsed.cache().count()  # the sink above unpersists its input
        with tracer.jobs("sources.geo_code"):
            polys = prog.geojson_source.read_geojson_polygons(spark, self.geojson)
            prog.geojson_source.assign_geo_code(src.ios_catalog(parsed), polys).write.mode(
                "overwrite"
            ).parquet(f"{out}/geo_codes")
        with tracer.jobs("sinks.cf_netcdf"):
            prog.cf_netcdf.write_netcdf_dir(parsed, f"{out}/netcdf")
        parsed.unpersist()
        problems = []
        n_nc = sum(len([f for f in files if f.endswith(".nc")]) for _, _, files in os.walk(f"{out}/netcdf"))
        if n_nc != self.expected["netcdf_files"]:
            problems.append(f"netcdf files {n_nc} != {self.expected['netcdf_files']}")
        n_geo = _count_rows(f"{out}/geo_codes")
        if n_geo != self.expected["files"]:
            problems.append(f"geo code rows {n_geo} != {self.expected['files']}")
        parquet = sum(dir_bytes(f"{out}/{d}") for d in ("measurements", "variables", "headers", "catalog"))
        return {
            "sinks.cf_parquet_bytes": parquet,
            "sinks.cf_netcdf_bytes": dir_bytes(f"{out}/netcdf"),
            "problems": problems,
        }


class NightlyIncrement(Workload):
    """Cron increment: K new files land in a tree of already-ingested files.

    Base and new files are drawn like the archive's. The tree and the
    checkpoint of its first ingest do not depend on the seed; they are
    built once per checkout, in a process of their own, and kept under
    ``.perfbench/cache``, keyed by the sources of the engine and of the
    benchmark. Each run lands its K seeded files in the tree, and every
    pass starts from a copy of that checkpoint."""

    name = "nightly_increment"
    N_BASE = 200
    K = 10
    RECORDS = ArchiveConvert.RECORDS
    CHANNELS = ArchiveConvert.CHANNELS

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.base = os.path.join(os.path.dirname(work), "cache", f"nightly-base-{source_key()}")
        self.tree = os.path.join(self.base, "tree")
        self.snapshot = os.path.join(self.base, "checkpoint")
        self.incoming = os.path.join(self.tree, f"incoming-{os.getpid()}")
        self.staged = os.path.join(work, "staged")
        self.ckpt = os.path.join(work, "checkpoint")
        self.out_dir = os.path.join(work, "out")

    @classmethod
    def build_base(cls, base: str, prog) -> None:
        """Write the base tree and ingest it once (run in its own process)."""
        wipe(base)
        corpus.write_corpus(f"{base}/tree", 0, cls.N_BASE, cls.RECORDS, cls.CHANNELS)
        spark = prog.session.get_spark("perfbench-base")
        prog.incremental.run_incremental_ingest(spark, f"{base}/tree", f"{base}/out", f"{base}/checkpoint")
        wipe(f"{base}/out")
        with open(f"{base}/COMPLETE", "w") as f:
            f.write(f"{cls.N_BASE}\n")

    def make_inputs(self) -> None:
        if not os.path.exists(os.path.join(self.base, "COMPLETE")):
            subprocess.run(
                [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
                 "--workload", self.name, "--seed", "0", "--seconds", "0",
                 "--build-nightly-base", self.base],
                check=True, stdout=subprocess.DEVNULL,
            )
        for d in os.listdir(self.tree):  # left by a run that was killed
            if d.startswith("incoming-"):
                wipe(os.path.join(self.tree, d))
        self.manifest = corpus.write_corpus(
            self.staged, self.seed, self.K, self.RECORDS, self.CHANNELS,
            first_index=self.N_BASE,
        )
        self.new_ids = sorted(f["file_id"] for f in self.manifest["files"])
        self.new_rows = sum(f["n_records"] * f["n_channels"] for f in self.manifest["files"])
        self.input_bytes = self.manifest["bytes"]

    def check_inputs(self) -> None:
        n = sum(len(files) for _, _, files in os.walk(self.tree))
        if n != self.N_BASE or dir_bytes(self.staged) != self.input_bytes:
            raise RuntimeError(f"input tree changed on disk: {n} files")

    def prepare_state(self, prog, spark) -> None:
        """Land the K new files in the tree."""
        shutil.copytree(self.staged, self.incoming)

    def close(self) -> None:
        wipe(self.incoming)

    def reset(self) -> None:
        wipe(self.out_dir)
        wipe(self.ckpt)
        shutil.copytree(self.snapshot, self.ckpt)

    def run(self, prog, spark) -> None:
        prog.incremental.run_incremental_ingest(spark, self.tree, self.out_dir, self.ckpt)

    def check(self) -> list[str]:
        problems = []
        ids = sorted(_column(f"{self.out_dir}/catalog", "file_id"))
        if ids != self.new_ids:
            extra = sorted(set(ids) - set(self.new_ids))
            missing = sorted(set(self.new_ids) - set(ids))
            problems.append(
                f"{len(ids)} files written, {len(set(ids))} distinct; expected the "
                f"{self.K} new ones once each (extra {extra[:3]}, missing {missing[:3]})"
            )
        rows = _count_rows(f"{self.out_dir}/measurements")
        if rows != self.new_rows:
            problems.append(f"measurement rows {rows} != {self.new_rows}")
        return problems

    def output_bytes(self) -> int:
        return dir_bytes(self.out_dir)

    def traced_run(self, prog, spark, tracer) -> None:
        """The drain, with each foreachBatch call spanned and the
        listener's per-batch durations kept on the drain span."""
        inc = prog.incremental
        inner = inc.write_ios_batch
        batch_spans = []

        def spanned(*args, **kwargs):
            # runs on the stream's thread: kept aside, parented afterwards
            start = time.perf_counter()
            try:
                return inner(*args, **kwargs)
            finally:
                batch_spans.append((start, time.perf_counter()))

        listener = ProgressListener()
        spark.streams.addListener(listener)
        inc.write_ios_batch = spanned
        try:
            with tracer.span("streaming.drain") as drain:
                self.run(prog, spark)
        finally:
            inc.write_ios_batch = inner
            drain["batches"] = listener.drain()
            spark.streams.removeListener(listener)
        for start, end in batch_spans:
            tracer.add("streaming.write_ios_batch", start, end, parent=drain["id"])

    def layer_pass(self, prog, spark, tracer) -> dict:
        """Listing of the whole tree and a parse of the new files, timed
        apart from the stream."""
        src = prog.ios_source
        with tracer.jobs("sources.discover"):
            src.discover_files(spark, self.tree, prog.cli.FTYPE_EXTENSIONS["ctd"])
        paths = [os.path.join(self.incoming, f["relpath"]) for f in self.manifest["files"]]
        with tracer.jobs("sources.parse"):
            n = src.parse_ios(spark.read.format("binaryFile").load(paths)).count()
        return {"problems": [] if n == self.K else [f"parsed {n} of {self.K} new files"]}


def _digest(pdf) -> str:
    """Order-insensitive digest: columns by name, rows sorted, exact value text."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf.columns) and len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)
    h = hashlib.md5()
    for col in pdf.columns:
        h.update(f"{col}\x00".encode())
        for v in pdf[col].tolist():
            h.update(f"{v!r}\x01".encode())
    return h.hexdigest()


class QueryMix(Workload):
    """Registered queries over seeded star-schema tables. Each pass
    collects every query's rows, and they are checked against the query's
    DuckDB oracle, run once. One query fits the budget (README): the one
    whose open ROADMAP item, codebook training inside construction,
    reaches every query layer."""

    name = "query_mix"
    # its short passes keep falling for several passes after the cold
    # one; time five from the fifth on, where the curve has flattened
    WARMUPS = 3
    TIMED = 5
    QUERIES = ("similarity_pq_adc_topk",)

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.data = os.path.join(work, "tables")
        self.results: dict = {}

    def make_inputs(self) -> None:
        self.input_bytes = tables.write_tables(self.data, self.seed)

    def check_inputs(self) -> None:
        if dir_bytes(self.data) != self.input_bytes:
            raise RuntimeError("tables changed on disk")

    def prepare_state(self, prog, spark) -> None:
        """Row count and digest of each query's oracle, run in DuckDB."""
        import duckdb

        oracles = prog.plans.all_oracles()
        con = duckdb.connect()
        for t in tables.TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
        self.want = {}
        for name in self.QUERIES:
            df = con.execute(oracles[name]).df()
            self.want[name] = (len(df), _digest(df))
        con.close()

    def reset(self) -> None:
        self.results = {}

    def run(self, prog, spark) -> None:
        queries = prog.plans.all_queries()
        for name in self.QUERIES:
            self.results[name] = queries[name](spark, self.data).toPandas()

    def check(self) -> list[str]:
        problems = []
        for name in self.QUERIES:
            got, (rows, digest) = self.results[name], self.want[name]
            if len(got) != rows or _digest(got) != digest:
                problems.append(f"{name}: {len(got)} rows, oracle {rows}; digests differ")
        return problems

    def output_bytes(self) -> int:
        import pyarrow as pa

        return sum(pa.Table.from_pandas(df, preserve_index=False).nbytes for df in self.results.values())

    def traced_run(self, prog, spark, tracer) -> None:
        queries = prog.plans.all_queries()
        for name in self.QUERIES:
            with tracer.jobs(f"query.{name}.construction"):
                df = queries[name](spark, self.data)
            with tracer.span(f"query.{name}.planning"):
                df._jdf.queryExecution().executedPlan()
            with tracer.jobs(f"query.{name}.execution"):
                self.results[name] = df.toPandas()

    def layer_pass(self, prog, spark, tracer) -> dict:
        return {"problems": []}


WORKLOADS = {w.name: w for w in (ArchiveConvert, NightlyIncrement, QueryMix)}
