"""Benchmark of the IOS -> CF engine: end-to-end and per-layer metrics.

Run from the repository root:

    python3 perfbench/run.py --workload archive_convert --seed 1 --seconds 2 --trace 0

One process, one client, closed loop: the engine runs on ``local[N]``
with N = min(CPUS, usable cores). The run

1. makes the workload's inputs from the seed (not timed);
2. sets up ``SETUPS`` times (imports of the engine's modules, a Spark
   session, the input check) and reports the median as ``setup_s``. The
   first set-up launches the JVM; the others stop the session and start
   a fresh one in that JVM;
3. runs one cold pass and reports it, plus the first set-up, as
   ``cold_run_s``: what a nightly cron pays from launch to written output;
4. runs the workload's ``WARMUPS`` passes, then timed passes, at least
   the workload's ``TIMED``, until ``--seconds`` have gone by, reporting
   their median as ``run_s``.

Outputs are wiped, state restored and garbage collected before every
pass and checked after it, all outside the clock; a pass whose outputs
are wrong counts as failed. The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 1``
the metrics are the per-layer ones and the spans go to
``.perfbench/traces/<workload>-<seed>.json``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from types import SimpleNamespace

PACKAGE = "cioos_siooc_data_transform_spark"
PROGRAM = {
    "session": f"{PACKAGE}.session",
    "cli": f"{PACKAGE}.cli",
    "ios_source": f"{PACKAGE}.sources.ios_source",
    "geojson_source": f"{PACKAGE}.sources.geojson_source",
    "cf_parquet": f"{PACKAGE}.sinks.cf_parquet",
    "cf_netcdf": f"{PACKAGE}.sinks.cf_netcdf",
    "incremental": f"{PACKAGE}.streaming.incremental",
    "plans": f"{PACKAGE}.plans",  # imported last: its time is the registry's
}
CPUS = 2
SETUPS = 3
MIN_TRACED = 2
MAX_TIMED = 12

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_run_s": "s",
    "run_s": "s",
    "output_bytes_per_input_byte": "B/B",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports; layers a workload does
    not reach read 0."""
    from workloads import QueryMix

    units = {
        "session.jvm_launch_s": "s",
        "session.get_spark_s": "s",
        "plans.registry_import_s": "s",
        "sources.discover_s": "s",
        "sources.parse_s": "s",
        "sources.geo_code_s": "s",
        "sinks.cf_parquet_s": "s",
        "sinks.cf_parquet_bytes": "B",
        "sinks.cf_netcdf_s": "s",
        "sinks.cf_netcdf_bytes": "B",
        "cli.convert_s": "s",
        "cli.convert_unattributed_s": "s",
        "cli.convert_jobs": "count",
        "cli.convert_stages": "count",
        "cli.convert_tasks": "count",
        "streaming.drain_s": "s",
        "streaming.batches": "count",
        "streaming.latest_offset_ms": "ms",
        "streaming.add_batch_ms": "ms",
        "streaming.wal_commit_ms": "ms",
        "streaming.query_planning_ms": "ms",
        "streaming.start_overhead_s": "s",
        "streaming.write_ios_batch_s": "s",
        "plans.construction_s": "s",
        "plans.construction_jobs": "count",
        "catalyst.planning_s": "s",
        "spark.execution_s": "s",
        "spark.tasks": "count",
    }
    for q in QueryMix.QUERIES:
        units[f"query.{q}.construction_s"] = "s"
        units[f"query.{q}.execution_s"] = "s"
    units["trace.overhead_s"] = "s"
    return units


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def configure_environment(root: str, scratch: str) -> None:
    """Steadiness guards, set before the JVM starts; all scratch stays in
    the checkout."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # get_spark defaults to local[32]; pin the core count (see README)
    os.environ["SPARK_GRAFT_CPUS"] = str(min(CPUS, len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    # mapInPandas workers import the engine from the checkout
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')} pyspark-shell"
    )


def import_program() -> tuple[SimpleNamespace, float]:
    """Import the engine's modules afresh; returns them and the time the
    query registry (``plans``) took."""
    for name in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
        del sys.modules[name]
    mods = {}
    for key, module in PROGRAM.items():
        t0 = time.perf_counter()
        mods[key] = importlib.import_module(module)
        registry_s = time.perf_counter() - t0
    return SimpleNamespace(**mods), registry_s


def set_up(wl) -> tuple[SimpleNamespace, object, dict]:
    """One set-up: imports, session start and the input check."""
    t0 = time.perf_counter()
    prog, registry_s = import_program()
    t1 = time.perf_counter()
    spark = prog.session.get_spark("perfbench")
    t2 = time.perf_counter()
    wl.check_inputs()
    t3 = time.perf_counter()
    return prog, spark, {"setup_s": t3 - t0, "get_spark_s": t2 - t1, "registry_import_s": registry_s}


def shut_down(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, wl, prog, spark, seconds: float):
        self.wl, self.prog, self.spark, self.seconds = wl, prog, spark, seconds
        self.attempted = self.failed = 0

    def one_pass(self, timed_call) -> float | None:
        """Reset (untimed), run (timed), check (untimed). None if it failed."""
        self.wl.reset()
        gc.collect()
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            timed_call()
            elapsed = time.perf_counter() - t0
            problems = self.wl.check()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            problems = ["pass raised"]
        if problems:
            self.failed += 1
            print(f"perfbench: {self.wl.name} pass {self.attempted} failed: {problems}", file=sys.stderr)
            return None
        print(f"perfbench: {self.wl.name} pass {self.attempted}: {elapsed:.3f} s", file=sys.stderr)
        return elapsed

    def run_pass(self) -> float | None:
        return self.one_pass(lambda: self.wl.run(self.prog, self.spark))

    def warm_up(self) -> float | None:
        """The cold pass, then the workload's warm-up passes."""
        cold = self.run_pass()
        for _ in range(self.wl.WARMUPS):
            self.run_pass()
        return cold

    def repeat(self, one_round, least: int) -> None:
        """At least ``least`` rounds, then more until ``--seconds`` have gone
        by or ``MAX_TIMED`` rounds have run. Rounds are counted whether or
        not they pass, so a run whose passes all fail still ends."""
        start = time.perf_counter()
        n = 0
        while n < least or (n < MAX_TIMED and time.perf_counter() - start < self.seconds):
            one_round()
            n += 1


def measure(runner: Runner, setups: list[dict]) -> dict:
    wl = runner.wl
    cold = runner.warm_up()
    times: list[float] = []

    def one_round():
        t = runner.run_pass()
        if t is not None:
            times.append(t)

    runner.repeat(one_round, wl.TIMED)
    out_bytes = wl.output_bytes()  # of the last pass: byte counts repeat exactly
    return {
        "setup_s": median([s["setup_s"] for s in setups]),
        # what a cron pays: the JVM launch with the first set-up, then a pass
        "cold_run_s": setups[0]["setup_s"] + (cold or 0.0),
        "run_s": median(times),
        "output_bytes_per_input_byte": out_bytes / wl.input_bytes,
    }


def measure_traced(runner: Runner, setups: list[dict], tracer) -> dict:
    """After the warm-up, rounds of an untraced pass, a traced pass and
    the workload's layer-by-layer pass."""
    wl, prog, spark = runner.wl, runner.prog, runner.spark
    runner.warm_up()
    untraced: list[float] = []
    traced: list[float] = []
    extras: list[dict] = []

    def one_round():
        t = runner.run_pass()
        if t is not None:
            untraced.append(t)
        tracer.pass_id += 1
        t = runner.one_pass(lambda: wl.traced_run(prog, spark, tracer))
        if t is not None:
            traced.append(t)
        runner.attempted += 1
        try:
            extra = wl.layer_pass(prog, spark, tracer)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            extra = {"problems": ["layer pass raised"]}
        if extra["problems"]:
            runner.failed += 1
            print(f"perfbench: {wl.name} layer pass failed: {extra['problems']}", file=sys.stderr)
        extras.append(extra)

    runner.repeat(one_round, MIN_TRACED)
    metrics = layer_metrics(tracer, extras, per_layer_units())
    metrics["session.jvm_launch_s"] = setups[0]["get_spark_s"]
    metrics["session.get_spark_s"] = median([s["get_spark_s"] for s in setups[1:]])
    metrics["plans.registry_import_s"] = median([s["registry_import_s"] for s in setups])
    metrics["trace.overhead_s"] = median(traced) - median(untraced)
    tracer.summary = {"traced_run_s": traced, "untraced_run_s": untraced, "metrics": metrics}
    return metrics


def layer_metrics(tracer, extras: list[dict], names) -> dict:
    """Per pass, sum each layer's spans and counts; report medians over passes."""
    per_pass: dict[int, dict[str, float]] = {}
    for s in tracer.spans:
        acc = per_pass.setdefault(s["pass"], {})
        name, dur = s["name"], s["end"] - s["start"]

        def add(key, value):
            acc[key] = acc.get(key, 0.0) + value

        if name.startswith("query."):
            _, q, part = name.split(".")
            add(f"query.{q}.{part}_s", dur)
            if part == "construction":
                add("plans.construction_s", dur)
                add("plans.construction_jobs", s["jobs"])
            elif part == "planning":
                add("catalyst.planning_s", dur)
            else:
                add("spark.execution_s", dur)
                add("spark.tasks", s["tasks"])
        elif name == "cli.convert":
            add("cli.convert_s", dur)
            for k in ("jobs", "stages", "tasks"):
                add(f"cli.convert_{k}", s[k])
        elif name == "streaming.drain":
            add("streaming.drain_s", dur)
            batches = s["batches"]
            add("streaming.batches", len(batches))
            for key, field in (
                ("latest_offset_ms", "latestOffset"),
                ("add_batch_ms", "addBatch"),
                ("wal_commit_ms", "walCommit"),
                ("query_planning_ms", "queryPlanning"),
            ):
                add(f"streaming.{key}", sum(b["duration_ms"].get(field, 0) for b in batches))
            trigger_s = sum(b["duration_ms"].get("triggerExecution", 0) for b in batches) / 1000
            add("streaming.start_overhead_s", dur - trigger_s)
        else:
            add(f"{name}_s", dur)
    for acc in per_pass.values():
        if "cli.convert_s" in acc:
            layers = ("sources.discover_s", "sources.parse_s", "sinks.cf_parquet_s")
            acc["cli.convert_unattributed_s"] = acc["cli.convert_s"] - sum(acc.get(k, 0.0) for k in layers)
    metrics = {}
    for name in names:
        values = [acc[name] for acc in per_pass.values() if name in acc]
        values += [e[name] for e in extras if name in e]
        metrics[name] = median(values)
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-nightly-base", metavar="DIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the repository root", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, NightlyIncrement

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    scratch = os.path.join(root, ".perfbench")
    work = os.path.join(scratch, f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_environment(root, scratch)
    sys.path.insert(0, root)
    if args.build_nightly_base:
        prog, _ = import_program()
        try:
            NightlyIncrement.build_base(args.build_nightly_base, prog)
        finally:
            shut_down(None)
        return 0
    wl = WORKLOADS[args.workload](work, args.seed)
    spark = None
    try:
        wl.make_inputs()
        setups = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            gc.collect()
            prog, spark, sample = set_up(wl)
            setups.append(sample)
        wl.prepare_state(prog, spark)
        runner = Runner(wl, prog, spark, args.seconds)
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            values = measure_traced(runner, setups, tracer)
            units = per_layer_units()
            os.makedirs(os.path.join(scratch, "traces"), exist_ok=True)
            tracer.dump(os.path.join(scratch, "traces", f"{args.workload}-{args.seed}.json"))
        else:
            values = measure(runner, setups)
            units = END_TO_END_UNITS
    finally:
        shut_down(spark)
        wl.close()
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
