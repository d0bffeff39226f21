"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded here, around the benchmark's calls into each layer of
the engine, never inside the engine: name, start, end, parent and the id
of the pass they belong to. They stay in memory and are written to JSON
once, when the run ends.

Counts come from Spark's public instruments:

- ``SparkContext.setJobGroup`` tags every job a call starts, and
  ``statusTracker()`` then gives its jobs, stages and tasks;
- a ``StreamingQueryListener`` collects each micro-batch's
  ``durationMs`` breakdown.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self.pass_id = 0
        self.summary: dict = {}

    @contextmanager
    def span(self, name: str):
        """Record one span; what the body adds to the yielded dict is
        stored with it."""
        span_id = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": span_id, "name": name, "parent": parent, "pass": self.pass_id}
        self._stack.append(span_id)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Record a span timed elsewhere (e.g. on another thread)."""
        self.spans.append(
            {"id": next(self._ids), "name": name, "parent": parent, "pass": self.pass_id,
             "start": start, "end": end}
        )

    @contextmanager
    def jobs(self, name: str):
        """A span whose Spark jobs are counted: adds jobs, stages, tasks."""
        sc = self.spark.sparkContext
        group = f"perfbench-{next(self._ids)}"
        sc.setJobGroup(group, name)
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        rec.update(job_counts(sc, group))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({**self.summary, "spans": self.spans}, f, indent=1)


def job_counts(sc, group: str, wait_s: float = 5.0) -> dict:
    """Jobs, stages that ran tasks and completed tasks of one job group.

    The status store is fed by Spark's asynchronous listener bus, so wait
    until every job of the group reads as finished."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + wait_s
    while True:
        infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
            break
        if time.monotonic() > deadline:
            break
        time.sleep(0.02)
    stages = tasks = 0
    for info in infos:
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
    return {"jobs": len(infos), "stages": stages, "tasks": tasks}


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch's progress of the queries it hears about."""

    def __init__(self):
        self.batches: list[dict] = []
        self.terminated = threading.Event()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append(
            {"batch_id": p.batchId, "rows": p.numInputRows, "duration_ms": dict(p.durationMs)}
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.set()

    def drain(self, wait_s: float = 10.0) -> list[dict]:
        """Wait for the query's end to be heard, then hand over its batches."""
        self.terminated.wait(wait_s)
        out, self.batches = self.batches, []
        return out
