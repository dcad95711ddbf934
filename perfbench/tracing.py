"""In-memory spans and Spark counters, recorded from outside the package.

A span covers one call into a layer: its name, start, end, the span that
caused it, and the id of the timed operation it belongs to. Spans are kept
in a list and written out when the benchmark ends. ``install`` wraps the
driver-side public functions each layer exposes, so the spans sit at the
layer boundaries without any change inside the package.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    request: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; otherwise ``span`` is a no-op."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._request: int | None = None

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            parent=parent.id if parent else None,
            request=self._request,
            layer=layer,
            name=name,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def request(self, layer: str, name: str):
        """A root span; every span opened inside it shares its id."""
        with self.span(layer, name) as s:
            if s is not None:
                s.request = self._request = s.id
            try:
                yield s
            finally:
                self._request = None

    def wrap(self, layer: str, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self, request: int) -> dict[str, float]:
        """Seconds of self time per layer inside one request. Spans nest
        strictly on the one client thread, so a span's children cover
        disjoint parts of it and self time is duration minus their sum."""
        spans = [s for s in self.spans if s.request == request]
        child = {s.id: 0.0 for s in spans}
        for s in spans:
            if s.parent in child:
                child[s.parent] += s.duration
        out: dict[str, float] = {}
        for s in spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.duration - child[s.id]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "parent": s.parent,
                            "request": s.request,
                            "layer": s.layer,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                        }
                    )
                    + "\n"
                )


def install(tracer: Tracer) -> contextlib.ExitStack:
    """Wrap the driver-side entry points of every layer in spans; closing
    the returned stack restores the originals.

    Only functions the driver calls are wrapped. Functions that run inside
    Spark tasks (``train_tree``, ``anomaly_scores``) are pickled into the
    task closures and must stay untouched there, so the benchmark times
    them by direct calls instead.
    """
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from spark_iforest_spark import iforest

    targets = [
        (iforest.IForest, "_fit", "iforest", "IForest.fit"),
        (iforest.IForestModel, "_transform", "iforest", "IForestModel.transform"),
        (iforest.IForestModelWriter, "saveImpl", "iforest", "IForestModelWriter.save"),
        (iforest.IForestModelReader, "load", "iforest", "IForestModelReader.load"),
        (iforest, "pack_forest", "nodes", "pack_forest"),
        (iforest, "pandas_to_forest", "nodes", "pandas_to_forest"),
        (iforest, "rows_to_forest", "nodes", "rows_to_forest"),
        (iforest, "make_score_udf", "scorer", "make_score_udf"),
        (DataFrame, "collect", "spark", "collect"),
        (DataFrame, "toPandas", "spark", "toPandas"),
        (DataFrame, "count", "spark", "count"),
        (DataFrame, "approxQuantile", "spark", "approxQuantile"),
        (DataFrameWriter, "parquet", "spark", "write.parquet"),
        (DataFrameReader, "parquet", "spark", "read.parquet"),
        (SparkSession, "createDataFrame", "spark", "createDataFrame"),
    ]
    stack = contextlib.ExitStack()
    for owner, attr, layer, name in targets:
        orig = owner.__dict__[attr]
        setattr(owner, attr, tracer.wrap(layer, name, orig))
        stack.callback(setattr, owner, attr, orig)
    return stack


class SparkCounters:
    """Diffs of the driver executor's task totals in the JVM status store,
    plus the job ids of a job group, around one timed call."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.cores = self._sc.defaultParallelism
        self._group = 0

    def _totals(self) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        e = self._store.executorSummary("driver")
        return {
            "tasks": e.totalTasks(),
            "failed_tasks": e.failedTasks(),
            "task_time_ms": e.totalDuration(),
            "gc_ms": e.totalGCTime(),
            "shuffle_write_bytes": e.totalShuffleWrite(),
        }

    @contextlib.contextmanager
    def measure(self):
        """Yields a dict that holds the counter diffs once the block ends."""
        self._group += 1
        group = f"perfbench-{self._group}"
        before = self._totals()
        self._sc.setJobGroup(group, group)
        out: dict[str, float] = {}
        t0 = time.perf_counter()
        try:
            yield out
        finally:
            wall = time.perf_counter() - t0
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            after = self._totals()
            out.update({k: after[k] - before[k] for k in after})
            out["jobs"] = len(self._sc.statusTracker().getJobIdsForGroup(group))
            out["busy_share"] = out["task_time_ms"] / (wall * 1e3 * self.cores)
