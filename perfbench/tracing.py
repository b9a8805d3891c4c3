"""Spans around calls into the engine's layers, with Spark's own
accounting of the work each call caused.

Each traced call runs under its own Spark job group. When it returns,
the tracer waits for the listener bus to drain, then sums over every
stage of the group's jobs the status store's executor run time, CPU
time, GC time, shuffle write and spill. Process-tree CPU comes from
/proc. Spans are kept in memory and returned at the end of the run.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from hostprobe import tree_cpu_s

#: the per-call metrics every traced call reports, in output order
CALL_METRICS = (
    "s", "jobs", "tasks", "exec_cpu_s", "gc_s", "shuffle_write_mb",
    "tree_cpu_s",
)
#: driver-only calls (no Spark job) report only these
DRIVER_METRICS = ("s", "tree_cpu_s")


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._t0 = time.perf_counter()
        self._stack: list[int] = []
        self.spans: list[dict] = []
        self.spill_mb = 0.0

    def _stage_totals(self, group: str) -> dict:
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        tracker, store = self._sc.statusTracker(), self._jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        out = {"jobs": len(jobs), "tasks": 0, "exec_run_s": 0.0,
               "exec_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
               "spill_mb": 0.0}
        for job in jobs:
            for stage in tracker.getJobInfo(job).stageIds:
                data = store.lastStageAttempt(stage)
                if data.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["tasks"] += data.numCompleteTasks()
                out["exec_run_s"] += data.executorRunTime() / 1e3
                out["exec_cpu_s"] += data.executorCpuTime() / 1e9
                out["gc_s"] += data.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += data.shuffleWriteBytes() / 1e6
                out["spill_mb"] += (
                    data.memoryBytesSpilled() + data.diskBytesSpilled()
                ) / 1e6
        return out

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        """Record one span. With ``jobs`` the body runs under its own
        job group and the span carries the group's stage totals; a
        span without jobs only groups its children."""
        sid = len(self.spans)
        span = {"id": sid, "name": name,
                "parent": self._stack[-1] if self._stack else None}
        self.spans.append(span)
        group = f"perfbench-{sid}"
        if jobs:
            self._sc.setJobGroup(group, name)
        self._stack.append(sid)
        cpu0 = tree_cpu_s()
        start = time.perf_counter()
        try:
            yield span
        finally:
            end = time.perf_counter()
            span["tree_cpu_s"] = tree_cpu_s() - cpu0
            self._stack.pop()
            span["start"] = start - self._t0
            span["end"] = end - self._t0
            span["s"] = end - start
            if jobs:
                self._sc.setJobGroup("perfbench-idle", "between spans")
                span.update(self._stage_totals(group))
                self.spill_mb += span["spill_mb"]


def noop_sink(df) -> None:
    """Materialize a DataFrame without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


def layer_metrics(spans: list[dict], names: dict[str, tuple]) -> dict:
    """Flatten spans into ``<metric name>.<suffix>`` values. ``names``
    maps a metric prefix to (span path, suffixes); the span path is the
    span's name joined with its ancestors' by '/'."""
    by_path = {}
    for span in spans:
        path, parent = [span["name"]], span["parent"]
        while parent is not None:
            path.append(spans[parent]["name"])
            parent = spans[parent]["parent"]
        by_path["/".join(reversed(path))] = span
    out = {}
    for prefix, (path, suffixes) in names.items():
        span = by_path.get(path, {})
        for suffix in suffixes:
            out[f"{prefix}.{suffix}"] = float(span.get(suffix, 0.0))
    return out
