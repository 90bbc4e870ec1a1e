"""Spans and engine counters, read from outside the package.

``Tracer`` records one span (name, start, end, parent op, run id) around
each public call the benchmark makes and, when tracing is on, runs each op
under its own Spark job group so the op's jobs, stages and tasks can be
read back from Spark's status store afterwards. ``JvmCounters`` reads the
JIT, GC and whole-stage-codegen counters of the driver JVM; it is cheap
enough to read once per lap in untraced runs too.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LISTENER_DRAIN_MS = 30_000
SPARK_COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
)


class JvmCounters:
    """Cumulative JIT, GC and codegen counters of the driver JVM."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._mx = jvm.java.lang.management.ManagementFactory
        try:
            metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
            self._codegen = metrics.METRIC_COMPILATION_TIME()
        except Exception:  # noqa: BLE001 - the counter is optional
            self._codegen = None
        self.pid = int(jvm.ProcessHandle.current().pid())

    def read(self) -> dict[str, float]:
        gc_ms = sum(
            max(0, b.getCollectionTime())
            for b in self._mx.getGarbageCollectorMXBeans()
        )
        out = {
            "jvm.jit_s": self._mx.getCompilationMXBean()
            .getTotalCompilationTime() / 1000.0,
            "jvm.gc_s": gc_ms / 1000.0,
        }
        if self._codegen is not None:
            out["codegen.compiles"] = float(self._codegen.getCount())
            # the histogram keeps a sample of compile times, not a sum:
            # the per-lap total is estimated as compiles x sample mean (ms)
            out["codegen.mean_ms"] = float(self._codegen.getSnapshot().getMean())
        return out

    @staticmethod
    def delta(after: dict, before: dict) -> dict[str, float]:
        out = {
            k: after[k] - before[k]
            for k in ("jvm.jit_s", "jvm.gc_s", "codegen.compiles")
            if k in after and k in before
        }
        if "codegen.compiles" in out:
            out["codegen.compile_s"] = (
                out["codegen.compiles"] * after["codegen.mean_ms"] / 1000.0
            )
        return out


def spark_group_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and stage metrics of one job group, from the
    status tracker and the application status store."""
    sc = spark.sparkContext
    # the status store is fed asynchronously by the listener bus: drain it,
    # or the op's last jobs may not be recorded yet
    sc._jsc.sc().listenerBus().waitUntilEmpty(LISTENER_DRAIN_MS)
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    out = dict.fromkeys(SPARK_COUNTERS, 0.0)
    stage_ids: set[int] = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        out["spark.jobs"] += 1
        stage_ids.update(int(s) for s in _seq(job.stageIds()))
    for sid in stage_ids:
        for st in _seq(store.stageData(sid, False, None, False, no_quantiles)):
            if st.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["spark.failed_tasks"] += st.numFailedTasks()
            out["spark.executor_run_s"] += st.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spark.spill_bytes"] += (
                st.memoryBytesSpilled() + st.diskBytesSpilled()
            )
    return out


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str
    lap: int
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around the benchmark's calls into the package.

    With ``enabled`` false, ``span`` still times the call (the lap needs
    no more than that) but sets no job group and reads no counters.
    """

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.lap = -1
        self._parent: list[str] = []
        self._n = 0

    @contextmanager
    def span(self, name: str):
        parent = self._parent[-1] if self._parent else None
        group = None
        if self.enabled and parent is None:
            self._n += 1
            group = f"{self.run_id}/{self._n}/{name}"
            self.spark.sparkContext.setJobGroup(group, name, False)
        self._parent.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._parent.pop()
            s = Span(name, start, end, parent, self.run_id, self.lap)
            if group is not None:
                self.spark.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", None)
                s.counters = spark_group_counters(self.spark, group)
            self.spans.append(s)

    def counters(self, lap: int) -> dict[str, float]:
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        for s in self.spans:
            if s.lap == lap:
                for k, v in s.counters.items():
                    out[k] += v
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id, "lap": s.lap,
                    **({"counters": s.counters} if s.counters else {}),
                }) + "\n")
