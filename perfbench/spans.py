"""Spans around layer calls, plus Spark's own counters for each span.

A :class:`Tracer` keeps spans (name, start, end, parent) in memory and
tags every Spark job started inside a span with a job group of its
own. After the traced operation it reads, for each span:

* stage counters from the core status store
  (``statusStore().stageList(...)``: tasks, executor run and CPU time,
  GC, shuffle bytes, spill, failed tasks), attributed to the span
  through the job group of the stage's job;
* plan-node metrics from the SQL status store
  (``sharedState().statusStore().planGraph/executionMetrics``), summed
  per (node name, metric name) over the SQL executions of the span.

Both stores are filled by Spark's listener bus whether or not the web
UI is enabled.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager



def _stage_counts(sd) -> dict[str, float]:
    """Counters of one StageData (v1 REST model), in ms and bytes."""
    tasks = sd.numCompleteTasks() + sd.numFailedTasks()
    return {
        "spark.stages": 1.0,
        "spark.tasks": float(tasks),
        "spark.failed_tasks": float(sd.numFailedTasks()),
        "spark.executor_run_ms": float(sd.executorRunTime()),
        "spark.executor_cpu_ms": sd.executorCpuTime() / 1e6,
        "spark.jvm_gc_ms": float(sd.jvmGcTime()),
        "spark.shuffle_write_bytes": float(sd.shuffleWriteBytes()),
        "spark.shuffle_read_bytes": float(sd.shuffleReadBytes()),
        "spark.spill_bytes": float(sd.memoryBytesSpilled() + sd.diskBytesSpilled()),
        "spark.input_records": float(sd.inputRecords()),
        "spark.input_bytes": float(sd.inputBytes()),
    }


_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4,
    "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """SQL-tab metric string -> number (bytes for sizes, ms for times).

    Spark formats a summed metric either as a plain count (``1,234``) or
    as ``total (min, med, max ...)\\n<total> (<min>, ...)``; the total is
    the leading figure of the last line.
    """
    line = text.strip().split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class Span:
    __slots__ = ("name", "parent", "start", "end", "group", "counts")

    def __init__(self, name: str, parent: Span | None, group: str):
        self.name, self.parent, self.group = name, parent, group
        self.start = self.end = 0.0
        self.counts: dict[str, float] = {}

    @property
    def wall_ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """In-memory span recorder for one traced operation."""

    def __init__(self, spark, prefix: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, parent, f"{self.prefix}:{len(self.spans)}:{name}")
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_ms(self, sp: Span) -> float:
        """Span wall minus the part its direct children cover."""
        return sp.wall_ms - sum(c.wall_ms for c in self.spans if c.parent is sp)

    # ---------------------------------------------------------- counters

    def collect(self, slots: int) -> None:
        """Attach status-store counters to every span (call once, after
        the traced work): stage counters by job group, plan-node
        metrics by the SQL executions whose jobs belong to the span."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jvm = self.sc._jvm
        tracker = self.sc.statusTracker()

        job_span: dict[int, Span] = {}
        stage_span: dict[int, Span] = {}
        for sp in self.spans:
            for job in tracker.getJobIdsForGroup(sp.group):
                job_span[job] = sp
                info = tracker.getJobInfo(job)
                for st in (info.stageIds if info else []):
                    stage_span[st] = sp

        gateway = self.sc._gateway
        empty = jvm.java.util.ArrayList()
        stages = jsc.statusStore().stageList(
            empty, False, False, gateway.new_array(jvm.double, 0), empty)
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        for sd in conv.asJava(stages):
            sp = stage_span.get(sd.stageId())
            if sp is None or sd.numCompleteTasks() + sd.numFailedTasks() == 0:
                continue  # not ours, or skipped (its shuffle output was reused)
            for key, v in _stage_counts(sd).items():
                sp.counts[key] = sp.counts.get(key, 0.0) + v
        for sp in self.spans:
            sp.counts["spark.jobs"] = float(len(tracker.getJobIdsForGroup(sp.group)))

        sql = self.spark._jsparkSession.sharedState().statusStore()
        for ex in conv.asJava(sql.executionsList()):
            ours = [job_span[j] for j in conv.asJava(ex.jobs().keys()) if j in job_span]
            if not ours:
                continue
            sp = ours[0]
            eid = ex.executionId()
            values = {e.getKey(): e.getValue()
                      for e in conv.asJava(sql.executionMetrics(eid)).entrySet()}
            for node in conv.asJava(sql.planGraph(eid).allNodes()):
                for metric in conv.asJava(node.metrics()):
                    text = values.get(metric.accumulatorId())
                    if text is None:
                        continue
                    key = f"node.{node.name()}.{metric.name()}"
                    sp.counts[key] = sp.counts.get(key, 0.0) + parse_metric(text)

        for sp in self.spans:
            # time the span's task slots waited for work while it ran
            # its own jobs (children account for theirs)
            c = sp.counts
            if "spark.executor_run_ms" in c:
                c["spark.idle_slot_ms"] = max(0.0, self.self_ms(sp) * slots - c["spark.executor_run_ms"])

    def records(self) -> list[dict]:
        return [
            {"name": sp.name, "parent": sp.parent.name if sp.parent else None, "start_s": sp.start, "end_s": sp.end,
             "wall_ms": sp.wall_ms, "self_ms": self.self_ms(sp), "counts": sp.counts}
            for sp in self.spans
        ]
