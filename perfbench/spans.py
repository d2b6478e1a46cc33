"""Spans around the benchmark's calls into the program's layers, and Spark's
own stage metrics for each span.

A span sets a Spark job group while it is open, so every job the layer
starts is tagged with it. Nothing is read from Spark while spans run: the
spans stay in memory, and :func:`collect` reads the status store (stage
metrics, task-time quantiles, executed plan graphs) once, after the last
timed run. The status store is kept even with the Spark UI disabled.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Optional

_ARRAY_FILTER = re.compile(r"(?<![A-Za-z_])filter\(")
_FROM_XML = re.compile(r"(?<![A-Za-z_])from_xml\(")
_SIZE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    group: Optional[str]  # Spark job group, None for an untagged span
    start: float
    end: float = 0.0
    stages: dict = field(default_factory=dict)
    plan: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``enabled=False`` spans only take wall time and
    set no job group, which is how the untraced runs are timed."""

    def __init__(self, enabled: bool):
        self.spark = None  # set once the session exists; no job group before
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Optional[Span]) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is not None and span.group is not None:
            sc.setJobGroup(span.group, span.name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(
            id=sid,
            name=name,
            parent=parent.id if parent else None,
            group=f"perfbench-{sid}" if self.enabled else None,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled:
            self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self._set_group(parent)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part covered by child spans (children run one
        after another, so they do not overlap)."""
        return span.duration - sum(c.duration for c in self.children(span))

    def subtree(self, span: Span) -> list[Span]:
        out = [span]
        for c in self.children(span):
            out.extend(self.subtree(c))
        return out

    def collect(self) -> None:
        """Attach stage metrics and plan-node counts to every tagged span."""
        spark = self.spark
        jvm = spark._jvm
        as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        store = spark.sparkContext._jsc.sc().statusStore()
        sql_store = spark._jsparkSession.sharedState().statusStore()

        groups = {s.group: s for s in self.spans if s.group}
        job_group: dict[int, str] = {}
        stages_of: dict[str, list[int]] = {g: [] for g in groups}
        for job in as_java(store.jobsList(None)):
            g = job.jobGroup()
            if g.isDefined() and g.get() in groups:
                job_group[job.jobId()] = g.get()
                stages_of[g.get()].extend(int(x) for x in as_java(job.stageIds()))

        quantiles = spark.sparkContext._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        stage_rows: dict[int, list] = {}
        for st in as_java(store.stageList(None, False, False, quantiles, None)):
            stage_rows.setdefault(st.stageId(), []).append(st)

        for g, span in groups.items():
            span.stages = _stage_metrics(
                store, as_java, quantiles, [a for sid in stages_of[g] for a in stage_rows.get(sid, [])]
            )
            span.plan = {"plans": 0, "scans": 0, "exchanges": 0, "array_filters": 0, "from_xml": 0}

        for ex in as_java(sql_store.executionsList()):
            jobs = [int(j) for j in as_java(ex.jobs().keySet())]
            owner = {job_group.get(j) for j in jobs} - {None}
            if len(owner) != 1:
                continue
            span = groups[owner.pop()]
            counts = span.plan
            counts["plans"] += 1
            values = dict(as_java(sql_store.executionMetrics(ex.executionId())))
            for node in as_java(sql_store.planGraph(ex.executionId()).allNodes()):
                name, desc = node.name(), node.desc()
                counts["scans"] += name.startswith("Scan ")
                counts["exchanges"] += name in ("Exchange", "BroadcastExchange")
                counts["array_filters"] += len(_ARRAY_FILTER.findall(desc))
                counts["from_xml"] += len(_FROM_XML.findall(desc))
                for metric in as_java(node.metrics()):
                    if metric.name() == "size of files read":
                        span.stages["input_bytes"] += _bytes(values.get(metric.accumulatorId(), ""))

    def plan_counts(self, span: Span) -> dict:
        total: dict[str, int] = {}
        for s in self.subtree(span):
            for k, v in s.plan.items():
                total[k] = total.get(k, 0) + v
        return total

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start_s": s.start,
                "duration_s": s.duration,
                "self_s": self.self_time(s),
                "stages": s.stages,
                "plan": s.plan,
            }
            for s in self.spans
        ]


def _stage_metrics(store, as_java, quantiles, attempts) -> dict:
    """Executor time, shuffle bytes and spill summed over a span's stage attempts;
    task skew is max / median task run time of the span's busiest stage."""
    out = {
        "executor_run_s": sum(a.executorRunTime() for a in attempts) / 1e3,
        "executor_cpu_s": sum(a.executorCpuTime() for a in attempts) / 1e9,
        # from the scans' "size of files read": the stages' inputBytes miss
        # parquet's vectored reads, which run on threads other than the task's
        "input_bytes": 0,
        "shuffle_write_bytes": sum(a.shuffleWriteBytes() for a in attempts),
        "spill_bytes": sum(a.memoryBytesSpilled() + a.diskBytesSpilled() for a in attempts),
        "stages": len(attempts),
        "task_skew": 1.0,
    }
    busiest = max(attempts, key=lambda a: a.executorRunTime(), default=None)
    if busiest is not None and busiest.numCompleteTasks() > 1:
        dist = store.taskSummary(busiest.stageId(), busiest.attemptId(), quantiles)
        if dist.isDefined():
            run = list(as_java(dist.get().executorRunTime()))
            if run[0] > 0:
                out["task_skew"] = run[1] / run[0]
    return out


def _bytes(text: str) -> int:
    """Parse a size as the SQL status store renders it, e.g. '50.8 MiB'."""
    m = _SIZE.search(text)
    return round(float(m.group(1)) * _UNITS[m.group(2)]) if m else 0


def median_of(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
