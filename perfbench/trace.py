"""Span tracing for the benchmark's traced runs.

A span wraps one call into a layer's public function, made from the
benchmark's own code. Each span gets its own Spark job group, so at the
span's end ``statusTracker()`` (which works with the UI disabled) gives
the jobs, stages and tasks that ran inside it and not inside a child.
Spans stay in memory and are written out once, when the run ends.

Untraced runs use :class:`NullTracer`, whose every method is a no-op, so
end-to-end numbers are measured without any tracing cost.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    workload: str
    group: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False
    spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None

    def materialize(self, df):
        return df, None

    def release(self) -> None:
        pass


class Tracer:
    """Records spans with per-span Spark job-group counts."""

    enabled = True

    def __init__(self, spark, workload: str):
        self._sc = spark.sparkContext
        self._status = self._sc.statusTracker()
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._cached: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans) + 1
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=sid,
            name=name,
            parent=parent.id if parent else None,
            workload=self.workload,
            group=f"perfbench-{self.workload}-{sid}",
            start=time.perf_counter(),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self._count_jobs(s)

    def materialize(self, df):
        """Compute a lazy layer's output at its boundary and keep it, so
        its work is charged to the layer's span and its consumers read
        the kept rows instead of running the lineage again. Returns the
        kept frame and its row count; :meth:`release` drops it."""
        df = df.persist()
        self._cached.append(df)
        return df, df.count()

    def release(self) -> None:
        """Drop the frames :meth:`materialize` kept."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def _count_jobs(self, s: Span) -> None:
        for job_id in self._status.getJobIdsForGroup(s.group):
            info = self._status.getJobInfo(job_id)
            if info is None:
                continue
            s.jobs += 1
            for stage_id in list(info.stageIds):
                st = self._status.getStageInfo(stage_id)
                # a skipped stage (its shuffle output reused) ran no tasks
                if st is None or st.numCompletedTasks == 0:
                    continue
                s.stages += 1
                s.tasks += st.numCompletedTasks
                s.tasks_failed += st.numFailedTasks

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.id] = s.duration - covered
    return out


def layer_totals(spans: list[Span]) -> dict[str, dict]:
    """Span name -> summed self time, call count and job-group counts."""
    selft = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        t = out.setdefault(
            s.name,
            {"self_s": 0.0, "wall_s": 0.0, "calls": 0, "jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0},
        )
        t["self_s"] += selft[s.id]
        t["wall_s"] += s.duration
        t["calls"] += 1
        for k in ("jobs", "stages", "tasks", "tasks_failed"):
            t[k] += getattr(s, k)
    return out
