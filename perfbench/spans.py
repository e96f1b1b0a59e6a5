"""Spans around the benchmark's calls into the program, and Spark job/stage
attribution to those spans.

A span is (id, name, parent, start, end) on the wall clock, kept in memory
and written out with the run's record. Jobs and stages are read from the
application status store after the fact and attributed to the innermost span
whose window holds their submission time. Submission time is used instead of
``setJobGroup`` because jobs submitted from the program's own worker threads
(``write_sinks``' pool) do not inherit a job group.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def seconds(self) -> float:
        return (self.end if self.end is not None else time.time()) - self.start


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, time.time())
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def last(self, name: str) -> Span:
        return next(s for s in reversed(self.spans) if s.name == name)

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_seconds(self, sp: Span) -> float:
        """Duration minus the part of the interval its children cover."""
        covered, cursor = 0.0, sp.start
        for c in sorted(self.children(sp), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return sp.seconds - covered

    def problems(self) -> list[str]:
        """Ways the span tree is malformed (empty when well-formed)."""
        out = []
        for s in self.spans:
            if s.end is None:
                out.append(f"span {s.name}#{s.id} never ended")
                continue
            if s.end < s.start:
                out.append(f"span {s.name}#{s.id} ends before it starts")
            if s.parent is not None:
                p = self.spans[s.parent]
                if p.end is None or s.start < p.start or s.end > p.end:
                    out.append(f"span {s.name}#{s.id} is outside its parent {p.name}#{p.id}")
            if self.self_seconds(s) < -1e-9:
                out.append(f"span {s.name}#{s.id} has negative self time")
        return out

    def innermost(self, t: float) -> Span | None:
        """The deepest closed span whose window holds ``t``."""
        best = None
        for s in self.spans:
            if s.end is not None and s.start <= t <= s.end:
                if best is None or s.start >= best.start:
                    best = s
        return best

    def records(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "start": s.start,
             "end": s.end, "self_s": self.self_seconds(s)}
            for s in self.spans
        ]


@dataclass
class StageStats:
    stage_id: int
    submitted: float
    tasks: int
    cpu_s: float
    run_s: float
    gc_s: float
    input_rows: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class JobStats:
    job_id: int
    submitted: float


def _seq(spark, scala_seq) -> list:
    return list(spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def read_status_store(spark) -> tuple[list[JobStats], list[StageStats]]:
    """Every retained job and (non-skipped) stage with its submission time."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    for j in _seq(spark, store.jobsList(None)):
        sub = j.submissionTime()
        if sub.isDefined():
            jobs.append(JobStats(int(j.jobId()), sub.get().getTime() / 1000.0))
    no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
    stages = []
    for s in _seq(spark, store.stageList(None, False, False, no_quantiles, None)):
        sub = s.submissionTime()
        if not sub.isDefined() or s.status().toString() == "SKIPPED":
            continue
        stages.append(
            StageStats(
                stage_id=int(s.stageId()),
                submitted=sub.get().getTime() / 1000.0,
                tasks=int(s.numCompleteTasks()),
                cpu_s=s.executorCpuTime() / 1e9,
                run_s=s.executorRunTime() / 1e3,
                gc_s=s.jvmGcTime() / 1e3,
                input_rows=int(s.inputRecords()),
                shuffle_write_bytes=int(s.shuffleWriteBytes()),
                spill_bytes=int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
            )
        )
    return jobs, stages


@dataclass
class Attribution:
    """Jobs and stages per span, after :func:`attribute`."""

    jobs: dict[int, list[JobStats]] = field(default_factory=dict)
    stages: dict[int, list[StageStats]] = field(default_factory=dict)

    def under(self, tracer: Tracer, sp: Span) -> tuple[list[JobStats], list[StageStats]]:
        """Jobs and stages of ``sp`` and all its descendants."""
        ids, frontier = {sp.id}, [sp.id]
        while frontier:
            kids = [s.id for s in tracer.spans if s.parent in frontier]
            ids.update(kids)
            frontier = kids
        jobs = [j for i in ids for j in self.jobs.get(i, [])]
        stages = [s for i in ids for s in self.stages.get(i, [])]
        return jobs, stages


def attribute(tracer: Tracer, jobs: list[JobStats], stages: list[StageStats]) -> Attribution:
    out = Attribution()
    for j in jobs:
        sp = tracer.innermost(j.submitted)
        if sp is not None:
            out.jobs.setdefault(sp.id, []).append(j)
    for s in stages:
        sp = tracer.innermost(s.submitted)
        if sp is not None:
            out.stages.setdefault(sp.id, []).append(s)
    return out
