"""Spans at the engine's public call boundaries, with Spark's own stage
counters attributed to each span.

A span records name, parent, start and end in memory. While a span is
open its id is the SparkContext job group, so every job the engine runs
inside it is tagged; `collect` then reads the finished stages of those
jobs from Spark's status store. Nothing under `ccspark/` changes.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: str
    name: str
    parent: "Span | None"
    start: float
    epoch: float                # wall-clock start, to match stage times
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0          # executor run time, summed over tasks
    cpu_s: float = 0.0          # executor CPU time, summed over tasks
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_run_ms: list[int] = field(default_factory=list)
    extra: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        """Duration minus the part of it the child spans cover."""
        return self.duration - sum(c.duration for c in self.children)

    def subtree(self):
        yield self
        for c in self.children:
            yield from c.subtree()

    def total(self, attr: str):
        return sum(getattr(s, attr) for s in self.subtree())


class Tracer:
    """In-memory span recorder bound to one SparkSession."""

    def __init__(self, spark, prefix: str = "pb"):
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._by_id: dict[str, Span] = {}
        self._done_jobs: set[int] = set()
        self._done_stages: set[tuple[int, int]] = set()

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setJobGroup(f"{self.prefix}-idle", "untraced", False)
        else:
            self.sc.setJobGroup(span.sid, span.name, False)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{self.prefix}-{len(self.spans)}", name, parent,
                 time.perf_counter(), time.time())
        self.spans.append(s)
        self._by_id[s.sid] = s
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def collect(self) -> None:
        """Attribute every finished stage of the traced jobs to its span.

        A stage belongs to the first job that lists it (later jobs that
        reuse its shuffle output list it as skipped), and only if it was
        submitted after that job's span opened. Call after each
        traced operation, before the status store evicts old jobs."""
        store = self.sc._jsc.sc().statusStore()
        jvm, gw = self.sc._jvm, self.sc._gateway
        jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            group = j.jobGroup()
            if not group.isDefined() or j.jobId() in self._done_jobs:
                continue
            span = self._by_id.get(group.get())
            if span is None or str(j.status()) == "RUNNING":
                continue
            ids = j.stageIds()
            jobs.append((j.jobId(), span,
                         [ids.apply(i) for i in range(ids.size())]))
        owner: dict[int, Span] = {}
        for job_id, span, stage_ids in sorted(jobs, key=lambda x: x[0]):
            self._done_jobs.add(job_id)
            span.jobs += 1
            for sid in stage_ids:
                owner.setdefault(sid, span)
        if not owner:
            return
        empty = gw.new_array(jvm.double, 0)
        it = store.stageList(None, False, False, empty, None).iterator()
        while it.hasNext():
            st = it.next()
            key = (st.stageId(), st.attemptId())
            span = owner.get(st.stageId())
            if (span is None or key in self._done_stages
                    or str(st.status()) != "COMPLETE"):
                continue
            sub = st.submissionTime()
            if sub.isDefined() and sub.get().getTime() / 1e3 < span.epoch - 0.01:
                continue
            self._done_stages.add(key)
            span.tasks += st.numCompleteTasks()
            span.run_s += st.executorRunTime() / 1e3
            span.cpu_s += st.executorCpuTime() / 1e9
            span.shuffle_write_bytes += st.shuffleWriteBytes()
            span.spill_bytes += st.diskBytesSpilled()
            tl = store.taskList(st.stageId(), st.attemptId(), 100_000)
            for i in range(tl.size()):
                m = tl.apply(i).taskMetrics()
                if m.isDefined():
                    span.task_run_ms.append(m.get().executorRunTime())

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def task_skew(spans: list[Span]) -> float:
    """Max over median task run time, pooled over the spans' stages."""
    runs = [t for s in spans for t in s.task_run_ms]
    if not runs:
        return 0.0
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 0.0


def maybe_span(tracer: Tracer | None, name: str):
    """tracer.span(name), or nothing when the run is untraced."""
    return tracer.span(name) if tracer is not None else nullcontext()
