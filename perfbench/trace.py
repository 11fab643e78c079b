"""Spans around the benchmark's calls into package layers.

A span records its name, start, end, parent span and run id, plus the
Spark jobs, stages and tasks that ran inside it. Counts come from
``SparkContext.statusTracker()``: each span runs its calls under a job
group of its own, so a parent's counts are its own group's plus its
children's. Spans stay in memory; ``write`` dumps them when the run
ends. With tracing off, ``span`` does nothing at all, so untraced runs
pay nothing for it.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        sp = Span(name, 0.0, parent=self._stack[-1] if self._stack else None,
                  run_id=self.run_id, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(idx)
        self.sc.setJobGroup(self._group(idx), name)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._count(idx, sp)
            if self._stack:
                self.sc.setJobGroup(self._group(self._stack[-1]),
                                    self.spans[self._stack[-1]].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - sp.end

    @contextlib.contextmanager
    def paused(self):
        """Calls inside record no spans: warm-up work in set-up, which
        the per-layer metrics leave out as the end-to-end ones do."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def _group(self, idx: int) -> str:
        return f"{self.run_id}:{idx}"

    def _count(self, idx: int, sp: Span) -> None:
        # job events reach the status store through the listener bus;
        # drain it so the counts of the call that just returned are in
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(self._group(idx)):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            sp.jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks > 0:
                    sp.stages += 1
                    sp.tasks += stage.numCompletedTasks
        if sp.parent is not None:
            # a parent's counts include its children's
            up = self.spans[sp.parent]
            up.jobs += sp.jobs
            up.stages += sp.stages
            up.tasks += sp.tasks

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str, what: str = "seconds") -> float:
        return float(sum(getattr(s, what) for s in self.named(name)))

    def mean(self, name: str, what: str = "seconds") -> float:
        spans = self.named(name)
        return self.total(name, what) / len(spans) if spans else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
