"""Span recorder for the traced benchmark run.

Spans are opened by the benchmark around its calls into each engine
layer. Each span records name, start, end, parent and request id, and
tags the Spark jobs launched inside it with a job group equal to its
span id. Job, stage and task counts are read from the status tracker as
the span closes: the status store keeps only the most recent jobs
(spark.ui.retainedJobs, 1000 by default), so a read at the end of a run
would lose most of them. Spans stay in memory until `write`.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 1

    @contextmanager
    def span(self, name: str, request: int | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=self._next_id,
            name=name,
            parent=parent.id if parent else None,
            request=request if request is not None else (parent and parent.request),
            start=0.0,
        )
        self._next_id += 1
        self._stack.append(s)
        self.sc.setJobGroup(f"span-{s.id}", name)
        # the clock excludes the tracer's own calls into the JVM
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"span-{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._count_jobs(s)
            self.spans.append(s)

    def _count_jobs(self, s: Span) -> None:
        st = self.sc.statusTracker()
        for job_id in st.getJobIdsForGroup(f"span-{s.id}"):
            info = st.getJobInfo(job_id)
            if info is None:
                continue
            s.jobs += 1
            for stage_id in info.stageIds:
                stage = st.getStageInfo(stage_id)
                if stage is not None:
                    s.stages += 1
                    s.tasks += stage.numTasks

    def self_seconds(self, s: Span) -> float:
        """Duration minus the part covered by direct children (children
        of one span run one after another, so their durations add)."""
        return s.seconds - sum(c.seconds for c in self.spans if c.parent == s.id)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def median(self, name: str, field: str = "seconds", scale: float = 1.0) -> float:
        vals = [getattr(s, field) for s in self.named(name)]
        return statistics.median(vals) * scale if vals else 0.0

    def coverage(self, root: str) -> float:
        """Median share of a root span's wall covered by its children."""
        shares = [
            1.0 - self.self_seconds(s) / s.seconds
            for s in self.named(root)
            if s.seconds > 0
        ]
        return statistics.median(shares) if shares else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
