"""Spans around the benchmark's calls into the program.

With tracing on, every span gives its call a Spark job group of its
own, and on exit counts the jobs and stages that ran under it with the
``StatusTracker``. Spans stay in memory and are written out once, at
the end of the run. With tracing off, ``span`` only times the call:
no job group, no listener wait, no record.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    trace: int            # request id shared by the spans of one step
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0

    @property
    def secs(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._trace = 0

    def new_trace(self) -> int:
        self._trace += 1
        return self._trace

    def _drain(self) -> None:
        # job-start events reach the status store through the async
        # listener bus; wait for it so every job of the call is counted
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent.trace if parent else self._trace,
                 next(self._ids), parent.span_id if parent else None,
                 time.perf_counter())
        if not self.enabled:
            try:
                yield s
            finally:
                s.end = time.perf_counter()
            return
        group = f"perfbench-{s.span_id}"
        self.sc.setJobGroup(group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._drain()
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(group)
            s.jobs += len(jobs)
            s.stages += sum(len(info.stageIds) for info in
                            (st.getJobInfo(j) for j in jobs) if info)
            if parent is not None:
                # a child's jobs also count toward its parent
                parent.jobs += s.jobs
                parent.stages += s.stages
                self.sc.setJobGroup(f"perfbench-{parent.span_id}",
                                    parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def coverage(self, root: str) -> list[float]:
        """Per span named ``root``: the share of its wall time its
        direct child spans cover."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent] = kids.get(s.parent, 0.0) + s.secs
        return [kids.get(s.span_id, 0.0) / s.secs for s in self.spans
                if s.name == root and s.secs > 0]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
