"""In-memory spans around the benchmark's calls into each layer.

A span records its name, start, end, parent span and run id, and the Spark
jobs and tasks that ran inside it. Jobs are attributed by job-id range: the
DAG scheduler hands out ids in submission order, so the ids issued between
a span's start and end belong to it. Job groups cannot be used because
``build_report`` submits from ``ThreadPoolExecutor`` threads, which do not
inherit a job group under pinned-thread mode. Task counts are read from the
status tracker once the listener bus has drained, at the end of each pass.

Spans stay in memory and are written out once, when the benchmark ends.
With tracing off, ``span`` records nothing and touches no JVM state.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    first_job: int
    next_job: int
    tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return self.next_job - self.first_job


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.run_id = ""
        self._stack: list[int] = []
        self._resolved = 0
        self._sc = spark.sparkContext._jsc.sc()
        self._status = spark.sparkContext.statusTracker()

    def _next_job(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.run_id, self._next_job(), 0)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.next_job = self._next_job()
            s.end = time.perf_counter()

    def record(self, name: str, start: float, end: float) -> None:
        """A span timed before the tracer existed (the session start); no jobs."""
        if self.enabled:
            self.spans.append(Span(name, start, end, None, self.run_id, 0, 0))

    def resolve_tasks(self) -> None:
        """Fill in task counts for spans closed since the last call."""
        if not self.enabled or self._resolved == len(self.spans):
            return
        self._sc.listenerBus().waitUntilEmpty(30_000)
        for s in self.spans[self._resolved:]:
            n = 0
            for job in range(s.first_job, s.next_job):
                info = self._status.getJobInfo(job)
                for stage in info.stageIds if info else ():
                    st = self._status.getStageInfo(stage)
                    n += st.numTasks if st else 0
            s.tasks = n
        self._resolved = len(self.spans)

    def of_run(self, run_id: str) -> list[Span]:
        return [s for s in self.spans if s.run_id == run_id]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def total(spans: list[Span], name: str, attr: str = "seconds") -> float:
    """Sum of ``attr`` over the spans called ``name``."""
    return float(sum(getattr(s, attr) for s in spans if s.name == name))
