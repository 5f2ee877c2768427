"""Bench-side spans around calls into the engine's layers.

A span records name, start, end, parent and run id, and (when the call ran
Spark jobs) the jobs, stages, tasks and failed tasks of that call.  Jobs are
attributed by labelling each span with its own job group and reading
``SparkContext.statusTracker()`` once the listener bus has drained, so the
counts are exact.  Spans stay in memory and are written out when the run
ends.  Untraced runs open no spans and set no job group.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import List, Optional


@dataclass
class Span:
    name: str
    span_id: int
    parent: Optional[int]
    run_id: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.run_id = run_id
        self.spans: List[Span] = []
        self._sc = spark.sparkContext
        self._stack: List[Span] = []
        self._ids = itertools.count()

    def _group(self, span: Span) -> str:
        return f"{self.run_id}/{span.span_id}"

    @contextmanager
    def span(self, name: str):
        """Time the body as one span."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, next(self._ids),
                  parent.span_id if parent else None, self.run_id,
                  time.perf_counter())
        self._stack.append(sp)
        self._sc.setJobGroup(self._group(sp), name, False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._count_jobs(sp)
            if parent is not None:
                self._sc.setJobGroup(self._group(parent), parent.name, False)
            else:
                self._sc._jsc.clearJobGroup()
            self.spans.append(sp)

    def _count_jobs(self, sp: Span) -> None:
        # job/stage/task end events reach the status store asynchronously
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(self._group(sp)):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            sp.jobs += 1
            for stage_id in info.stageIds:
                st = tracker.getStageInfo(stage_id)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped (reused shuffle output)
                sp.stages += 1
                sp.tasks += st.numCompletedTasks + st.numFailedTasks
                sp.failed_tasks += st.numFailedTasks

    def named(self, name: str) -> List[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted(
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.spans if c.parent == span.span_id
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return span.duration - covered

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["self_s"] = self.self_time(s)
                f.write(json.dumps(row, sort_keys=True) + "\n")
