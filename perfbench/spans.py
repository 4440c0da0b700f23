"""Spans around the benchmark's calls into each layer of the package.

A span has a name (the layer), start, end, parent and the run id every
span of one result shares; the result itself is the root span. Spans
live in memory and are written as JSON lines when the run ends. While a
span is open its job group is set, so ``statusTracker()`` can count the
jobs, stages and failed tasks it ran, and the actions that finished
inside it are attached to it (the innermost open span gets them). Their
plans are folded once the result is over, outside every timed region.
"""

from __future__ import annotations

import itertools
import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from planfold import PlanCapture, job_stats


@dataclass
class Span:
    name: str
    run_id: str
    span_id: str
    parent: str | None
    start: float
    end: float = 0.0
    actions: list = field(default_factory=list)   # (QueryExecution, func, s)
    plans: list = field(default_factory=list)     # planfold.Node per action
    durations: list = field(default_factory=list)  # (func, plan desc, s)
    jobs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans inside ``result()``; everywhere else ``span`` is a
    no-op, so untraced results pay nothing."""

    def __init__(self, spark):
        self.spark = spark
        self.capture = PlanCapture(spark)
        self.spans: list[Span] = []      # every span of the run
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._run_id = None

    @contextmanager
    def result(self):
        """Trace one result; yields a list that holds its spans, folded,
        once the block is left."""
        self._run_id = uuid.uuid4().hex[:12]
        first, mine = len(self.spans), []
        self.capture.open()
        try:
            with self.span("result"):
                yield mine
        finally:
            self.capture.close()
            self._run_id = None
            for s in self.spans[first:]:
                s.jobs = job_stats(self.spark, s.span_id)
                for qe, func, secs in s.actions:
                    tree = self.capture.fold(qe)
                    if tree is not None:
                        s.plans.append(tree)
                        s.durations.append((func, tree.desc, secs))
                s.actions = []
            mine.extend(self.spans[first:])

    def _attach(self) -> None:
        self._stack[-1].actions.extend(self.capture.drain())

    def _set_group(self) -> None:
        sc = self.spark.sparkContext
        if self._stack:
            sc.setJobGroup(self._stack[-1].span_id, self._stack[-1].name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str):
        if self._run_id is None:
            yield None
            return
        if self._stack:
            self._attach()  # what finished before this span is the parent's
        s = Span(name, self._run_id, f"{self._run_id}-{next(self._ids)}",
                 self._stack[-1].span_id if self._stack else None, time.perf_counter())
        self._stack.append(s)
        self._set_group()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._attach()
            self._stack.pop()
            self._set_group()
            self.spans.append(s)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "run_id": s.run_id, "span_id": s.span_id,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "jobs": s.jobs, "actions": [[a, d[:160], t] for a, d, t in s.durations],
                }) + "\n")

