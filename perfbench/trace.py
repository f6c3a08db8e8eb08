"""Spans around the benchmark's calls into the program's layers.

Each span records its name, layer, start, end and parent. One client
runs one operation at a time, so spans form a single stack even when a
streaming ``foreachBatch`` callback runs on another thread. With job
groups on, entering a span sets the Spark job group to the span's layer,
so the event-log parser can map each job to the layer that launched it.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    layer: str | None
    t0: float
    t1: float = 0.0
    parent: int | None = None
    child_s: float = 0.0

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.wall - self.child_s


class Tracer:
    def __init__(self, spark=None, job_groups: bool = False) -> None:
        self.spark = spark
        self.job_groups = job_groups and spark is not None
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def count(self, name: str, value: float = 1.0) -> None:
        self.counters[name] = self.counters.get(name, 0.0) + value

    def _set_group(self, layer: str | None) -> None:
        if self.job_groups:
            self.spark.sparkContext.setJobGroup(layer or "bench", layer or "bench")

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            sp = Span(name, layer, 0.0, parent=parent)
            self.spans.append(sp)
            idx = len(self.spans) - 1
            self._stack.append(idx)
        self._set_group(layer)
        sp.t0 = time.time()
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            with self._lock:
                self._stack.remove(idx)
                if parent is not None:
                    self.spans[parent].child_s += sp.wall
            self._set_group(self.spans[parent].layer if parent is not None else None)

    def wrap(self, fn, name: str, layer: str):
        """``fn`` timed as a span on every call."""

        def timed(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)

        return timed
