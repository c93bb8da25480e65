"""Spans around the benchmark's calls into each layer.

A span records its layer name, wall-clock start and end (epoch seconds, the
clock the Spark event log uses), and its parent. While a span is open it
is also the Spark job group, so every job it launches can be attributed
to it from the event log. Spans live in memory and are written out once
the run ends.

A disabled tracer records nothing and touches no job group; the untraced
run uses one, so its timings carry no tracing cost.
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
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark=None):
        """``spark`` None gives a disabled tracer."""
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def enabled(self) -> bool:
        return self.spark is not None

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.group, span.name)

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """Add a top-level span timed by the caller (e.g. before a session
        existed to carry its job group)."""
        if self.enabled:
            self.spans.append(Span(len(self.spans), name, None, start, end, attrs))

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span wall minus the part of it its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.wall - union_length(children.get(s.id, []), s.start, s.end) for s in spans
    }


def idle_s(lo: float, hi: float, job_intervals) -> float:
    """Driver idle time in [lo, hi]: the wall during which no job ran."""
    return (hi - lo) - union_length(job_intervals, lo, hi)
