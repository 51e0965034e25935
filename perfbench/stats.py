"""Pure arithmetic for the benchmark: percentiles, spreads, spans and
self time. No Spark import, so the unit tests run without a JVM."""

from __future__ import annotations

import math
import time
import uuid
from dataclasses import dataclass


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method), q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError(f"q must be in [0, 100], got {q}")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median with Python's statistics.quantiles(n=4) quartiles,
    the spread the acceptance check applies to ten runs of one metric."""
    import statistics

    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        if self.end is None:
            raise ValueError(f"span {self.name!r} is still open")
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans of one run share `run_id`; a span
    opened while another is open becomes its child."""

    def __init__(self, run_id: str | None = None, clock=time.perf_counter):
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._clock = clock

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    def _begin(self, name: str) -> int:
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, self._clock(), None, parent, self.run_id))
        idx = len(self.spans) - 1
        self._open.append(idx)
        return idx

    def _finish(self, idx: int) -> None:
        if not self._open or self._open[-1] != idx:
            raise RuntimeError("spans must close in LIFO order")
        self._open.pop()
        self.spans[idx].end = self._clock()

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Duration minus the part of the span's interval its children cover
        (overlapping children are counted once)."""
        s = self.spans[idx]
        return s.duration - covered(
            [(self.spans[c].start, self.spans[c].end) for c in self.children(idx)], s.start, s.end
        )

    def to_records(self) -> list[dict]:
        return [
            {
                "id": i,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "run_id": s.run_id,
                "self_s": self.self_time(i),
            }
            for i, s in enumerate(self.spans)
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name
        self.idx: int | None = None

    def __enter__(self) -> "_SpanCtx":
        self.idx = self.tracer._begin(self.name)
        return self

    def __exit__(self, *exc) -> None:
        self.tracer._finish(self.idx)

    @property
    def duration(self) -> float:
        return self.tracer.spans[self.idx].duration


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
