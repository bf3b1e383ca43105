"""In-memory spans, self time, and the percentile-with-count summary.

A span is recorded at each call the benchmark makes into a layer's
public function: name, start, end, and the span that caused it. Spans
stay in memory and are written out when the run ends. Timed runs use a
disabled tracer, so tracing costs them one attribute check per call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time the body as a child of the innermost open span."""
        if not self.enabled:
            yield None
            return
        s = self.add(name, time.time(), float("nan"))
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def add(
        self, name: str, start: float, end: float, parent: int | None = None
    ) -> Span:
        """Record a span whose times were measured elsewhere (a streaming
        micro-batch's progress report, a stage's returned wall time)."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        s = Span(len(self.spans), name, start, end, parent)
        if self.enabled:
            self.spans.append(s)
        return s

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its
    direct children cover (children clipped to the parent; overlapping
    children counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(p.id, []).append((lo, hi))
    return {s.id: s.duration - _covered(kids.get(s.id, [])) for s in spans}


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (0 <= p <= 100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


TAIL = 10  # samples a tail percentile needs beyond it


def summarize(values: list[float]) -> dict:
    """Median, sample count, and the highest of p90/p95/p99 that has at
    least ``TAIL`` samples beyond it (None when the sample is too small
    to support any of them)."""
    n = len(values)
    out = {"n": n, "p50": percentile(values, 50), "p_hi": None, "p_hi_value": None}
    for p in (90, 95, 99):
        if n * (100 - p) / 100 >= TAIL:
            out["p_hi"], out["p_hi_value"] = p, percentile(values, p)
    return out
