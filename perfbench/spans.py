"""Spans, self time and percentiles: the benchmark's pure logic.

A span records one call the benchmark makes into a layer of the engine:
its name, start, end, parent span and request id. Spans stay in memory
and are written out once, when the run ends. A layer's self time is its
span's duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: A percentile is reported only when at least this many samples lie
#: beyond it.
MIN_BEYOND = 10


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    rid: str | None


class Tracer:
    """Collects spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if rid is None and parent is not None:
            rid = self.spans[parent].rid
        sp = Span(len(self.spans), name, time.perf_counter(), math.nan, parent, rid)
        self.spans.append(sp)
        self._stack.append(sp.sid)
        try:
            yield
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def record(self, name: str, start: float, end: float) -> None:
        """Add a span whose bounds were taken elsewhere (a callback's entry
        and exit), as a child of the innermost open span."""
        if not self.enabled:
            return
        parent = self._stack[-1] if self._stack else None
        rid = self.spans[parent].rid if parent is not None else None
        self.spans.append(Span(len(self.spans), name, start, end, parent, rid))

    def dump(self, path: str, stamp: dict) -> None:
        with open(path, "w") as f:
            json.dump({"host": stamp, "spans": [asdict(s) for s in self.spans]}, f)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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
    """Span id -> its duration minus the union of its children's intervals
    (clipped to the span)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            p = spans[sp.parent]
            kids.setdefault(sp.parent, []).append((max(sp.start, p.start), min(sp.end, p.end)))
    return {
        sp.sid: (sp.end - sp.start) - _covered([iv for iv in kids.get(sp.sid, []) if iv[1] > iv[0]])
        for sp in spans
    }


def percentile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile of ``values``: a
    Beta-weighted average of all order statistics. Unlike one order
    statistic it does not jump when the quantile falls in the gap between
    two request kinds' latencies. Refuses (ValueError) when fewer than
    ``MIN_BEYOND`` samples lie beyond the nearest-rank percentile."""
    xs = sorted(values)
    n = len(xs)
    beyond = n - _rank(q, n)
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} of {n} samples has {beyond} beyond it; "
            f"need at least {MIN_BEYOND}"
        )
    a, b = q * (n + 1), (1 - q) * (n + 1)
    # Beta(a, b) mass on each [i/n, (i+1)/n], by the midpoint rule; the
    # log density is shifted by its maximum so large n cannot underflow
    steps = 64
    grid = [(k + 0.5) / (n * steps) for k in range(n * steps)]
    logd = [(a - 1) * math.log(x) + (b - 1) * math.log1p(-x) for x in grid]
    top = max(logd)
    dens = [math.exp(v - top) for v in logd]
    w = [sum(dens[i * steps:(i + 1) * steps]) for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def _rank(q: float, n: int) -> int:
    # the epsilon keeps 0.9 * 100 (= 90.00000000000001) at rank 90
    return max(1, math.ceil(q * n - 1e-9))


def min_samples(q: float) -> int:
    """Fewest samples for which ``percentile(values, q)`` is allowed."""
    n = MIN_BEYOND
    while n - _rank(q, n) < MIN_BEYOND:
        n += 1
    return n
