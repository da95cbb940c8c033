"""Statistics and spans shared by every workload: no Spark imports here, so
the self-tests exercise this logic without a JVM."""

from __future__ import annotations

import math
import statistics
import threading
import time
from dataclasses import dataclass

#: A tail percentile needs this many samples strictly beyond it.
TAIL_BEYOND = 10
#: Tail ranks to choose from. A coarse grid keeps the chosen rank, and so
#: the reported tail, the same across runs whose sample counts differ a
#: little.
TAIL_RANKS = (99.9, 99.0, 95.0, 90.0, 85.0, 80.0, 75.0, 70.0, 65.0, 60.0, 55.0, 50.0)


def tail_rank(n: int) -> float:
    """The highest rank in ``TAIL_RANKS`` with at least ``TAIL_BEYOND`` of
    ``n`` samples beyond it; 50 when ``n`` is too small for any (the caller
    records the sample count next to it)."""
    for p in TAIL_RANKS:
        if n * (100.0 - p) / 100.0 >= TAIL_BEYOND - 1e-9:
            return p
    return 50.0


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def summary(values: list[float]) -> dict:
    """Median and tail of ``values``, with the tail's rank and the sample
    count."""
    rank = tail_rank(len(values))
    return {
        "p50": percentile(values, 50.0),
        "tail": percentile(values, rank),
        "tail_pct": rank,
        "samples": len(values),
    }


def mean(values) -> float:
    """Arithmetic mean; 0.0 for no values (a layer the window never used)."""
    values = list(values)
    return float(statistics.fmean(values)) if values else 0.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    id: int
    parent: int | None
    request: str


class Tracer:
    """In-memory span recorder, safe to use from several threads (the
    stream flow runs on Spark's callback thread). A disabled tracer records
    nothing, so workloads call it unconditionally."""

    def __init__(self, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, request: str = "") -> "_SpanCtx":
        return _SpanCtx(self, name, request)

    def add(self, name: str, start: float, end: float, request: str = "",
            parent: int | None = None) -> Span | None:
        """Record a span; ``end`` may be filled in later."""
        if not self.enabled:
            return None
        with self._lock:
            s = Span(name, start, end, len(self.spans), parent, request)
            self.spans.append(s)
        return s

    def to_json(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, request: str):
        self.tracer, self.name, self.request = tracer, name, request
        self.span: Span | None = None

    def __enter__(self) -> "_SpanCtx":
        t = self.tracer
        if t.enabled:
            stack = t._stack()
            parent = stack[-1] if stack else None
            request = self.request
            if not request and parent is not None:
                request = t.spans[parent].request
            self.span = t.add(self.name, time.time(), 0.0, request, parent)
            stack.append(self.span.id)
        return self

    def __exit__(self, *exc) -> bool:
        if self.span is not None:
            self.span.end = time.time()
            self.tracer._stack().pop()
        return False


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover.

    Children of one parent may overlap each other (threads); their union is
    subtracted, clipped to the parent's interval."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Total self time (s) per span name."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.id]
    return out
