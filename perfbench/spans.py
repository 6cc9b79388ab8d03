"""Spans, self times and the statistics the benchmark reports.

A span is one timed call at a layer boundary: name, start, end, the span
that caused it, and the op it belongs to. Spans are kept in memory and
written out when the run ends. Times are ``time.time()`` seconds so
that engine timestamps (streaming progress, job records) sit on the
same clock.
"""

from __future__ import annotations

import itertools
import json
import math
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; the parent of a new span is the innermost open span
    of the calling thread. ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, op: int | None = None, parent: Span | None = None, **attrs):
        """Time the body as one span; its parent is ``parent`` when given
        (a span opened on another thread), else the innermost open span
        of this thread."""
        if not self.enabled:
            yield None
            return
        parent = parent or self.current()
        if op is None and parent is not None:
            op = parent.op
        s = Span(next(self._ids), name, time.time(), math.nan,
                 parent.id if parent else None, op, attrs)
        self._stack().append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack().pop()
            with self._lock:
                self.spans.append(s)

    def add(self, name: str, start: float, end: float, parent: Span | None, **attrs) -> None:
        """Record a span whose times come from elsewhere (the engine)."""
        if not self.enabled:
            return
        s = Span(next(self._ids), name, start, end,
                 parent.id if parent else None, parent.op if parent else None, attrs)
        with self._lock:
            self.spans.append(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval covered by its children (overlapping children count once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


def tail_percentile(values: list[float]) -> tuple[int, float, int] | None:
    """The highest whole percentile with at least ten samples beyond it,
    as ``(percentile, value, sample count)`` by nearest rank; None when
    fewer than 20 samples leave no percentile at or above the median."""
    n = len(values)
    if n < 20:
        return None
    pct = (100 * (n - 10)) // n
    rank = math.ceil(pct * n / 100)
    return pct, sorted(values)[rank - 1], n


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
