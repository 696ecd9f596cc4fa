"""In-memory span tracer for the traced benchmark run.

A span records one call into a layer of the engine: its name (the layer
path, e.g. ``operators.rates.annual_nearest``), start and end on the
``perf_counter`` clock, the span that caused it and the trace id shared
by every span of one workload run. Spans stay in memory and are written
out once, when the run ends.

A layer's self time is its span's duration minus the part of that
interval its child spans cover.
"""

from __future__ import annotations

import itertools
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Collects spans of one run; `enabled=False` records nothing."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans.append(
                Span(sid, name, start, time.perf_counter(), parent, self.trace_id)
            )

    def total(self, name: str) -> float:
        """Summed duration of every span called `name`."""
        return sum(s.duration for s in self.spans if s.name == name)

    def layer_self_times(self, root: str | None = None) -> dict[str, float]:
        """Self time summed per span name, optionally only over spans
        whose outermost ancestor is named `root`."""
        st = self_times(self.spans)
        parent = {s.span_id: s.parent for s in self.spans}
        name = {s.span_id: s.name for s in self.spans}

        def outermost(sid: int) -> str:
            while parent[sid] is not None:
                sid = parent[sid]
            return name[sid]

        out: dict[str, float] = {}
        for s in self.spans:
            if root is None or outermost(s.span_id) == root:
                out[s.name] = out.get(s.name, 0.0) + st[s.span_id]
        return out

    def as_records(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {
                "span_id": s.span_id, "name": s.name, "parent": s.parent,
                "trace_id": s.trace_id,
                "start_s": s.start - t0, "end_s": s.end - t0,
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
