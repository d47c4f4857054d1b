"""In-memory spans recorded around calls into the engine's layers.

A span has a name, start, end, parent and request id. Spans are kept in a
list and written out once, when the run ends. A span's self time is its
duration minus the part of its interval that its children cover; children
that overlap each other are counted once (interval union), so concurrent
children never drive self time negative.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, asdict


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    request: int | None


class Tracer:
    """Records nested spans when enabled; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        rec = Span(len(self.spans), name, time.perf_counter(), None, parent, request)
        self.spans.append(rec)
        self._stack.append(rec.id)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every finished span: its duration minus the union of its
    children's intervals, each child clipped to the parent's interval."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        if s.end is None:
            continue
        covered = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, [])
            if c.end is not None and c.end > s.start and c.start < s.end
        ]
        out[s.id] = (s.end - s.start) - union_length(covered)
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, list[float]]:
    """Self times grouped by span name, one entry per span."""
    st = self_times(spans)
    out: dict[str, list[float]] = {}
    for s in spans:
        if s.id in st:
            out.setdefault(s.name, []).append(st[s.id])
    return out
