"""In-memory spans for the traced run, and the arithmetic over them.

A span is one timed interval with a name, a parent and free-form
attributes. Spans are kept in a list while the benchmark runs and are
written once at the end, as Chrome trace-event JSON (load the file in
Perfetto or ``chrome://tracing``; each event's ``args`` carries the
span id, parent id and self time).
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float  # seconds since the epoch
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Collects the spans of one run."""

    def __init__(self):
        self.spans: list[Span] = []

    def add(self, name: str, parent: Span | None, start: float, end: float, **attrs) -> Span:
        span = Span(len(self.spans), parent.id if parent else None, name, start, end, attrs)
        self.spans.append(span)
        return span

    def children(self) -> dict[int, list[Span]]:
        """Child spans by parent id."""
        index = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                index[s.parent].append(s)
        return index

    @staticmethod
    def self_time(span: Span, children: list[Span]) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(c.start, c.end) for c in children]
        return span.dur - union_length(kids, span.start, span.end)

    def write_chrome(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        index = self.children()
        events = [
            {
                "name": s.name,
                "ph": "X",
                "pid": 1,
                "tid": 1 if s.attrs.get("kind") != "stage" else 2,
                "ts": round((s.start - t0) * 1e6, 1),
                "dur": round(s.dur * 1e6, 1),
                "args": {"id": s.id, "parent": s.parent,
                         "self_s": round(self.self_time(s, index[s.id]), 6), **s.attrs},
            }
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"traceEvents": events, "displayTimeUnit": "ms"}, fh)
