"""In-memory spans for the traced run.

A span is (id, parent, name, start, end, kind, attrs) with epoch-second
timestamps, so Spark's own job times (epoch milliseconds) line up with
the benchmark's spans. Spans are kept in a list and written out once,
when the run ends. ``Tracer(enabled=False)`` records nothing.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

# Spark stamps job times in whole milliseconds; a job submitted in the
# first millisecond of a span may read as just before it.
_CLOCK_SLACK_S = 0.002


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    kind: str = "span"
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record the enclosed block as a child of the open span."""
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), self._stack[-1].id if self._stack else None,
                 name, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def add(self, parent: int | None, name: str, start: float, end: float,
            kind: str, **attrs) -> Span:
        s = Span(len(self.spans), parent, name, start, end, kind, attrs)
        self.spans.append(s)
        return s

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def descendants(self, span_id: int) -> list[Span]:
        out, todo = [], [span_id]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(k.id for k in kids)
        return out

    def attach(self, root_id: int, name: str, start: float, end: float,
               kind: str, **attrs) -> Span:
        """Add an interval (a Spark job) under the deepest span of the
        ``root_id`` subtree that was open when it started."""
        host = self.spans[root_id]
        for s in self.descendants(root_id):
            if s.kind == "span" and s.start - _CLOCK_SLACK_S <= start <= s.end + _CLOCK_SLACK_S:
                if _depth(self, s) > _depth(self, host):
                    host = s
        return self.add(host.id, name, start, end, kind, **attrs)

    def self_time(self, span_id: int) -> float:
        """The span's duration minus the part its children cover."""
        s = self.spans[span_id]
        return s.duration - covered(s.start, s.end, [(c.start, c.end) for c in self.children(span_id)])

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": [asdict(s) for s in self.spans]}, fh)


def _depth(tracer: Tracer, s: Span) -> int:
    d = 0
    while s.parent is not None:
        s = tracer.spans[s.parent]
        d += 1
    return d


def covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= reach:
            continue
        total += b - max(a, reach)
        reach = b
    return total
