"""In-memory spans around the benchmark's calls into each layer.

A span names the layer it wraps; while it is open, Spark jobs carry the
span's id in their job description, so the Spark metrics of a job can be
attributed to exactly one span afterwards.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass

_DESC = re.compile(r"^kgbench span=(\d+) ")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; ``sc`` (optional) receives job descriptions."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[int] = []

    def _describe(self, span_id: int | None):
        if self.sc is not None:
            self.sc.setJobDescription(
                None if span_id is None else
                f"kgbench span={span_id} {self.spans[span_id].name}")

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(s)
        self._open.append(s.id)
        self._describe(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            self._describe(self._open[-1] if self._open else None)

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def subtree(self, span_id: int) -> list[Span]:
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(c.id for c in self.children(sid))
        return out


def span_of_description(description: str | None) -> int | None:
    m = _DESC.match(description or "")
    return int(m.group(1)) if m else None


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    covered, cursor = 0.0, span.start
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, cursor), min(c.end, span.end)
        if hi > lo:
            covered += hi - lo
            cursor = hi
    return span.duration - covered


def self_times(tracer: Tracer, root_id: int) -> dict[str, float]:
    """Self time per span name over the subtree rooted at ``root_id``;
    the values add up to the root's duration."""
    out: dict[str, float] = {}
    for s in tracer.subtree(root_id):
        out[s.name] = out.get(s.name, 0.0) + self_time(
            s, tracer.children(s.id))
    return out
