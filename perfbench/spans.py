"""In-memory span recorder for the benchmark's traced runs.

A span is (name, start, end, parent). Spans stay in memory until
:meth:`SpanRecorder.dump` writes them out at the end of a run. A layer's
self time is its span's duration minus the part of that interval its
child spans cover.
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
    parent: int | None
    start: float
    end: float | None = None

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class SpanRecorder:
    """Records nested spans; ``enabled=False`` makes :meth:`span` a no-op."""

    def __init__(self, enabled: bool = True, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = Span(len(self.spans), name,
                 self._stack[-1] if self._stack else None, self.clock())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield
        finally:
            s.end = self.clock()
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the union of the intervals its children cover."""
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(self.children(span), key=lambda c: c.start):
            a, b = max(c.start, span.start), min(c.end, span.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return span.duration - covered

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([{**asdict(s), "self": self.self_time(s)}
                       for s in self.spans], fh)
