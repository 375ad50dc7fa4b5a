"""In-memory span recorder.

A span has a name, start, end, the id of the span that was open when it
started (its parent) and a trace id shared by all spans of one pass.
Counts recorded on a span are kept with it. Nothing is written until
``Tracer.dump``, which adds each span's self time: its duration minus the
durations of its children. Spans are opened only on the driver thread and
nest, so the self times inside a span add up to its duration.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    trace: str
    parent: int | None
    start: float
    end: float | None = None
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def count(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value


class Tracer:
    """Records spans opened with ``span``; a disabled tracer records
    nothing and yields ``None``."""

    def __init__(self, enabled: bool = True, clock=time.perf_counter):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._clock = clock
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._trace = "t0"

    def new_trace(self, trace_id: str) -> None:
        self._trace = trace_id

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack
        s = Span(
            next(self._ids),
            name,
            self._trace,
            stack[-1].id if stack else None,
            self._clock(),
        )
        self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = self._clock()
            stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the durations of its children."""
        out = {s.id: s.duration for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.duration
        return out

    def find(self, name: str, trace: str | None = None) -> list[Span]:
        return [
            s
            for s in self.spans
            if s.name == name and (trace is None or s.trace == trace)
        ]

    def dump(self, path: str, extra: dict | None = None) -> None:
        self_t = self.self_times()
        rows = [
            {
                "id": s.id,
                "name": s.name,
                "trace": s.trace,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": self_t[s.id],
                "counts": s.counts,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, **(extra or {})}, f, indent=1)
