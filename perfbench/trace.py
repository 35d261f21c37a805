"""In-memory span recorder for the traced run.

Spans are recorded by the benchmark around its own calls into each layer of
the program (no span lives inside the program). They are kept in memory and
written out once, when the run ends.
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
    start: float            # epoch seconds
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Records nested spans; a disabled tracer records nothing and costs one
    attribute test per call, so untraced passes run the same code."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        span = Span(len(self.spans), name, time.time(), 0.0,
                    self._stack[-1] if self._stack else None, self.run_id)
        self.spans.append(span)
        self._stack.append(span.id)
        try:
            yield span
        finally:
            self._stack.pop()
            span.end = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Attach an interval measured elsewhere (a Spark stage) under ``parent``."""
        if self.enabled:
            self.spans.append(Span(len(self.spans), name, start, end, parent, self.run_id))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(asdict(span)) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` that the union of ``intervals`` covers."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Summed self time per span name: each span's duration minus the part of
    its interval that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - covered(children.get(s.id, []), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out
