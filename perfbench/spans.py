"""In-memory spans for the traced run, and the self-time arithmetic.

A span records name, start, end, its parent span and the workload, pass
and entry it belongs to. Spans are kept in a list and written once, when
the run ends, so tracing does no I/O while a pass is being measured.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    workload: str
    pass_: int | None
    entry: str | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; ``pass_`` and ``entry`` are set by the caller
    as the run moves through passes and entries."""

    def __init__(self, workload: str, clock=time.perf_counter) -> None:
        self.workload = workload
        self.clock = clock
        self.spans: list[Span] = []
        self.pass_: int | None = None
        self.entry: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, self.clock(), 0.0, parent,
                    self.workload, self.pass_, self.entry)
        self.spans.append(span)
        self._stack.append(span.id)
        try:
            yield span
        finally:
            self._stack.pop()
            span.end = self.clock()

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, the summed duration minus the time its direct
    children cover. Children nest inside their parent, so their durations
    subtract without double counting."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + s.duration
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + s.duration - child_time.get(s.id, 0.0)
    return out
