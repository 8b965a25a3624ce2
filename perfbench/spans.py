"""In-memory spans recorded by the benchmark around calls into the engine.

Every span has a name, start, end, parent and operation id.  Spans are
kept in memory and written out once, when the run ends.  With tracing
off a span still measures its own duration (the benchmark's timings
come from it) but nothing is recorded.
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
    op: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(self._next_id, name, parent.id if parent else None, op,
                 time.perf_counter())
        self._next_id += 1
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self.spans.append(s)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its children cover.  The
        benchmark runs one thread, so children never overlap."""
        child = {s.id: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None and s.parent in child:
                child[s.parent] += s.dur
        return {s.id: s.dur - child[s.id] for s in self.spans}

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    def summary(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds."""
        selfs = self.self_times()
        out: dict[str, dict] = {}
        for s in self.spans:
            row = out.setdefault(s.name, {"n": 0, "total_s": 0.0, "self_s": 0.0})
            row["n"] += 1
            row["total_s"] += s.dur
            row["self_s"] += selfs[s.id]
        return out

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "summary": self.summary(),
                       "spans": [asdict(s) for s in self.spans]}, f)
