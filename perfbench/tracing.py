"""In-memory spans recorded around the benchmark's calls into each layer.

A span is (name, start, end, parent, run id).  Spans are kept in memory
and written as JSON lines when the run ends; nothing here reaches into
``ferenda_spark`` itself.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    id: int

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans for one run.  ``enabled=False`` makes ``span`` a
    no-op, so the untraced path runs the same code without the cost."""

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
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), 0.0, parent, self.run_id, sid)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s.seconds for s in self.spans if s.name == name)

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s.start, s.end) for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
