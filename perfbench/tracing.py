"""In-memory spans recorded by the benchmark around its calls into the
program. Each span has a name, start, end, parent and trace id; they
are written out once, when the run ends."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    trace: str
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0


class Tracer:
    """Records spans only while ``enabled``."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            trace=trace or (parent.trace if parent else name),
            id=len(self.spans),
            parent=parent.id if parent else None,
            name=name,
            start=time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the time its children cover."""
        child_time: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] = child_time.get(sp.parent, 0.0) + sp.end - sp.start
        return {sp.id: sp.end - sp.start - child_time.get(sp.id, 0.0) for sp in self.spans}

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({**asdict(sp), "self": selfs[sp.id]}) + "\n")
