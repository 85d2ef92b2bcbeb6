"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, a start, an end, a parent span and the op id it shares
with its siblings. Spans stay in memory and are written out once, when the
run ends. While the tracer is inactive every call is a no-op, so untraced
ops pay nothing; the time the tracer itself spends (registry reads, Spark
status queries, span bookkeeping) is summed in ``bookkeeping_s``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from stats import self_time


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None
    derived: bool = False  # duration read from the engine's metrics registry


class Tracer:
    def __init__(self):
        self.active = False
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._stack: list[Span] = []
        self._op_id: int | None = None

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        """Time the block as a child of the innermost open span."""
        if not self.active:
            yield None
            return
        t0 = time.perf_counter()
        if op_id is not None:
            self._op_id = op_id
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, 0.0, 0.0, parent, self._op_id)
        self.spans.append(sp)
        self._stack.append(sp)
        self.bookkeeping_s += time.perf_counter() - t0
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def add_derived(self, parent: Span, name: str, start: float,
                    end: float) -> Span:
        """A child span whose duration comes from the engine's registry
        rather than from a clock around a call."""
        sp = Span(len(self.spans), name, start, end, parent.id, parent.op_id,
                  derived=True)
        self.spans.append(sp)
        return sp

    @contextmanager
    def bookkeeping(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.bookkeeping_s += time.perf_counter() - t0

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def self_s(self, sp: Span) -> float:
        return self_time(sp.start, sp.end,
                         [(c.start, c.end) for c in self.children(sp)])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans]}, f)
