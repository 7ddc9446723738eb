"""In-memory spans and counters for the traced run.

A span is (name, start, end, parent, run id); spans nest by call order on
one thread, so a span's parent is the span open when it started. Wrapping
replaces a public function or method with one that records a span and
bumps a call counter, and ``Tracer.restore`` puts the originals back, so
untraced passes run the program unchanged.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counts: dict[str, int] = {}
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, n: int = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, owner, attr: str, name: str, timed: bool = True) -> None:
        """Count ``name + ".calls"`` and, if ``timed``, record a span named
        ``name`` around every call of ``owner.attr`` until ``restore``.
        ``owner`` is a module or the class that defines the method."""
        original = vars(owner)[attr]

        @functools.wraps(original)
        def traced(*args, **kwargs):
            self.count(name + ".calls")
            if not timed:
                return original(*args, **kwargs)
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its child spans
        cover (children nest inside their parent on one thread, so their
        intervals do not overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
        return out

    def records(self) -> list[dict]:
        return [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "run_id": s.run_id} for s in self.spans]
