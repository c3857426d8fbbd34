"""In-memory spans around the benchmark's calls into each layer.

A span records a name, start, end and its parent span; all spans of one
run share a trace id.  Spans live in memory and are written out once, when
the run ends.  Times are epoch seconds, so they line up with the
millisecond timestamps Spark keeps for its executions.  The
``on_enter``/``on_exit`` hooks let the caller tag the work done inside a
span (the benchmark sets Spark's job group there).  ``overhead_s`` sums
the time the tracer itself spends opening and closing spans, hooks
included: what tracing adds to the traced work.
"""

from __future__ import annotations

import contextlib
import dataclasses
import time
import uuid
from collections.abc import Callable, Iterator


@dataclasses.dataclass
class Span:
    trace_id: str
    span_id: str
    parent_id: str | None
    name: str
    start: float
    end: float | None = None

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    def __init__(
        self,
        on_enter: Callable[[Span], None] | None = None,
        on_exit: Callable[[Span, Span | None], None] | None = None,
    ):
        self.trace_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._on_enter = on_enter
        self._on_exit = on_exit
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span]:
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(
            self.trace_id,
            uuid.uuid4().hex[:16],
            parent.span_id if parent else None,
            name,
            time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        if self._on_enter:
            self._on_enter(s)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = time.time()
            self._stack.pop()
            if self._on_exit:
                self._on_exit(s, parent)
            self.overhead_s += time.perf_counter() - t1

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent_id == span.span_id]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(self.children(span), key=lambda c: c.start):
            lo = max(c.start, span.start)
            hi = min(c.end if c.end is not None else lo, span.end or lo)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        return span.duration - covered

    def find(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def to_records(self) -> list[dict]:
        return [
            {
                **dataclasses.asdict(s),
                "duration_s": s.duration,
                "self_s": self.self_time(s),
            }
            for s in self.spans
        ]
