"""Spans recorded around the benchmark's calls into each engine layer.

A span has a name, start, end, parent and trace id. While a span is open
its id is the thread's Spark job group, so the event-log roll-up
(``eventlog.rollup``) attributes every job, stage and task to the span
that caused it. Spans live in memory and are written out at the end.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: str
    trace_id: str
    parent_id: str | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op, so
    the untimed and the traced run execute the same benchmark code."""

    def __init__(self, sc=None, enabled: bool = False) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.span_id, span.name)

    @contextmanager
    def span(self, name: str, new_trace: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span_id = f"s{next(self._ids)}"
        trace_id = parent.trace_id if parent and not new_trace else f"t{span_id}"
        span = Span(span_id, trace_id, parent.span_id if parent else None, name,
                    time.perf_counter(), attrs=attrs)
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

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
        for s in sorted(self.children(span), key=lambda s: s.start):
            lo, hi = max(s.start, span.start), min(s.end, span.end)
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

    def dump(self) -> list[dict]:
        return [asdict(s) | {"self_s": self.self_time(s)} for s in self.spans]
