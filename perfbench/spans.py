"""In-memory span recorder: one span per call into a layer, kept in memory
during the run and written out once when it ends.

A span has a name, a start and an end (``time.perf_counter`` seconds), the
span that was open when it started (its parent) and the run it belongs
to. Self time is the span's duration minus the part of it that its direct
children cover. No Spark here: counters are attached to ``attrs`` by the
caller.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        if self.end is None:
            raise ValueError(f"span {self.name!r} is still open")
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class SpanRecorder:
    """Spans of one run. ``start``/``finish`` keep a stack, so a span
    opened while another is open becomes its child."""

    def __init__(self, run_id: str, clock: Callable[[], float] = time.perf_counter):
        self.run_id = run_id
        self._clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._kids: dict[int, list[Span]] = {}

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def start(self, name: str, **attrs) -> Span:
        parent = self.current
        span = Span(
            span_id=len(self.spans),
            name=name,
            parent=None if parent is None else parent.span_id,
            run_id=self.run_id,
            start=self._clock(),
            attrs=dict(attrs),
        )
        self.spans.append(span)
        self._stack.append(span)
        if parent is not None:
            self._kids.setdefault(parent.span_id, []).append(span)
        return span

    def finish(self, span: Span) -> None:
        if not self._stack or self._stack[-1] is not span:
            raise ValueError(f"span {span.name!r} is not the innermost open span")
        span.end = self._clock()
        self._stack.pop()

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        s = self.start(name, **attrs)
        try:
            yield s
        finally:
            self.finish(s)

    def children(self, span: Span) -> list[Span]:
        return self._kids.get(span.span_id, [])

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    def self_time(self, span: Span) -> float:
        kids = [(c.start, c.end) for c in self.children(span) if c.end is not None]
        return span.duration - covered(kids, span.start, span.end)

    def since(self, mark: int) -> list[Span]:
        """Spans started after ``mark`` spans had been recorded."""
        return self.spans[mark:]

    def to_records(self) -> list[dict]:
        out = []
        for s in self.spans:
            rec = asdict(s)
            if s.end is not None:
                rec["wall_s"] = s.duration
                rec["self_s"] = self.self_time(s)
            out.append(rec)
        return out

    def write(self, path: str) -> None:
        """One JSON object per span, one per line."""
        with open(path, "w") as fh:
            for rec in self.to_records():
                fh.write(json.dumps(rec, default=str) + "\n")
