"""In-memory spans recorded from the benchmark's own files.

The traced run patches public functions of the engine's modules with
wrappers that open a span around each call; spans nest by call order,
so a span's parent is the span that was open when it started. Nothing
is written until the run ends.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    kids = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.sid
    ]
    return span.duration - covered([(s, e) for s, e in kids if e > s])


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next = 0
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        rec = Span(sid, parent, name, time.perf_counter(), 0.0)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def patch(
        self,
        owner: object,
        attr: str,
        name: str,
        on_result: Callable[[Span, object], None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span
        named ``name`` around every call; ``on_result`` may copy counts
        from the return value onto the span."""
        original = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                out = original(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, out)
                return out

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]
