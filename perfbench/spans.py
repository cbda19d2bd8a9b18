"""In-memory spans recorded from the benchmark around calls into the
engine's layers, and the self-time arithmetic over them.

A span's self time is its duration minus the part of its interval that
its child spans cover. Spans are kept in memory and summarized when the
run ends; nothing is written while waves run.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans
    trace: str  # spans of one wave share this id
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
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


def self_times(spans: list[Span]) -> list[float]:
    """Self time of every span, index-aligned with ``spans``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    """Records spans while ``enabled``; a disabled tracer's wrappers are a
    flag test and a direct call."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.trace_id = ""
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.trace_id, dict(counts))
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn, name, on_result=None):
        """Wrap ``fn`` in a span. ``name`` is a string or a function of the
        call's arguments; ``on_result(span, result, args, kwargs)`` may
        attach counts after the call returns."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label) as s:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, result, args, kwargs)
            return result

        return traced

    def per_trace(self) -> dict[str, dict[str, dict]]:
        """{trace id: {span name: {"s": total duration, "self_s": total
        self time, "n": calls, <count>: summed counts}}}."""
        selfs = self_times(self.spans)
        out: dict[str, dict[str, dict]] = {}
        for s, own in zip(self.spans, selfs):
            agg = out.setdefault(s.trace, {}).setdefault(
                s.name, {"s": 0.0, "self_s": 0.0, "n": 0}
            )
            agg["s"] += s.duration
            agg["self_s"] += own
            agg["n"] += 1
            for k, v in s.counts.items():
                agg[k] = agg.get(k, 0) + v
        return out
