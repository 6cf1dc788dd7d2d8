"""In-memory span recorder for the traced run.

A span is (id, name, start, end, parent). Spans are recorded around calls
into the program's public functions, from the benchmark's side, and
written out once at the end. A span's self time is its duration minus the
part of its interval covered by its children (overlapping children are
merged first, and clipped to the parent).
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, name, time.perf_counter(), 0.0, parent)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec.end = time.perf_counter()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


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


def self_times(spans: list[Span]) -> dict[int, float]:
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def total_by_name(spans: list[Span], name: str, self_only: bool = False) -> float:
    selfs = self_times(spans) if self_only else None
    return sum(
        selfs[s.id] if self_only else s.end - s.start for s in spans if s.name == name
    )


def nesting_errors(spans: list[Span]) -> list[str]:
    """Every child must lie inside its parent and every self time must be
    non-negative; returns a description of each violation."""
    by_id = {s.id: s for s in spans}
    errors = []
    for s in spans:
        if s.end < s.start:
            errors.append(f"{s.name}#{s.id} ends before it starts")
        if s.parent is not None:
            p = by_id[s.parent]
            if s.start < p.start or s.end > p.end:
                errors.append(f"{s.name}#{s.id} leaves parent {p.name}#{p.id}")
    for sid, t in self_times(spans).items():
        if t < 0:
            errors.append(f"{by_id[sid].name}#{sid} has negative self time {t}")
    return errors
