"""Spans recorded around the benchmark's calls into the engine.

A span is (name, start, end, parent, run id). Spans stay in memory and
are written out once, when the run ends. With tracing off, ``span`` is a
no-op context manager and nothing is recorded, so untraced runs pay no
bookkeeping.

Self time of a span is its duration minus the part of that interval its
child spans cover. The client is single-threaded, so the self times of a
pass's span tree add up to the pass's own duration, whatever the spans
cover; what the layers explain is the sum without the root's own self
time (``layer_self_time``).
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Collects spans for one run. ``enabled=False`` records nothing."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the time its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start) - _covered(children.get(s.sid, []))
        for s in spans
    }


def subtree(spans: list[Span], root: int) -> list[Span]:
    """The span ``root`` and all its descendants."""
    keep = {root}
    out = []
    for s in spans:  # parents are always recorded before their children
        if s.sid == root or s.parent in keep:
            keep.add(s.sid)
            out.append(s)
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.sid]
    return out


def layer_self_time(spans: list[Span], root: int, skip: tuple[str, ...] = ()) -> float:
    """Self time of the descendants of ``root``, leaving out the spans
    named in ``skip`` and the root itself, whose self time is the part
    of the pass no other span covers."""
    tree = subtree(spans, root)
    st = self_times(tree)
    return sum(st[s.sid] for s in tree if s.sid != root and s.name not in skip)
