"""In-memory spans and the self-time arithmetic behind the per-layer table.

A span records its name, start, end, the span that caused it and the
workload call it belongs to. Spans stay in a list until the benchmark
writes them out at exit. A span's self time is its duration minus the
part of its interval that its child spans cover; children may overlap
each other (threads), so the covered part is the length of the union of
their intervals, clipped to the parent.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    call: int | None


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` after clipping each to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - union_length(children[s.id], s.start, s.end)
        for s in spans
    }


class Tracer:
    """Records spans when enabled; a disabled tracer only runs the body.

    The parent of a new span is the innermost open span of the same
    thread, or, in a thread with no open span, the current call's root
    (so work a call fans out to worker threads is still attributed to it).
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._call: int | None = None
        self._call_root: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, call: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self._call_root
        if call is not None:
            # a call root: every span opened until it closes belongs to it
            self._call, self._call_root, parent = call, sid, None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self._call))
            if call is not None:
                self._call = self._call_root = None

    def wrap(self, name: str, fn):
        """``fn`` with every invocation inside a span called ``name``."""
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def layer_table(spans: list[Span]) -> list[dict]:
    """One row per span name: count, total and self seconds summed."""
    selfs = self_times(spans)
    rows: dict[str, dict] = {}
    for s in spans:
        r = rows.setdefault(s.name, {"layer": s.name, "count": 0, "total_s": 0.0, "self_s": 0.0})
        r["count"] += 1
        r["total_s"] += s.end - s.start
        r["self_s"] += selfs[s.id]
    return sorted(rows.values(), key=lambda r: -r["self_s"])


def call_coverage(spans: list[Span]) -> float:
    """Share of the call roots' wall time that layer spans cover."""
    selfs = self_times(spans)
    roots = [s for s in spans if s.parent is None and s.call is not None]
    wall = sum(s.end - s.start for s in roots)
    if wall <= 0:
        return 0.0
    return 1.0 - sum(selfs[s.id] for s in roots) / wall
