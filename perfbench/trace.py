"""Spans around the benchmark's calls into the package.

A span records name, layer, start, end, parent span and the workload cycle
it belongs to. A leaf span (one public call) runs under its own Spark job
group and carries the counters of that group. A container span (one
operation of a workload) sets no group; its counters are those of its
children. Spans are kept in memory and written out once, at the end.

Tracing is switched per thread with ``set_active``; while it is off,
``span`` records nothing and sets no group.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from .sparkstats import SparkCounters


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    cycle: int | None
    counters: dict[str, float] = field(default_factory=dict)
    new_cached_rdds: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, counters: SparkCounters):
        self.counters = counters
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0  # time spent in the tracer itself
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def set_active(self, on: bool) -> None:
        self._local.active = on

    @contextmanager
    def span(self, name: str, layer: str, cycle: int | None = None,
             leaf: bool = True):
        if not getattr(self._local, "active", False):
            yield
            return
        t_book = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        before = self.counters.persistent_rdds() if leaf else set()
        gid = f"perfbench-{sid}"
        stack.append(sid)
        self._add_bookkeeping(time.perf_counter() - t_book)
        try:
            if leaf:
                with self.counters.group(gid):
                    start = time.perf_counter()
                    try:
                        yield
                    finally:
                        end = time.perf_counter()
            else:
                start = time.perf_counter()
                try:
                    yield
                finally:
                    end = time.perf_counter()
        finally:
            stack.pop()
        t_book = time.perf_counter()
        span = Span(sid, name, layer, start, end, parent, cycle)
        if leaf:
            span.counters = self.counters.read(gid)
            span.new_cached_rdds = len(self.counters.persistent_rdds() - before)
        with self._lock:
            self.spans.append(span)
        self._add_bookkeeping(time.perf_counter() - t_book)

    def _add_bookkeeping(self, dt: float) -> None:
        with self._lock:
            self.bookkeeping_s += dt

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(s)) + "\n")

    def leaves(self, layer: str) -> list[Span]:
        """The recorded calls into ``layer``."""
        return [s for s in self.spans if s.layer == layer and s.counters]

    def self_times(self, skip_cycle=None) -> dict[str, float]:
        """Seconds per layer not covered by that span's children, over
        the spans not of cycle ``skip_cycle``."""
        spans = [s for s in self.spans
                 if skip_cycle is None or s.cycle != skip_cycle]
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in spans:
            covered = _union_length(
                [(c.start, c.end) for c in children.get(s.id, [])],
                s.start, s.end,
            )
            out[s.layer] = out.get(s.layer, 0.0) + s.duration - covered
        return out


def _union_length(intervals: list[tuple[float, float]], lo: float,
                  hi: float) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def layer_summary(spans: list[Span], prefix: str,
                  keys: tuple[str, ...]) -> dict[str, float]:
    """``<prefix>.s`` (median span seconds) and the median of each counter
    in ``keys`` over ``spans``; zeros when the layer did no work."""
    out = {f"{prefix}.s": _median([s.duration for s in spans])}
    for k in keys:
        out[f"{prefix}.{k}"] = _median([s.counters[k] for s in spans])
    return out


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
