"""Span tracing for the traced run, from outside the program.

``Tracer.wrap`` replaces a public function (class or module attribute)
with a wrapper that records a span: name, start, end, parent, op. While
a span of a Spark-facing module is open, the wrapper sets the
``perfbench.span`` local property, so Spark records in the event log
which traced call launched each job. Spans stay in memory until the run
ends.

Self time of a span is its duration minus the part that its child spans
and the Spark jobs cover (interval union, so overlapping children or
jobs are not subtracted twice).
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from eventlog import SPAN_PROPERTY


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    info: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def layer_of(name: str) -> str:
    if name.startswith("sources.objects"):
        return "sources.objects"
    return name.split(".", 1)[0]


# ---------------------------------------------------------------------------
# interval arithmetic
# ---------------------------------------------------------------------------

def union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for lo, hi in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if out and lo <= out[-1][1]:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return [(a, b) for a, b in out]


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` inside [lo, hi]."""
    clipped = [(max(a, lo), min(b, hi)) for a, b in intervals]
    return sum(b - a for a, b in union(clipped))


def self_time(lo: float, hi: float, children, jobs) -> float:
    return (hi - lo) - covered(list(children) + list(jobs), lo, hi)


# ---------------------------------------------------------------------------
# tracer
# ---------------------------------------------------------------------------

class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.sc = None  # SparkContext; set once a session exists
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, *, op: bool = False, tag_jobs: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sp = Span(len(self.spans), name, time.time(),
                      parent=parent.sid if parent else None,
                      op=parent.op if parent else None)
            self.spans.append(sp)
        if op:
            sp.op = sp.sid
        prev = None
        sc = self.sc if tag_jobs else None
        if sc is not None:
            prev = sc.getLocalProperty(SPAN_PROPERTY)
            sc.setLocalProperty(SPAN_PROPERTY, name)
            sp.info["tag"] = True
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(SPAN_PROPERTY, prev)
            sp.end = time.time()

    def add_span(self, name: str, start: float, end: float, *, op: bool = False) -> Span:
        """A span timed elsewhere (a streaming trigger from its progress)."""
        with self._lock:
            sp = Span(len(self.spans), name, start, end)
            self.spans.append(sp)
        if op:
            sp.op = sp.sid
        return sp

    def wrap(self, owner, attr: str, name: str, *, tag_jobs: bool = True,
             on_result=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(name, tag_jobs=tag_jobs) as sp:
                res = orig(*a, **kw)
                if on_result is not None:
                    on_result(sp, res)
                return res

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def attach_orphans(self) -> None:
        """Spans opened on threads with no open span (the HTTP server's
        handler thread, the streaming foreachBatch callback) get the op
        span whose interval holds their start as parent."""
        ops = [s for s in self.spans if s.op == s.sid]
        for s in self.spans:
            if s.parent is not None or s.op is not None:
                continue
            for o in ops:
                if o.start <= s.start <= o.end:
                    s.parent, s.op = o.sid, o.sid
                    break
        # descendants of re-parented spans inherit the op
        by_id = {s.sid: s for s in self.spans}
        for s in self.spans:
            if s.op is None and s.parent is not None:
                p = by_id[s.parent]
                while p.op is None and p.parent is not None:
                    p = by_id[p.parent]
                s.op = p.op


def self_times(spans: list[Span], job_intervals) -> dict[int, float]:
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    jobs = list(job_intervals)
    return {s.sid: self_time(s.start, s.end, children.get(s.sid, []), jobs)
            for s in spans}


def calibrate_overhead(n: int = 2000) -> float:
    """Seconds one traced call adds without a Spark round trip."""
    tr = Tracer()

    class Box:
        @staticmethod
        def f():
            return None

    plain = time.perf_counter()
    for _ in range(n):
        Box.f()
    plain = time.perf_counter() - plain
    tr.wrap(Box, "f", "cal.f", tag_jobs=False)
    traced = time.perf_counter()
    for _ in range(n):
        Box.f()
    traced = time.perf_counter() - traced
    return max(traced - plain, 0.0) / n
