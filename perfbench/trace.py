"""In-memory span recorder for the traced benchmark run.

A span is (name, start, end, parent, run id).  Spans are recorded around
calls into the engine's public functions from the benchmark's own code:
no module of the engine is edited; :meth:`Tracer.patch` swaps a module
attribute for a timing wrapper and :meth:`Tracer.restore` puts it back.

Self time is a span's duration minus the part of it covered by its
children, so nested substrate builds (a ``cached`` build that calls
``materialized`` that calls ``plan_checkpoint``) are not counted twice.
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    attrs: dict


class Tracer:
    """Collects spans per thread-local parent stack; thread safe."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, **attrs) -> "_SpanCtx":
        return _SpanCtx(self, name, attrs)

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> Span:
        """Record an already-measured interval (e.g. from Spark progress)."""
        with self._lock:
            sid = self._next
            self._next += 1
            sp = Span(sid, name, start, end, parent, self.run_id, attrs)
            self.spans.append(sp)
        return sp

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` to ``replacement`` until :meth:`restore`."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


class _SpanCtx:
    __slots__ = ("tracer", "name", "attrs", "sid", "start")

    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        tr = self.tracer
        with tr._lock:
            self.sid = tr._next
            tr._next += 1
        self.start = time.perf_counter()
        tr._stack().append(self.sid)
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        tr = self.tracer
        st = tr._stack()
        st.pop()
        parent = st[-1] if st else None
        with tr._lock:
            tr.spans.append(Span(self.sid, self.name, self.start, end,
                                 parent, tr.run_id, self.attrs))
        return False


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
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
    """Span id -> duration minus the union of its direct children."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {sp.sid: (sp.end - sp.start)
            - _covered(kids.get(sp.sid, []), sp.start, sp.end)
            for sp in spans}


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for sp in spans:
        out[sp.name] = out.get(sp.name, 0.0) + st[sp.sid]
    return out


def count_by_name(spans: list[Span]) -> dict[str, int]:
    out: dict[str, int] = {}
    for sp in spans:
        out[sp.name] = out.get(sp.name, 0) + 1
    return out
