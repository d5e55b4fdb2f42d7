"""In-memory span tracer for the benchmark's traced runs.

A span records (id, name, start, end, parent, run id). The parent is the
innermost span open on the same thread; a span opened on a thread with no
open span (a foreachBatch callback, a reader thread) hangs under the
innermost open *root* span instead, so every layer call lands under the
phase it ran in. Spans are kept in memory and written once, at the end.

Self time is a span's duration minus the part of its interval that its
children cover (children on different threads may overlap, so the covered
part is the union of their intervals, clipped to the parent).
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
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
    run_id: str


class Tracer:
    """Collects spans; ``enabled=False`` makes every span a no-op."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._roots: list[int] = []
        self.cost_s = 0.0
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, root: bool = False):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
            parent = stack[-1] if stack else (self._roots[-1] if self._roots else None)
            if root:
                self._roots.append(sid)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                if root:
                    self._roots.remove(sid)
                self.spans.append(Span(sid, name, start, end, parent, self.run_id))
                # the tracer's own time around this span: its overhead
                self.cost_s += (start - t_in) + (time.perf_counter() - end)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a function or method) by a spanned call."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self._patched.append((owner, attr, owner.__dict__.get(attr, fn)))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        """Undo every :meth:`wrap`, newest first."""
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


def by_name(spans: list[Span]) -> dict[str, list[Span]]:
    out: dict[str, list[Span]] = {}
    for s in spans:
        out.setdefault(s.name, []).append(s)
    return out
