"""Span recording for the traced benchmark run.

Spans are recorded from the benchmark's own process, around calls into
the engine's public functions: ``Tracer.wrap`` replaces a module or
class attribute with a timing wrapper, so calls the engine makes
through that attribute (``mf.collect_file_infos``, ``Table.commit``,
the step functions ``run_maintenance`` looks up in its module, ...)
land as child spans of whatever span is open. No engine source is
changed.

A span is ``{id, op, name, parent, start, end, thread, attrs}`` with
times in seconds on the ``time.perf_counter`` clock. Spans of one
top-level operation share ``op``. Calls made on a driver thread with no
open span of its own (compaction bins run on a thread pool) are
parented to the innermost span open on the main thread.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def subtract(interval, others) -> list:
    """``interval`` minus the union of ``others``, as disjoint pieces."""
    s0, e0 = interval
    pieces = []
    cur = s0
    for s, e in sorted(others):
        s, e = max(s, s0), min(e, e0)
        if e <= s or e <= cur:
            continue
        if s > cur:
            pieces.append((cur, s))
        cur = e
    if cur < e0:
        pieces.append((cur, e0))
    return pieces


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.op: str | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[dict] = []
        self._next_id = 0
        # perf_counter - wall clock, to place epoch-ms timestamps
        # (compaction lineage) on the span clock
        self.wall_offset = time.perf_counter() - time.time()

    def _stack(self) -> list:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _parent_id(self, stack: list):
        if stack:
            return stack[-1]["id"]
        if self._main_stack:
            return self._main_stack[-1]["id"]
        return None

    def add(self, name: str, start: float, end: float, parent=None, **attrs) -> dict:
        """Record a finished span (e.g. a compaction bin from lineage)."""
        with self._lock:
            self._next_id += 1
            span = {
                "id": self._next_id,
                "op": self.op,
                "name": name,
                "parent": parent,
                "start": start,
                "end": end,
                "thread": threading.current_thread().name,
                "attrs": attrs,
            }
            self.spans.append(span)
        return span

    def open(self, name: str, **attrs) -> dict | None:
        if not self.enabled:
            return None
        stack = self._stack()
        span = self.add(name, time.perf_counter(), None, self._parent_id(stack), **attrs)
        stack.append(span)
        return span

    def close(self, span: dict | None, **attrs) -> None:
        if span is None:
            return
        span["end"] = time.perf_counter()
        span["attrs"].update(attrs)
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        span = self.open(name, **attrs)
        try:
            yield span
        finally:
            self.close(span)

    @contextlib.contextmanager
    def paused(self):
        """Record nothing inside (measurements the benchmark makes for
        itself, on the main thread while no engine call is running)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` (a module function or a method) with a
        wrapper that records a span named ``name`` per call.
        ``before(args, kwargs)`` runs ahead of the call;
        ``after(ctx, span, args, kwargs, result)`` runs once the span has
        ended and returns attributes to attach."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            ctx = before(args, kwargs) if before else None
            span = tracer.open(name)
            try:
                result = fn(*args, **kwargs)
            except BaseException:
                tracer.close(span, error=True)
                raise
            tracer.close(span)
            if after:
                span["attrs"].update(after(ctx, span, args, kwargs, result) or {})
            return result

        setattr(owner, attr, wrapper)

    # ------------------------------------------------------------------
    # analysis
    def self_times(self) -> dict:
        """span id -> self-time pieces: the span's interval minus the
        union of its children's intervals (never their sum — children
        on parallel threads overlap)."""
        children: dict = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {
            s["id"]: subtract((s["start"], s["end"]), children.get(s["id"], []))
            for s in self.spans
        }

    def check_self_le_wall(self, pieces: dict) -> list:
        """Spans whose self time exceeds their wall time (must be none)."""
        bad = []
        for s in self.spans:
            self_t = sum(e - b for b, e in pieces[s["id"]])
            if self_t > (s["end"] - s["start"]) + 1e-9 or self_t < 0:
                bad.append(s["name"])
        return bad

    def layer_table(self, pieces: dict) -> dict:
        """name -> {calls, busy_ms, self_ms, sum_ms}. Busy and self time
        are unions over the layer's spans, so concurrent calls of one
        layer never count the same wall-clock instant twice."""
        by_name: dict = {}
        for s in self.spans:
            by_name.setdefault(s["name"], []).append(s)
        out = {}
        for name, spans in sorted(by_name.items()):
            out[name] = {
                "calls": len(spans),
                "busy_ms": 1000 * union_length((s["start"], s["end"]) for s in spans),
                "self_ms": 1000 * union_length(p for s in spans for p in pieces[s["id"]]),
                "sum_ms": 1000 * sum(s["end"] - s["start"] for s in spans),
            }
        return out
