"""In-memory spans around the calls the benchmark makes into each layer.

A span has a name, a start and an end, the span that caused it and the id of
the operation it belongs to. Spans are kept in a list and written out when the
run ends. Layer functions the benchmark does not call itself (the ones
``run_pipeline`` calls from its worker threads) are wrapped by replacing the
module attribute for the length of the run; the wrappers live here, the
engine's files are untouched.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float  # perf_counter seconds
    end: float
    parent: int | None
    op: int
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover.
    Children that ran in parallel (worker threads) are counted once, by the
    union of their intervals clipped to the parent's."""
    by_id = {s.id: s for s in spans}
    kids: dict[int, list[tuple[float, float]]] = {s.id: [] for s in spans}
    for s in spans:
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None:
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids[p.id].append((lo, hi))
    return {s.id: s.dur - union_length(kids[s.id]) for s in spans}


class Tracer:
    """Span recorder. ``enabled=False`` makes every call a no-op, so traced
    and untraced passes run the same code."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 1
        self._op_stack: list[Span] = []  # stack of the thread that opened the op
        self._patched: list[tuple[object, str, object]] = []
        # perf_counter -> epoch, to line spans up with Spark's event log
        self.epoch0 = time.time() - time.perf_counter()

    def epoch_ms(self, t: float) -> float:
        return (self.epoch0 + t) * 1000.0

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, **attrs) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:  # a worker thread: attach to the innermost span open in the op's thread
            parent = self._op_stack[-1] if self._op_stack else None
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        op = parent.op if parent is not None else sid
        span = Span(sid, name, time.perf_counter(), 0.0, parent.id if parent else None, op, attrs)
        stack.append(span)
        if parent is None:
            self._op_stack = stack
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        stack = self._stack()
        if span in stack:
            stack.remove(span)
        if not stack and stack is self._op_stack:
            self._op_stack = []
        with self._lock:
            self.spans.append(span)

    def span(self, name: str, **attrs) -> "_SpanCtx":
        return _SpanCtx(self, name, attrs)

    def patch(self, module: object, attr: str, new: object) -> None:
        """Set ``module.attr`` to ``new`` until ``unwrap_all``."""
        self._patched.append((module, attr, getattr(module, attr)))
        setattr(module, attr, new)

    def wrap(self, module: object, attr: str, name: str, attrs_fn=None) -> None:
        """Replace ``module.attr`` by a span-recording wrapper until
        ``unwrap_all``; ``attrs_fn(*args, **kw)`` names the call's attributes."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kw):
            sp = self.begin(name, **(attrs_fn(*args, **kw) if attrs_fn and self.enabled else {}))
            try:
                return fn(*args, **kw)
            finally:
                self.end(sp)

        self.patch(module, attr, wrapper)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total seconds and self seconds."""
        selfs = self_times(self.spans)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            row = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += s.dur
            row["self_s"] += selfs[s.id]
        return out

    def dump(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [{**asdict(s), "self": selfs[s.id]} for s in self.spans]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        self.span = self.tracer.begin(self.name, **self.attrs)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer.end(self.span)
