"""In-memory spans around the public functions of each layer.

The benchmark never edits the program: it replaces module attributes
with ``Traced`` wrappers for the length of a traced run and puts the
originals back afterwards. A wrapper records one span per call (name,
start, end, parent span, trace id) and otherwise calls straight
through. Spans stay in memory; ``write`` dumps them as JSON lines at
the end of the run.

Self time of a span is its duration minus the time its child spans
cover. Spans opened on a thread with no open span of its own (the
``foreachBatch`` callback thread of a stream) take the main thread's
innermost open span as parent, so the tree stays whole.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "trace_id", "child_s")

    def __init__(self, sid, name, start, parent, trace_id):
        self.sid, self.name, self.start = sid, name, start
        self.end = None
        self.parent, self.trace_id = parent, trace_id
        self.child_s = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.trace_id = "setup"
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        span = Span(len(self.spans), name, time.perf_counter(),
                    parent.sid if parent else None, self.trace_id)
        self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.remove(span)
        if span.parent is not None:
            self.spans[span.parent].child_s += span.dur

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    # -- wrapping -------------------------------------------------------
    def wrap_function(self, fn, name: str, hook=None) -> None:
        """Replace ``fn`` with a traced wrapper everywhere the program
        binds it (its defining module and every ``from x import fn``).
        ``hook``, if given, has ``enter(name) -> token`` and
        ``exit(name, token)``, called just outside the span."""
        wrapper = Traced(self, fn, name, hook)
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not (mname.startswith("dht11_data_pipeline_spark")
                    or mname == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patched.append((mod, attr, fn))
                    setattr(mod, attr, wrapper)

    def wrap_module(self, module, name: str, hook=None) -> None:
        """Wrap every public function defined in ``module`` under one
        span name (the layer's name)."""
        for attr, val in list(vars(module).items()):
            if (inspect.isfunction(val) and not attr.startswith("_")
                    and val.__module__ == module.__name__):
                self.wrap_function(val, name, hook)

    def is_open(self, name: str) -> bool:
        """True if a span called ``name`` is open on this thread."""
        return any(s.name == name for s in self._stack())

    def restore(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    # -- reading --------------------------------------------------------
    def closed(self) -> list[Span]:
        return [s for s in self.spans if s.end is not None]

    def self_times(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.closed():
            out[s.name] += s.self_s
        return dict(out)

    def totals(self) -> dict[str, tuple[int, float]]:
        """name -> (calls, summed duration) — nested calls of the same
        name count once, by their outermost span."""
        calls: dict[str, int] = defaultdict(int)
        dur: dict[str, float] = defaultdict(float)
        by_id = {s.sid: s for s in self.spans}
        for s in self.closed():
            p = by_id.get(s.parent)
            while p is not None and p.name != s.name:
                p = by_id.get(p.parent)
            if p is None:
                calls[s.name] += 1
                dur[s.name] += s.dur
        return {k: (calls[k], dur[k]) for k in calls}

    def covered(self, t0: float, t1: float) -> float:
        """Seconds of [t0, t1] covered by at least one span."""
        iv = sorted((max(s.start, t0), min(s.end, t1))
                    for s in self.closed() if s.end > t0 and s.start < t1)
        total, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.closed():
                fh.write(json.dumps({
                    "id": s.sid, "name": s.name, "trace": s.trace_id,
                    "parent": s.parent, "start": round(s.start, 6),
                    "end": round(s.end, 6), "self_s": round(s.self_s, 6),
                }) + "\n")


class Traced:
    """Callable stand-in for a program function. It pickles as a
    reference to the module attribute it replaced, so a closure shipped
    to a Python worker imports the original function there."""

    def __init__(self, tracer: Tracer, fn, name: str, hook=None):
        functools.update_wrapper(self, fn)
        self._tracer, self._fn, self._name, self._hook = tracer, fn, name, hook

    def __call__(self, *args, **kwargs):
        token = self._hook.enter(self._name) if self._hook else None
        span = self._tracer.open(self._name)
        try:
            return self._fn(*args, **kwargs)
        finally:
            self._tracer.close(span)
            if self._hook:
                self._hook.exit(self._name, token)

    def __reduce__(self):
        return self.__qualname__
