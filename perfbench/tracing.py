"""Spans recorded from outside the engine, by wrapping its public
functions.

``Tracer.patch`` replaces a module attribute with a timing wrapper and
also rebinds every ``presto_0_235_spark`` module attribute that holds
the same function object, which catches names query modules bound with
``from ... import``. Spans (name, start, end, parent, query id) stay in
memory and are written out once, at exit. A layer is the first dotted
component of a span name; a span's self time is its duration minus the
part of it that its child spans cover.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    qid: str | None
    info: dict | None = None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = True
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def qid(self) -> str | None:
        return getattr(self._local, "qid", None)

    @qid.setter
    def qid(self, value: str | None) -> None:
        self._local.qid = value

    def begin(self, name: str, info: dict | None = None) -> int | None:
        if not self.enabled:
            return None
        stack = self._stack()
        span = Span(name, time.perf_counter(), 0.0,
                    stack[-1] if stack else None, self.qid, info)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
        stack.append(idx)
        return idx

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    def abort(self) -> None:
        """Close this thread's open spans now (after an exception)."""
        now = time.perf_counter()
        stack = self._stack()
        while stack:
            self.spans[stack.pop()].end = now
        self.qid = None

    def parent_name(self) -> str | None:
        stack = self._stack()
        return self.spans[stack[-1]].name if stack else None

    # -- wrapping -------------------------------------------------------
    def wrap(self, fn, name, info=None):
        """``name`` is a span name or a callable (args, kwargs) -> name;
        ``info`` an optional callable (args, kwargs) -> dict kept on the
        span."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            span_name = name(args, kwargs) if callable(name) else name
            idx = tracer.begin(span_name, info(args, kwargs) if info else None)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)

        traced.__wrapped_by_tracer__ = fn
        return traced

    def patch(self, owner, attr: str, name, info=None, around=None) -> None:
        """Wrap ``owner.attr`` (or ``around``, a stand-in that calls it)
        in spans named ``name``, everywhere the engine bound it."""
        original = getattr(owner, attr)
        wrapper = self.wrap(around or original, name, info)
        self._set(owner, attr, wrapper)
        if inspect.isclass(owner):
            return
        for mod_name, mod in list(sys.modules.items()):
            if (mod is None or mod is owner
                    or not mod_name.startswith("presto_0_235_spark")):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    self._set(mod, key, wrapper)

    def patch_module_functions(self, module, prefix: str) -> None:
        """Wrap every public function defined in ``module``."""
        for key, value in list(vars(module).items()):
            if (inspect.isfunction(value) and not key.startswith("_")
                    and value.__module__ == module.__name__
                    and not hasattr(value, "__wrapped_by_tracer__")):
                self.patch(module, key, f"{prefix}.{key}")

    def _set(self, owner, attr, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "qid": s.qid, "info": s.info,
                }) + "\n")


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
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


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals
    (clipped to the span)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids[s.parent].append((lo, hi))
    return [max(0.0, (s.end - s.start) - _covered(kids.get(i, [])))
            for i, s in enumerate(spans)]


def layer_self_times(spans: list[Span]) -> dict[str, dict[str, float]]:
    """qid -> layer -> self seconds over the spans of each query.

    Spans carry a query id only inside the query's root span, so per
    query the layer self times sum to the root span's duration.
    """
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for i, s in enumerate(spans):
        if s.qid is None:
            continue
        out[s.qid][layer_of(s.name)] += selfs[i]
    return out
