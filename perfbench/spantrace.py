"""Spans around the calls into each layer, recorded from outside.

``Tracer.install()`` wraps every public function defined in the layer
modules and rebinds every name in the package that refers to one of
them (``driver_queries`` imported many at module load), so calls made
through module globals, ``from x import f`` bindings and function-local
imports all pass through a wrapper. Each wrapper records a span (name,
start, end, parent span, slot) and labels the Spark jobs submitted on
its thread with the span id through the ``spark.job.description``
local property, so the status store can attribute jobs to the
innermost layer call. Spans stay in memory until the run writes them.

Functions that return lazy DataFrames only record their build time;
the jobs they describe run later, inside the slot's sink span.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import sys
import threading
import time
from dataclasses import dataclass

from helpers import self_time
from spec import LAYER_MODULES

PACKAGE = "mpg_data_warehouse_spark"


DESC_KEY = "spark.job.description"
TAG_PREFIX = "perfbench-span:"


@dataclass
class Span:
    sid: int
    module: str
    name: str
    start: float
    end: float
    parent: int | None
    slot: str | None


class Tracer:
    """Records spans for one benchmark run; ``install`` / ``uninstall``
    swap the wrappers in and out of the package's namespaces."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.slot: str | None = None
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._swapped: list[tuple[object, str, object]] = []

    # -- span bookkeeping ---------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _charge(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    def enter(self, module: str, name: str):
        """Open a span on this thread; returns the token ``leave`` needs."""
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        prev = self.sc.getLocalProperty(DESC_KEY)
        self.sc.setLocalProperty(DESC_KEY, f"{TAG_PREFIX}{sid}")
        stack.append(sid)
        t0 = time.perf_counter()
        self._charge(t0 - t_in)
        return (sid, module, name, parent, prev, t0)

    def leave(self, token) -> None:
        t1 = time.perf_counter()
        sid, module, name, parent, prev, t0 = token
        self._stack().pop()
        self.sc.setLocalProperty(DESC_KEY, prev)
        span = Span(sid, module, name, t0, t1, parent, self.slot)
        with self._lock:
            self.spans.append(span)
        self._charge(time.perf_counter() - t1)

    @contextlib.contextmanager
    def span(self, module: str, name: str):
        token = self.enter(module, name)
        try:
            yield
        finally:
            self.leave(token)

    # -- wrapping -------------------------------------------------------

    def _wrap(self, module: str, fn):
        tracer = self

        if module == "concurrency" and fn.__name__ == "await_all":
            # Legs run on pool threads: seed each leg's span stack and
            # job label with the await_all span, so leg spans nest under
            # it and leg jobs carry its id.
            @functools.wraps(fn)
            def traced_await_all(*thunks):
                token = tracer.enter(module, fn.__name__)
                try:
                    return fn(*(tracer._leg(token[0], t) for t in thunks))
                finally:
                    tracer.leave(token)

            return traced_await_all

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            token = tracer.enter(module, fn.__name__)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.leave(token)

        return traced

    def _leg(self, parent_sid: int, thunk):
        tracer = self

        def leg():
            stack = tracer._stack()
            stack.append(parent_sid)
            prev = tracer.sc.getLocalProperty(DESC_KEY)
            tracer.sc.setLocalProperty(DESC_KEY, f"{TAG_PREFIX}{parent_sid}")
            try:
                return thunk()
            finally:
                tracer.sc.setLocalProperty(DESC_KEY, prev)
                stack.pop()

        return leg

    def install(self) -> None:
        """Wrap the layer modules' public functions and rebind every
        package name that refers to one of them."""
        wrappers: dict[int, object] = {}
        for short in LAYER_MODULES:
            mod = importlib.import_module(f"{PACKAGE}.{short}")
            for name, obj in list(vars(mod).items()):
                if (
                    inspect.isfunction(obj)
                    and not name.startswith("_")
                    and obj.__module__ == mod.__name__
                ):
                    wrappers[id(obj)] = self._wrap(short, obj)
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (
                mname == PACKAGE or mname.startswith(PACKAGE + ".")
            ):
                continue
            for attr, val in list(vars(mod).items()):
                w = wrappers.get(id(val))
                if w is not None:
                    self._swapped.append((mod, attr, val))
                    setattr(mod, attr, w)

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self._swapped):
            setattr(mod, attr, original)
        self._swapped.clear()


def module_self_times(spans: list[Span]) -> dict[str, float]:
    """Per-module self time: each span's duration minus the union of its
    children's intervals, summed by module."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        st = self_time(s.start, s.end, children.get(s.sid, ()))
        out[s.module] = out.get(s.module, 0.0) + st
    return out
