"""Spans around calls into the engine's layers, recorded from outside.

A traced run wraps every function and method defined in the layer
modules below, so each call into a layer opens a span named
``<layer>:<function>``.  Calls the package makes through module globals
(``etl.run_all`` calling ``load_bills``, ``load_donations`` calling
``fec.read_itcont``) pass through the wrappers too, so spans nest by the
package's own call structure.  Spans live in memory and are written once
at the end of the run.

A layer's self time is the time its spans cover minus the part of that
interval their child spans cover.

Engine counts (jobs, stages and tasks) are read per operation through a
job group and ``statusTracker()``; they need no Spark UI.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import sys
import threading
import time

PKG = "politician_etl_project_spark"

# module -> layer name used in span names and per-layer metrics
LAYER_MODULES = {
    f"{PKG}.metrics": "metrics",
    f"{PKG}.etl": "etl",
    f"{PKG}.sources.members": "sources",
    f"{PKG}.sources.bills_xml": "sources",
    f"{PKG}.sources.votes_json": "sources",
    f"{PKG}.sources.fec": "sources",
    f"{PKG}.sources.committees_yaml": "sources",
    f"{PKG}.storage": "storage",
    f"{PKG}.operators.upsert": "operators.upsert",
    f"{PKG}.operators.similarity": "operators.similarity",
    f"{PKG}.rag": "rag",
}
# "bench" spans are the benchmark's own operations (a request, a load);
# "engine" spans are actions the benchmark runs on a returned DataFrame.
LAYERS = ["bench", "engine", *sorted(set(LAYER_MODULES.values()))]


class Span:
    __slots__ = ("idx", "layer", "name", "parent", "op", "start", "end")

    def __init__(self, idx, layer, name, parent, op):
        self.idx, self.layer, self.name, self.parent, self.op = idx, layer, name, parent, op
        self.start = self.end = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"name": f"{self.layer}:{self.name}", "start": self.start, "end": self.end,
                "parent": self.parent, "op": self.op}


class Tracer:
    """Collects spans; with ``enabled=False`` every span is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._tls = threading.local()

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextlib.contextmanager
    def span(self, layer: str, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = parent.op
        with self._lock:
            s = Span(len(self.spans), layer, name, parent.idx if parent else None, op)
            self.spans.append(s)
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[str, tuple[float, int]]:
        """layer -> (self seconds, span count)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {layer: (0.0, 0) for layer in LAYERS}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(children.get(s.idx, ()), key=lambda c: c.start):
                a, b = max(c.start, s.start), min(c.end, s.end)
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            t, n = out.get(s.layer, (0.0, 0))
            out[s.layer] = (t + s.dur - covered, n + 1)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.as_dict() for s in self.spans], fh)


def instrument(tracer: Tracer):
    """Wrap every function and method defined in the layer modules and
    rebind each reference to them inside the package.  Returns a callable
    that undoes it."""
    wrapped: dict[int, tuple[object, object]] = {}

    def wrap(fn, layer: str, name: str):
        @functools.wraps(fn)
        def w(*a, **kw):
            with tracer.span(layer, name):
                return fn(*a, **kw)
        wrapped[id(fn)] = (fn, w)
        return w

    patched: list[tuple[object, str, object]] = []
    for modname, layer in LAYER_MODULES.items():
        mod = importlib.import_module(modname)
        short = modname.rsplit(".", 1)[-1]
        for name, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and obj.__module__ == modname:
                wrap(obj, layer, f"{short}.{name}")
            elif inspect.isclass(obj) and obj.__module__ == modname:
                for mname, m in list(vars(obj).items()):
                    if inspect.isfunction(m) and not mname.startswith("__"):
                        patched.append((obj, mname, m))
                        setattr(obj, mname, wrap(m, layer, f"{short}.{name}.{mname}"))
    for mod in [m for k, m in list(sys.modules.items()) if k == PKG or k.startswith(PKG + ".")]:
        for name, obj in list(vars(mod).items()):
            hit = wrapped.get(id(obj))
            if hit is not None and hit[0] is obj:
                patched.append((mod, name, obj))
                setattr(mod, name, hit[1])

    def undo():
        for owner, name, orig in reversed(patched):
            setattr(owner, name, orig)

    return undo


class EngineCounter:
    """Exact per-operation job/stage/task counts through job groups."""

    def __init__(self, sc):
        self.sc = sc
        self.per_op: list[tuple[str, int, int, int]] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def op(self, op_id: str):
        self.sc.setJobGroup(op_id, op_id, interruptOnCancel=False)
        try:
            yield
        finally:
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(op_id)
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
            with self._lock:
                self.per_op.append((op_id, len(jobs), stages, tasks))

    def means(self) -> tuple[float, float, float]:
        n = max(1, len(self.per_op))
        return tuple(sum(r[i] for r in self.per_op) / n for i in (1, 2, 3))


class NoCounter:
    @contextlib.contextmanager
    def op(self, op_id: str):
        yield
