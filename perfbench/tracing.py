"""In-memory spans around the engine's public functions.

A span records its name, layer, start, end, parent span and trace id,
plus the Spark job-id counter at both ends. Every op execution opens a
root span with a fresh trace id; spans opened while it runs share it.
Spans stay in memory and are written out when the benchmark ends.

Layer totals come from self time (a span's duration minus the part of
its interval that its children cover) and from the Spark jobs started
while a span of the layer is innermost (its job delta minus its
children's).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import sys
import threading
import time
import types
import uuid
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    trace_id: str
    name: str
    layer: str
    start: float
    end: float = 0.0
    jobs: int = 0


class Tracer:
    """Collects spans; ``job_counter`` returns Spark's next job id."""

    def __init__(self, job_counter=lambda: 0, clock=time.perf_counter):
        self.job_counter = job_counter
        self.clock = clock
        self.spans: list[Span] = []
        self.trace_id = ""
        self._ids = itertools.count(1)
        self._local = threading.local()
        # innermost open span of the thread that opened the trace root;
        # spans opened on other threads (streaming batch callbacks)
        # hang under it
        self._root_stack: list[Span] = []

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def trace(self, name: str, layer: str = "op"):
        """Root span of one op execution, under a fresh trace id."""
        self.trace_id = uuid.uuid4().hex
        self._local.stack = self._root_stack = []
        with self.span(name, layer) as s:
            yield s

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        outer = stack or self._root_stack
        s = Span(
            span_id=next(self._ids),
            parent_id=outer[-1].span_id if outer else None,
            trace_id=self.trace_id,
            name=name,
            layer=layer,
            start=self.clock(),
        )
        j0 = self.job_counter()
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.jobs = self.job_counter() - j0
            s.end = self.clock()
            self.spans.append(s)


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of it its children cover."""
    covered = 0.0
    edge = span.start
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, edge), min(c.end, span.end)
        if hi > lo:
            covered += hi - lo
            edge = hi
    return (span.end - span.start) - covered


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """{layer: {"self_s": ..., "jobs": ...}} over finished spans."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent_id is not None:
            kids.setdefault(s.parent_id, []).append(s)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        ch = kids.get(s.span_id, [])
        row = out.setdefault(s.layer, {"self_s": 0.0, "jobs": 0})
        row["self_s"] += self_time(s, ch)
        row["jobs"] += s.jobs - sum(c.jobs for c in ch)
    return out


def _resolve(module: str, qualname: str):
    obj = importlib.import_module(module)
    for part in qualname.split("."):
        obj = getattr(obj, part)
    return obj


class _Traced:
    """Callable stand-in for a function: runs it inside a span.

    Pickles by reference, like the module-level function it replaces:
    a UDF that closes over a traced helper ships a reference that a
    Python worker resolves to its own, untraced import."""

    def __init__(self, fn, layer: str, tracer: Tracer):
        functools.update_wrapper(self, fn)
        self._layer = layer
        self._tracer = tracer
        self._name = f"{fn.__module__}.{fn.__qualname__}"

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name, self._layer):
            return self.__wrapped__(*args, **kwargs)

    def __get__(self, obj, owner=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return (_resolve, (self.__module__, self.__qualname__))


def _public_functions(mod: types.ModuleType):
    """(owner, attribute, function) for the public functions defined in
    ``mod`` and the public methods of the public classes defined there."""
    for name, obj in list(vars(mod).items()):
        if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
            continue
        if inspect.isfunction(obj):
            yield mod, name, obj
        elif inspect.isclass(obj):
            for mname, m in list(vars(obj).items()):
                if not mname.startswith("_") and inspect.isfunction(m):
                    yield obj, mname, m


def instrument(layers: dict[str, list[types.ModuleType]], tracer: Tracer,
               rebind_prefixes: tuple[str, ...]):
    """Wrap every public function of each layer's modules in a span.

    A wrapped function replaces every module-level reference to the
    same function object in the loaded modules whose names start with
    one of ``rebind_prefixes``: callers that bound it with
    ``from module import name`` see the wrapper too. Returns a callable
    that restores the originals."""
    wrapped: dict[int, tuple[object, _Traced]] = {}
    undo: list[tuple[object, str, object]] = []
    for layer, mods in layers.items():
        for mod in mods:
            for owner, attr, fn in _public_functions(mod):
                if id(fn) not in wrapped:
                    wrapped[id(fn)] = (fn, _Traced(fn, layer, tracer))
                undo.append((owner, attr, fn))
                setattr(owner, attr, wrapped[id(fn)][1])
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(rebind_prefixes):
            continue
        for attr, val in list(vars(mod).items()):
            hit = wrapped.get(id(val))
            if hit is not None and hit[0] is val:
                undo.append((mod, attr, val))
                setattr(mod, attr, hit[1])

    def restore() -> None:
        for owner, attr, fn in reversed(undo):
            setattr(owner, attr, fn)

    return restore
