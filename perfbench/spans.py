"""Spans recorded around calls into the package's layers.

The package is not modified: ``layers.install`` replaces selected
functions and methods with timing wrappers (``Tracer.wrap_function``,
``Tracer.wrap_method``) for the traced round only, and
``Tracer.uninstall`` puts the originals back.  A module function is also
replaced in every package module that imported it by name, so calls
through ``from x import f`` bindings are timed too.

Spans are kept in memory.  A span's parent is the innermost span open
on the same thread when it started.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict

from stats import self_time

PACKAGE = "mirror_lake_kusto_spark"


class Span:
    __slots__ = ("name", "start", "end", "parent", "children")

    def __init__(self, name: str, start: float, parent: "Span | None"):
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.children: list[Span] = []

    def self_s(self) -> float:
        return self_time(self.start, self.end, [(c.start, c.end) for c in self.children])

    def has_ancestor_in(self, layer: str) -> bool:
        p = self.parent
        while p is not None:
            if layer_of(p.name) == layer:
                return True
            p = p.parent
        return False


def layer_of(span_name: str) -> str:
    return span_name.split(".", 1)[0]


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        #: span name -> hook(tracer, args, kwargs, result) run after the call
        self.on_return: dict[str, object] = {}
        #: (sink method, table path, version) of each traced sink commit
        self.commits: list[tuple[str, str, int]] = []

    # -- recording ---------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _SpanCtx(self, name)

    def count(self, name: str, by: float = 1) -> None:
        with self._lock:
            self.counts[name] += by

    def wrapped(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            hook = tracer.on_return.get(name)
            if hook is not None:
                hook(tracer, args, kwargs, out)
            return out

        return inner

    # -- installing --------------------------------------------------------

    def wrap_function(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)
        new = self.wrapped(name, orig)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            if getattr(mod, attr, None) is orig:
                setattr(mod, attr, new)
                self._undo.append((mod, attr, orig))

    def wrap_method(self, cls, attr: str, name: str) -> None:
        orig = cls.__dict__[attr]
        setattr(cls, attr, self.wrapped(name, orig))
        self._undo.append((cls, attr, orig))

    def uninstall(self) -> None:
        while self._undo:
            obj, attr, orig = self._undo.pop()
            setattr(obj, attr, orig)

    # -- summaries ---------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def layer_spans(self, layer: str) -> list[Span]:
        return [s for s in self.spans if layer_of(s.name) == layer]

    def calls(self, name_or_layer: str) -> int:
        return sum(1 for s in self.spans
                   if s.name == name_or_layer or layer_of(s.name) == name_or_layer)

    def inclusive_s(self, names: list[str]) -> float:
        """Time inside the named spans, counting a span nested in another
        span of the same set once (only the outermost)."""
        chosen = set(names)
        total = 0.0
        for s in self.spans:
            if s.name not in chosen:
                continue
            p = s.parent
            while p is not None and p.name not in chosen:
                p = p.parent
            if p is None:
                total += s.end - s.start
        return total

    def layer_s(self, layer: str) -> float:
        return sum(s.end - s.start for s in self.layer_spans(layer)
                   if not s.has_ancestor_in(layer))

    def layer_self_s(self, layer: str) -> float:
        return sum(s.self_s() for s in self.layer_spans(layer))

    def subtree_self_s(self, root: Span) -> float:
        return root.self_s() + sum(self.subtree_self_s(c) for c in root.children)


class _SpanCtx:
    __slots__ = ("tracer", "name", "span")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        stack = self.tracer._stack()
        parent = stack[-1] if stack else None
        self.span = Span(self.name, time.perf_counter(), parent)
        stack.append(self.span)
        return self.span

    def __exit__(self, *exc):
        span = self.span
        span.end = time.perf_counter()
        self.tracer._stack().pop()
        with self.tracer._lock:
            if span.parent is not None:
                span.parent.children.append(span)
            self.tracer.spans.append(span)
        return False
