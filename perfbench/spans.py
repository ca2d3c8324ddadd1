"""Traced-run plumbing: wrap the engine's layer entry points from outside,
record one span per call, and derive per-layer self time.

A span is (id, name, start, end, parent, op id, attrs). Spans stay in
memory and are written out once, when the run ends. Wrapping replaces the
function object wherever callers look it up: every ``starlake_spark``
module attribute bound to it (including names re-exported or imported
with ``from x import f``) and, for methods, the owning class's attribute.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans while ``active`` is true; a disabled tracer's
    wrappers cost one attribute check per call."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.op: int | None = None
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, time.perf_counter(), 0.0, parent,
                  self.op, dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def paused(self):
        """Run benchmark bookkeeping without recording it as layer work."""
        was, self.active = self.active, False
        try:
            yield
        finally:
            self.active = was

    def _wrapper(self, name: str, fn, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, out)
                return out

        wrapped.__wrapped_by_perfbench__ = True
        return wrapped

    def wrap_function(self, module, attr: str, name: str, on_result=None) -> None:
        """Replace ``module.attr`` and every other loaded starlake_spark
        module attribute bound to the same function object."""
        orig = getattr(module, attr)
        wrapped = self._wrapper(name, orig, on_result)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith("starlake_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._patches.append((mod, key, val))
                    setattr(mod, key, wrapped)

    def wrap_method(self, cls, attr: str, name: str, on_result=None) -> None:
        """Replace a method in ``cls.__dict__``, keeping staticmethod and
        classmethod descriptors intact."""
        raw = cls.__dict__[attr]
        if isinstance(raw, staticmethod):
            new = staticmethod(self._wrapper(name, raw.__func__, on_result))
        elif isinstance(raw, classmethod):
            new = classmethod(self._wrapper(name, raw.__func__, on_result))
        else:
            new = self._wrapper(name, raw, on_result)
        self._patches.append((cls, attr, raw))
        setattr(cls, attr, new)

    def uninstall(self) -> None:
        for owner, key, val in reversed(self._patches):
            setattr(owner, key, val)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.id, "name": s.name, "start": s.start,
                                    "end": s.end, "parent": s.parent, "op": s.op,
                                    "attrs": s.attrs}) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_s = cur_e = None
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
    """Per span: its duration minus the part its direct children cover
    (children are clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    return {s.id: (s.end - s.start) - _covered(kids.get(s.id, [])) for s in spans}


def has_ancestor(span: Span, name: str, by_id: dict[int, Span]) -> bool:
    p = span.parent
    while p is not None:
        ps = by_id[p]
        if ps.name == name:
            return True
        p = ps.parent
    return False
