"""Span self time, and patching a function where its callers look it up."""

import sys
import types

from spans import Span, Tracer, has_ancestor, self_times


def _span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, op=0)


def test_self_time_subtracts_children():
    spans = [_span(0, "op", 0.0, 10.0),
             _span(1, "a", 1.0, 4.0, 0),
             _span(2, "b", 5.0, 6.0, 0),
             _span(3, "c", 2.0, 3.0, 1)]
    st = self_times(spans)
    assert st == {0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0}


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, "op", 0.0, 10.0),
             _span(1, "a", 1.0, 5.0, 0),
             _span(2, "b", 3.0, 7.0, 0),
             _span(3, "c", 9.0, 12.0, 0)]  # clipped to the parent's end
    assert self_times(spans)[0] == 10.0 - 6.0 - 1.0


def test_has_ancestor():
    spans = [_span(0, "x", 0, 3), _span(1, "y", 0, 2, 0), _span(2, "x", 0, 1, 1)]
    by_id = {s.id: s for s in spans}
    assert has_ancestor(spans[2], "x", by_id)
    assert not has_ancestor(spans[0], "x", by_id)


def test_wrap_function_patches_every_alias(monkeypatch):
    lib = types.ModuleType("starlake_spark._perfbench_lib")
    user = types.ModuleType("starlake_spark._perfbench_user")
    exec("def f(x):\n    return x + 1\n", lib.__dict__)
    user.g = lib.f  # a caller that did `from lib import f as g`
    monkeypatch.setitem(sys.modules, lib.__name__, lib)
    monkeypatch.setitem(sys.modules, user.__name__, user)
    t = Tracer()
    t.wrap_function(lib, "f", "lib.f")
    t.active = True
    assert lib.f(1) == 2 and user.g(2) == 3
    assert [s.name for s in t.spans] == ["lib.f", "lib.f"]
    t.active = False
    assert lib.f(3) == 4 and len(t.spans) == 2  # inactive: no span
    t.uninstall()
    assert not hasattr(lib.f, "__wrapped_by_perfbench__")
    assert not hasattr(user.g, "__wrapped_by_perfbench__")


def test_wrap_method_keeps_staticmethod():
    class C:
        @staticmethod
        def s(x):
            return x * 2

        def m(self):
            return C.s(5)

    t = Tracer()
    t.wrap_method(C, "s", "C.s")
    t.wrap_method(C, "m", "C.m")
    t.active = True
    assert C().m() == 10
    names = [(s.name, s.parent) for s in t.spans]
    assert names == [("C.m", None), ("C.s", 0)]
    t.uninstall()
    assert isinstance(C.__dict__["s"], staticmethod)


def test_dump_writes_one_json_line_per_span(tmp_path):
    t = Tracer()
    t.active = True
    t.op = 7
    with t.span("outer"):
        with t.span("inner", k=1):
            pass
    path = tmp_path / "spans.jsonl"
    t.dump(str(path))
    lines = path.read_text().splitlines()
    assert len(lines) == 2 and '"op": 7' in lines[0] and '"k": 1' in lines[1]
