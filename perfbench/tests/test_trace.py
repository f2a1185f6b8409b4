"""Span self-time arithmetic, the rebinding of patched functions, and
the order of patching and warm-up in the traced run."""

from __future__ import annotations

import itertools
import sys
import types

import pytest

from perfbench import trace, worker
from perfbench.trace import Span, Tracer


def _span(i, start, end, parent=None, name="x.y"):
    return Span(i, name, start, end, parent, None)


def test_self_time_subtracts_children():
    spans = [_span(0, 0, 10, name="op.q"),
             _span(1, 1, 4, 0, "sources.load"),
             _span(2, 5, 9, 0, "spark.execute"),
             _span(3, 2, 3, 1, "sources.inner")]
    st = trace.self_times(spans)
    assert st == {0: pytest.approx(3), 1: pytest.approx(2),
                  2: pytest.approx(4), 3: pytest.approx(1)}
    by = trace.self_time_by_layer(spans)
    assert by == {"op": pytest.approx(3), "sources": pytest.approx(3),
                  "spark": pytest.approx(4)}
    # self times of a tree add up to the root's wall time
    assert sum(st.values()) == pytest.approx(10)


def test_overlapping_children_count_once_and_are_clipped():
    spans = [_span(0, 0, 10),
             _span(1, 2, 6, 0), _span(2, 4, 8, 0),  # overlap on [4, 6]
             _span(3, 9, 12, 0)]                     # runs past the parent
    assert trace.self_times(spans)[0] == pytest.approx(10 - 6 - 1)


def test_union_length():
    spans = [_span(0, 0, 2), _span(1, 1, 3), _span(2, 5, 6)]
    assert trace.union_length(spans) == pytest.approx(4)


def test_tracer_nests_spans_and_tags_the_operation():
    clock = itertools.count()
    groups = []
    tr = Tracer(clock=lambda: float(next(clock)), job_group=groups.append)
    tr.enabled = True
    with tr.operation(7, "q"):
        with tr.span("sources.read"):
            pass
    assert groups == ["op-7", None]
    op, child = tr.spans
    assert (op.name, op.parent, op.op) == ("op.q", None, 7)
    assert (child.parent, child.op) == (op.id, 7)
    assert trace.self_times(tr.spans)[op.id] == pytest.approx(2)


def test_disabled_tracer_records_nothing():
    tr = Tracer()
    with tr.operation(0, "q"), tr.span("a.b"):
        pass
    assert tr.spans == []


def test_patch_rebinds_every_package_binding(monkeypatch):
    def load_table():
        return 42
    src = types.ModuleType(f"{trace.PACKAGE}.fake_sources")
    user = types.ModuleType(f"{trace.PACKAGE}.fake_contract")
    src.load_table = user.load_table = load_table
    user.alias = load_table
    for m in (src, user):
        monkeypatch.setitem(sys.modules, m.__name__, m)
    tr = Tracer()
    tr.enabled = True
    tr.patch(src, "load_table", "sources.load_table")
    assert user.load_table is src.load_table is user.alias is not load_table
    assert user.load_table() == 42
    assert [s.name for s in tr.spans] == ["sources.load_table"]
    tr.unpatch()
    assert src.load_table is user.load_table is user.alias is load_table


def test_traced_pass_sees_functions_bound_in_the_warmup(monkeypatch):
    # A stream binds the functions its batch callback calls when it
    # starts, in the warm-up; the traced pass must still record them.
    mod = types.ModuleType(f"{trace.PACKAGE}.fake_sketches")
    mod.build = lambda: 1
    monkeypatch.setitem(sys.modules, mod.__name__, mod)
    tr = Tracer()

    class Stream:
        continues_warmup = single_pass = True
        check_s = 0.0

        def isolate(self):
            self.callback = None

        def warmup(self):
            build = mod.build
            self.callback = lambda: build()
            self.callback()

        def run_pass(self):
            with tr.operation(0, "day"):
                self.callback()
            return [("commit", 0.0)]

        def pass_extras(self):
            return {}

        def cached_left(self):
            return 0

        def check(self):
            pass

    orig = mod.build
    traced, reference = worker.traced_and_reference(
        Stream(), tr, lambda t: t.patch(mod, "build", "operators.build"))
    assert len(traced) == len(reference) == 1
    # one operation and its callback, from the traced pass only
    assert [s.name for s in tr.spans] == ["op.day", "operators.build"]
    assert tr.spans[1].parent == tr.spans[0].id
    assert mod.build is orig
