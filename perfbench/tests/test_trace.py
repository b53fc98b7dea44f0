import types

import pytest

from perfbench.trace import Span, Tracer, self_time


def span(i, start, end, parent=None, jobs=0):
    return Span(i, f"s{i}", parent, "r", "p", True, start, end, jobs)


def test_self_time_subtracts_merged_children():
    parent = span(0, 0.0, 10.0)
    kids = [span(1, 1.0, 3.0, 0), span(2, 2.0, 5.0, 0), span(3, 7.0, 8.0, 0)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0)


def test_self_time_clips_children_to_the_parent():
    parent = span(0, 2.0, 4.0)
    assert self_time(parent, [span(1, 1.0, 3.0, 0), span(2, 3.5, 9.0, 0)]) == pytest.approx(0.5)
    assert self_time(parent, []) == pytest.approx(2.0)


def test_disabled_tracer_records_and_patches_nothing():
    t = Tracer("r", enabled=False)
    mod = types.SimpleNamespace(f=lambda: 1)
    original = mod.f
    t.wrap(mod, "f", "x")
    assert mod.f is original
    with t.span("y"):
        pass
    assert t.spans == []


def test_wrap_nests_spans_and_restore_undoes_it():
    t = Tracer("r", enabled=True)
    t.measured = True
    mod = types.SimpleNamespace(inner=lambda: 2)
    reg = {"q": lambda: mod.inner() + 1}
    t.wrap(mod, "inner", "layer.inner")
    t.wrap(reg, "q", "layer.q")
    assert reg["q"]() == 3
    outer, inner = t.spans
    assert (outer.name, inner.name, inner.parent) == ("layer.q", "layer.inner", outer.id)
    assert outer.start <= inner.start <= inner.end <= outer.end
    t.restore()
    reg["q"]()
    assert len(t.spans) == 2


def test_aggregates_count_children_jobs_and_skip_setup_spans():
    t = Tracer("r", enabled=True)
    t.spans = [span(0, 0.0, 4.0, jobs=2), span(1, 1.0, 2.0, 0, jobs=3),
               span(2, 5.0, 7.0, jobs=1)]
    t.spans[1].name = "child"
    t.spans[2].name = "s0"
    t.spans[2].measured = False
    assert t.mean_counts("s0") == (5.0, 0.0)
    assert t.median_s("s0") == 4.0
    assert t.self_s("s*") == pytest.approx(3.0)
    assert t.median_s("missing") == 0.0
