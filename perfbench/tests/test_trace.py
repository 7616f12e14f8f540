import types

import pytest

from perfbench.trace import Span, Tracer, covered, layer_self_times, self_times


def span(i, start, end, parent=None, layer="l"):
    return Span(i, f"s{i}", layer, start, end, parent, "run")


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(1, 3), (2, 5)], 2.5, 4) == 1.5
    assert covered([], 0, 10) == 0
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_direct_children_only():
    spans = [
        span(1, 0, 10),
        span(2, 1, 3, parent=1),
        span(3, 2, 5, parent=1),  # overlaps span 2: counted once
        span(4, 2.5, 4.5, parent=3),  # grandchild: only span 3 loses it
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10 - 4)
    assert own[2] == pytest.approx(2)
    assert own[3] == pytest.approx(3 - 2)
    assert own[4] == pytest.approx(2)
    # self times of a tree add up to the root's duration
    assert sum(own.values()) == pytest.approx(10 + 1)  # overlap of 2 and 3


def test_layer_self_times_sum_per_layer():
    spans = [
        span(1, 0, 10, layer="pipelines"),
        span(2, 1, 4, parent=1, layer="spark"),
        span(3, 5, 6, parent=1, layer="spark"),
    ]
    assert layer_self_times(spans) == pytest.approx({"pipelines": 6, "spark": 4})


def fake_clock(times):
    it = iter(times)
    return lambda: next(it)


def test_tracer_records_parents_and_survives_exceptions():
    tr = Tracer("r1", clock=fake_clock([0, 1, 2, 3, 4, 5]))
    with tr.span("outer", "a") as outer:
        with tr.span("inner", "b"):
            pass
        with pytest.raises(RuntimeError):
            with tr.span("boom", "b"):
                raise RuntimeError
    by_name = {s.name: s for s in tr.spans}
    assert by_name["inner"].parent == outer
    assert by_name["boom"].parent == outer
    assert by_name["outer"].parent is None
    assert (by_name["outer"].start, by_name["outer"].end) == (0, 5)
    assert {s.run_id for s in tr.spans} == {"r1"}


def test_patch_function_traces_every_binding_and_restores(monkeypatch):
    def target(x):
        return x * 2

    mod_a = types.ModuleType("pkgx.a")
    mod_b = types.ModuleType("pkgx.b")
    other = types.ModuleType("elsewhere")
    for m in (mod_a, mod_b, other):
        m.target = target
        monkeypatch.setitem(__import__("sys").modules, m.__name__, m)
    tr = Tracer("r")
    tr.patch_function(target, "x.target", "x", "pkgx")
    assert mod_a.target(2) == 4 and mod_b.target(3) == 6
    assert other.target is target
    assert [s.name for s in tr.spans] == ["x.target", "x.target"]
    tr.unpatch()
    assert mod_a.target is target and mod_b.target is target


def test_span_cost_is_a_small_positive_time():
    from perfbench.layers import span_cost_s

    assert 0.0 <= span_cost_s() < 1e-3
