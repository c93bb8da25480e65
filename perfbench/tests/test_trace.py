"""Span arithmetic: union length, self time, driver idle, layer selection."""

from perfbench import run
from perfbench.eventlog import GroupStats
from perfbench.layers import SpanTree
from perfbench.trace import Span, Tracer, idle_s, self_times, union_length


def test_union_length_merges_overlaps_and_clips():
    assert union_length([], 0.0, 10.0) == 0.0
    assert union_length([(1.0, 3.0), (2.0, 5.0), (7.0, 8.0)], 0.0, 10.0) == 5.0
    # clipped to the window, disjoint intervals outside it ignored
    assert union_length([(-5.0, 2.0), (9.0, 15.0), (20.0, 30.0)], 0.0, 10.0) == 3.0
    # nested interval adds nothing
    assert union_length([(1.0, 9.0), (2.0, 3.0)], 0.0, 10.0) == 8.0


def test_self_time_is_wall_minus_children_union():
    spans = [
        Span(0, "pass", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 4.0),
        Span(2, "b", 0, 3.0, 6.0),  # overlaps a: children cover [1, 6]
        Span(3, "c", 2, 4.0, 5.0),
    ]
    st = self_times(spans)
    assert st[0] == 5.0
    assert st[1] == 3.0
    assert st[2] == 2.0
    assert st[3] == 1.0


def test_driver_idle_counts_wall_with_no_job_running():
    jobs = [(1.0, 2.0), (1.5, 3.0), (6.0, 7.0), (12.0, 13.0)]
    assert idle_s(0.0, 10.0, jobs) == 10.0 - 3.0
    assert idle_s(0.0, 10.0, []) == 10.0


def test_disabled_tracer_records_nothing():
    t = Tracer()
    with t.span("x") as s:
        assert s is None
    t.record("y", 0.0, 1.0)
    assert t.spans == []


def test_layer_takes_topmost_spans_and_inclusive_stats():
    spans = [
        Span(0, "pass", None, 0.0, 10.0),
        Span(1, "operators.raster.polygons_to_raster", 0, 0.0, 2.0),
        Span(2, "operators.raster.inner", 1, 0.5, 1.0),
        Span(3, "operators.pip.tag_polygon", 0, 2.0, 4.0),
    ]
    groups = {
        spans[1].group: GroupStats(jobs=1, tasks=4, exec_run_ms=100),
        spans[2].group: GroupStats(jobs=2, tasks=2, exec_run_ms=50),
        spans[3].group: GroupStats(jobs=1, tasks=8, exec_run_ms=1000),
    }
    t = SpanTree(spans, groups)
    raster = t.layer(spans[0], "operators.raster")
    assert [s.id for s in raster] == [1]  # the nested raster span is inside it
    g = t.stats(raster)
    assert (g.jobs, g.tasks, g.exec_run_ms) == (3, 6, 150)
    assert t.incl[0].jobs == 4 and t.incl[0].exec_run_ms == 1150
    # a prefix only matches whole name components
    assert t.layer(spans[0], "operators.ras") == []


def test_task_skew_uses_the_dominant_stage():
    g = GroupStats(stage_task_ms={1: [10, 10, 40], 2: [1, 1, 1, 1], 3: [500]})
    assert g.task_skew() == 4.0  # stage 3 has one task: no skew signal
    assert GroupStats().task_skew() == 1.0


def test_paired_window_flips_the_order_within_each_pair(monkeypatch):
    clock = iter(range(100))
    monkeypatch.setattr(run.time, "perf_counter", lambda: next(clock))
    b = run.Bench.__new__(run.Bench)  # no session: passes are recorded only
    order = []
    b.run_pass = lambda ctx: order.append(ctx) or {"ctx": ctx}
    traced, plain = b.paired_window("T", "U", 4)
    assert "".join(order) == "TUUTTUUT"
    assert [p["ctx"] for p in traced] == ["T"] * 4 and [p["ctx"] for p in plain] == ["U"] * 4
