"""Span self-time and coverage arithmetic, and event-log attribution."""

import json

import pytest

import spans


def _span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start": start,
            "end": end, "attrs": {}}


def test_self_time_subtracts_children_clipped_and_merged():
    sp = [_span(0, None, "pass", 0.0, 10.0),
          _span(1, 0, "a", 1.0, 4.0),
          _span(2, 0, "b", 3.0, 6.0),       # overlaps a: union 1..6
          _span(3, 0, "c", 9.0, 12.0),      # runs past the parent: clipped to 9..10
          _span(4, 1, "a.inner", 2.0, 3.0)]
    selfs = spans.self_times(sp)
    assert selfs[0] == pytest.approx(10 - 5 - 1)
    assert selfs[1] == pytest.approx(2.0)
    assert selfs[4] == pytest.approx(1.0)


def test_coverage_counts_root_and_container_self_time_as_uncovered():
    sp = [_span(0, None, "pass", 0.0, 10.0),
          _span(1, 0, "pipeline.run_once", 0.0, 8.0),
          _span(2, 1, "pipeline.validate_batch", 0.0, 3.0),
          _span(3, 1, "pipeline.transform", 3.0, 7.0)]
    # uncovered: pass self 2 s + run_once self 1 s
    assert spans.coverage(sp, 0, {"pipeline.run_once"}) == pytest.approx(0.7)


def test_tracer_nests_and_sets_spark_property():
    ticks = iter(range(100))
    tracer = spans.Tracer(clock=lambda: float(next(ticks)))

    class FakeContext:
        def __init__(self):
            self.props = []

        def setLocalProperty(self, key, value):
            self.props.append((key, value))

    sc = FakeContext()
    tracer.bind_spark(sc)
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
    outer, inner = tracer.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert [v for _, v in sc.props] == ["0", "1", "0", None]
    assert spans.self_times(tracer.spans) == {0: 2.0, 1: 1.0}
    assert [s["id"] for s in spans.outermost(tracer.spans, "inner")] == [1]


def test_traced_wrapper_and_patch_everywhere(monkeypatch):
    import types
    import sys

    mod = types.ModuleType("fake_pkg_mod")

    def work(x):
        return x + 1

    mod.work = mod.alias = work
    monkeypatch.setitem(sys.modules, "fake_pkg_mod", mod)
    tracer = spans.Tracer()
    patcher = spans.Patcher()
    n = spans.patch_everywhere(patcher, work,
                               spans.traced(tracer, work, lambda x: f"work.{x}"),
                               ("fake_pkg",))
    assert n == 2 and mod.alias(1) == 2 and tracer.spans[0]["name"] == "work.1"
    patcher.restore()
    assert mod.work is work and mod.alias is work


def test_exec_totals_and_job_gap(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {spans.SPAN_PROPERTY: "3"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 6000},
    ]
    for stage, run_ms in ((0, 100), (0, 300), (1, 200)):
        events.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                       "Task Metrics": {"Executor Run Time": run_ms,
                                        "Executor CPU Time": run_ms * 500_000,
                                        "JVM GC Time": 10,
                                        "Input Metrics": {"Bytes Read": 5},
                                        "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                                                 "Local Bytes Read": 2},
                                        "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                                        "Memory Bytes Spilled": 0,
                                        "Disk Bytes Spilled": 4}})
    path = tmp_path / "events"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = spans.read_event_log(str(path))
    tot = spans.exec_totals(log, {3})
    assert (tot["jobs"], tot["stages"], tot["tasks"]) == (1, 2, 3)
    assert tot["task_run_s"] == pytest.approx(0.6)
    assert tot["task_cpu_s"] == pytest.approx(0.3)
    assert tot["gc_s"] == pytest.approx(0.03)
    assert (tot["input_bytes"], tot["shuffle_read_bytes"],
            tot["shuffle_write_bytes"], tot["spill_bytes"]) == (15, 9, 21, 12)
    assert tot["task_skew"] == pytest.approx(1.5)     # 300 ms over median 200 ms
    span = _span(3, None, "x", 0.5, 4.0)
    assert spans.job_gap(log, span, {3}) == pytest.approx(3.5 - 2.0)
