"""The benchmark's own tests; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import threading

import pytest

from perfbench import gen, metrics, trace
from perfbench.workloads import canonical, result_digest

HERE = os.path.dirname(os.path.abspath(__file__))


# ---- seeded inputs ----


@pytest.mark.parametrize(
    "make",
    [
        lambda s: gen.tall_table(s, 500),
        lambda s: gen.wide_table(s, 300, 2),
        lambda s: gen.batch_tables(s, 0.0001)["documents"],
        lambda s: gen.batch_tables(s, 0.0001)["lineitem"],
    ],
)
def test_generator_is_a_function_of_the_seed(make):
    assert gen.frame_digest(make(7)) == gen.frame_digest(make(7))
    assert gen.frame_digest(make(7)) != gen.frame_digest(make(8))


def test_refine_script_is_seeded_and_has_one_shape():
    cols = ["a", "b", "c"]
    one, same, other = (gen.refine_script(s, cols, 12) for s in (3, 3, 4))
    assert one == same and one != other
    shape = [(s["t"], s["extend"]) for s in one]
    assert shape == [(s["t"], s["extend"]) for s in other]
    assert shape[:2] == [("sum", False), ("rank", True)]


def test_pick_is_seeded_and_distinct():
    assert gen.pick(1, "x", 10, 4) == gen.pick(1, "x", 10, 4)
    assert len(set(gen.pick(1, "x", 10, 10))) == 10
    assert len(gen.pick(1, "x", 3, 8)) == 3


# ---- statistics ----


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    value, pct = metrics.tail(xs)
    assert value == 90.0 and pct == 90.0
    assert sum(1 for x in xs if x > value) == 10
    value, pct = metrics.tail(xs[:25])
    assert sum(1 for x in xs[:25] if x > value) == 10 and pct == 60.0


def test_tail_with_too_few_samples_is_the_maximum():
    assert metrics.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_geomean():
    assert metrics.geomean([1.0, 100.0]) == pytest.approx(10.0)


# ---- output checks ----


def test_canonical_rounds_floats_and_sorts_keys():
    assert canonical({"b": 1.00000001, "a": [2.5]}) == canonical({"a": [2.5], "b": 1.0})


def test_result_digest_ignores_row_order():
    rows = [(1, "a", 0.5), (2, "b", 1.5)]
    assert result_digest(rows) == result_digest(rows[::-1])
    assert result_digest(rows) != result_digest(rows[:1])


# ---- event log ----


def test_event_log_attribution_by_call_site():
    jobs = trace.parse_event_log(os.path.join(HERE, "fixtures", "tiny_eventlog.json"))
    by_id = {j.job_id: j for j in jobs}
    assert [j.module for j in jobs] == ["profiler", "engine", None, "other"]
    assert [j.op for j in jobs] == ["collect", "toPandas", "save", "collect"]
    j0 = by_id[0]
    assert j0.task_s == pytest.approx(0.4)
    assert j0.gc_s == pytest.approx(0.01)
    assert j0.shuffle_mb == pytest.approx(2.0)
    assert j0.spill_mb == pytest.approx(1.0)
    assert j0.wait_s == pytest.approx(0.02)  # first task launched 20 ms after submission
    assert by_id[1].wait_s == pytest.approx(0.1)  # the skipped stage 2 adds nothing
    assert by_id[3].task_s == 0.0


def test_callsite_module_buckets():
    pkg = "/w/data_transformation_2022_spark"
    assert trace.callsite_module(f"collect at {pkg}/operators/steps_local.py:9") == "steps"
    assert trace.callsite_module(f"collect at {pkg}/ml/coret.py:9") == "coret"
    assert trace.callsite_module(f"count at {pkg}/functions/text.py:9") == "operators"
    assert trace.callsite_module("save at NativeMethodAccessorImpl.java:0") is None
    assert trace.callsite_module(None) is None


def test_layer_values_attribute_jobs_by_time_window():
    jobs = trace.parse_event_log(os.path.join(HERE, "fixtures", "tiny_eventlog.json"))
    spans = [
        trace.Span("api.ingest", 1000.0, 1000.45, sid=0),
        trace.Span("profiler.profile", 1000.05, 1000.42, parent=0, sid=1),
    ]
    specs = metrics.layer_specs()
    v = metrics.layer_values(specs, spans, jobs, passes=1, window=(1000.0, 1001.0))
    assert v["profiler.jobs"] == 1 and v["profiler.task_s"] == pytest.approx(0.4)
    assert v["api.sample_collect_s"] == pytest.approx(0.08)
    assert v["spark.jobs"] == 4 and v["spark.unattributed_jobs"] == 1
    assert v["spark.engine.jobs"] == 1 and v["spark.op.save.jobs"] == 1
    assert set(v) == {name for name, _, _ in specs}


# ---- spans ----


def test_busy_counts_each_thread_once_and_residual_excludes_children():
    a = trace.Span("x", 0.0, 2.0, thread=1, sid=0)
    b = trace.Span("x", 1.0, 3.0, thread=1, sid=1)
    c = trace.Span("x", 0.0, 2.0, thread=2, sid=2)
    assert trace.busy([a, b, c]) == pytest.approx(5.0)
    parent = trace.Span("p", 0.0, 10.0, sid=9)
    kids = [trace.Span("k", 1.0, 4.0, parent=9, sid=10), trace.Span("k", 3.0, 5.0, parent=9, sid=11)]
    assert trace.residual(parent, kids) == pytest.approx(6.0)


def test_pool_thread_spans_take_the_open_main_thread_span_as_parent():
    tr = trace.Tracer(enabled=True)
    with tr.span("engine.prefetch") as outer:
        t = threading.Thread(target=lambda: tr.close(tr.open("engine.frame")))
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    frame = [s for s in tr.spans if s.name == "engine.frame"][0]
    assert frame.parent == outer.sid and frame.thread != outer.thread


def test_wrappers_record_spans_and_uninstall_restores_the_package():
    from data_transformation_2022_spark import api, engine
    from data_transformation_2022_spark.ml import coret

    before = (api.profile_table, engine.Executor.prefetch, dict(coret.CORE_T_RUNNERS))
    tr = trace.Tracer(enabled=True)
    saved = trace.install(tr)
    try:
        assert engine._rank_dedup([]) == []
        assert engine.Executor.prefetch is not before[1]
    finally:
        trace.uninstall(saved)
    assert [s.name for s in tr.spans] == ["engine.rank_dedup"]
    assert (api.profile_table, engine.Executor.prefetch, dict(coret.CORE_T_RUNNERS)) == before


def test_prefetch_wrapper_counts_submitted_candidates():
    tr = trace.Tracer(enabled=True)
    wrapped = trace._wrap(tr, "engine.prefetch", lambda self, frame_jobs, bar_jobs, workers=8: None, candidates=True)
    wrapped(None, [1, 2, 3], [4])
    wrapped(None, frame_jobs=[1], bar_jobs=[])
    assert [s.attrs["candidates"] for s in tr.spans] == [4, 1]


def test_disabled_tracer_records_nothing():
    tr = trace.Tracer(enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []


# ---- BENCHMARK.json ----


def test_benchmark_json_names_match_the_metric_definitions():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {(m["name"], m["unit"]) for m in bench["end_to_end"]}
    assert e2e == {(name, unit) for name, unit, _, _ in metrics.END_TO_END}
    layers = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    assert layers == [(name, unit) for name, unit, _ in metrics.layer_specs()]
