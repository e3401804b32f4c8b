"""Session-lived Executor: one per ingested table, serving every search
and refinement from its memos (api.EngineSession)."""

from __future__ import annotations

import json

import pytest

from data_transformation_2022_spark import engine
from data_transformation_2022_spark.api import EngineSession, _json_default, path_id

# every value is an integer or a short binary fraction, so any
# summation order gives the same double and payloads compare byte for
# byte across sessions
_COLS = ["grp", "a", "c", "d", "f", "h", "k"]
_ROWS = [
    [
        f"g{i % 3}",
        i % 7,
        float(i % 13),
        float((i * 3) % 17),
        float(1000 + (i * 7) % 19 * 97),
        float(-500 - (i * 11) % 23 * 3001),
        float((i * 13) % 29) / 64.0,
    ]
    for i in range(150)
]

_SUM = {"i_type": "==", "i": ["c_acctbal", "c_nationkey"], "o_type": "append", "index": ["bal"]}
_RANK = {"i_type": "==", "i": ["bal"], "o_type": "append"}
_SEGMENT = path_id(
    [{"t": "select", "i_type": "==", "i": ["c_mktsegment"], "o_type": "new_table", "index": [], "args": []}]
)


def _dump(payload) -> str:
    return json.dumps(payload, sort_keys=True, default=_json_default)


def _table_session(spark) -> EngineSession:
    s = EngineSession(spark, sample_cap=60)
    s.ingest_records(_COLS, _ROWS)
    return s


def test_add_t_add_v_identical_without_local_steps(spark, sf_dir, monkeypatch):
    """A sum→rank chain previews its first 20 rows in RID order, and the
    add_t / add_v payloads are byte-identical whether the driver-side
    evaluator serves the chain or Spark replays it."""

    def payloads() -> tuple[str, list]:
        s = EngineSession(spark, sample_cap=200)
        s.ingest_path(f"{sf_dir}/customer.parquet")
        try:
            first = s.add_t("root", "sum", _SUM)
            ranked = s.add_t(first["highlight"], "rank", _RANK)
            line = s.add_v("ord_line", {"y": ranked["highlight"]})
            bar = s.add_v("count_bar", {"x": _SEGMENT})
            head = list(s._ex._sample_local()[0]["c_custkey"].head(20))
            return _dump([first, ranked, line, bar]), [ranked, head]
        finally:
            s.close()

    local, (ranked, head) = payloads()
    monkeypatch.setattr(engine, "eval_steps_local", lambda *a: None)
    replayed, _ = payloads()
    assert local == replayed
    preview = ranked["result"]["preview"]
    assert preview["c_custkey"] == head  # RID order, not rank order
    assert sorted(preview["rank bal"]) != preview["rank bal"]


def test_step_args_key_memos_apart(spark, sf_dir):
    """Steps that differ only in ``args`` are different memo entries."""
    from data_transformation_2022_spark.operators.steps import Step
    from data_transformation_2022_spark.plans.search import Candidate

    def cast(to: str) -> Step:
        return Step(t="astype", i_type="==", i=["c_acctbal"], o_type="append", index=["v"], args=[to])

    s = EngineSession(spark, sample_cap=50)
    s.ingest_path(f"{sf_dir}/customer.parquet")
    try:
        para = {"i_type": "==", "i": ["c_acctbal"], "o_type": "append", "index": ["v"]}
        as_int = s.add_t("root", "astype", {**para, "args": ["int"]})["result"]["preview"]["v"]
        as_double = s.add_t("root", "astype", {**para, "args": ["double"]})["result"]["preview"]["v"]
        assert as_int != as_double
        assert all(isinstance(v, int) for v in as_int)

        ex = s._ex
        frames = [
            ex.channel_frame(Candidate(family="null_num1", steps=[cast(to)], out_cols=["v"]), None)
            for to in ("int", "double")
        ]
        assert str(frames[0]["v"].dtype) == "int64"
        assert str(frames[1]["v"].dtype) == "float64"
    finally:
        s.close()


def test_research_matches_fresh_session(spark):
    """Re-searching one session — with the clusters it was searched
    with, with changed clusters (whose chains need rank outputs the
    first search pruned from its persisted base, so they get a pruned
    base of their own beside it), and with another vlist — answers
    exactly what a fresh session answers; the memo frames it reuses are
    read-only."""
    payloads = [
        {"dim_clusters": [["c", "d"]]},
        {"dim_clusters": [["c", "d"]]},
        {"dim_clusters": [["h", "k"]]},
        {"dim_clusters": [["c", "d"]], "vlist": ["line", "bar"]},
    ]
    s = _table_session(spark)
    try:
        reused = [_dump(s.search(p)) for p in payloads]
        memo = next(f for f in s._ex._frames.values() if f is not None)
        with pytest.raises(ValueError, match="read-only"):
            memo.iloc[0, 0] = -1
        # base keys hold, per level, the step and the keep set a
        # rank/nominalize level was pruned to (None: unpruned)
        keys = list(s._ex._persisted)
        chains = [tuple(st for st, _keep in k) for k in keys]
        assert len(set(chains)) < len(chains), "changed clusters must add a base"
        assert all(keep is not None for k in keys for st, keep in k if st[0] == "rank")
    finally:
        s.close()
    for p, got in zip(payloads, reused):
        fresh = _table_session(spark)
        try:
            assert got == _dump(fresh.search(p)), p
        finally:
            fresh.close()


def test_identical_research_submits_no_spark_jobs(spark, jobs_submitted):
    """Everything an identical re-search needs is in the memos: no bar
    grouping-sets pass, no base materialisation, no rank boundaries."""
    s = _table_session(spark)
    try:
        first = s.search({})
        before = jobs_submitted()
        again = s.search({})
        assert jobs_submitted() == before
        assert _dump(again) == _dump(first)
    finally:
        s.close()


def test_tall_search_ranks_with_one_job(spark, sf_dir, monkeypatch, jobs_submitted):
    """On a tall table (rows far above the sample) the search's
    full-table rank base takes its bucket boundaries from the ingest
    profile's quantile grid and its bucket offsets from the persisted
    ranking, whose one job also materialises it: 9 jobs for the search
    where a boundary job, a counting job and a separate materialising
    count() made 13."""
    import data_transformation_2022_spark.functions.order as order

    calls = []
    real = order.global_ranks_multi

    def spy(df, cols, out_cols, **kwargs):
        calls.append((cols, kwargs))
        return real(df, cols, out_cols, **kwargs)

    monkeypatch.setattr(order, "global_ranks_multi", spy)
    s = EngineSession(spark, sample_cap=200)
    s.ingest_path(f"{sf_dir}/lineitem.parquet")
    try:
        before = jobs_submitted()
        s.search({})
        assert jobs_submitted() - before <= 9
    finally:
        s.close()
    assert calls, "the search ranks no full-table column"
    for cols, kwargs in calls:
        assert set(cols) <= set(kwargs["boundaries"]), cols
        assert kwargs["persisted"] is not None


def test_add_t_after_search_submits_no_spark_jobs(spark):
    """A chain the driver-side evaluator proves is served from the
    session's collected sample without a Spark job."""
    s = _table_session(spark)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        s.search({"vlist": ["bar"]})
        sc.setJobGroup("add_t_probe", "add_t after search")
        try:
            ret = s.add_t(
                "root", "sum", {"i_type": "==", "i": ["c", "d"], "o_type": "append", "index": ["cd"]}
            )
            s.add_t(ret["highlight"], "rank", {"i_type": "==", "i": ["cd"], "o_type": "append"})
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(tracker.getJobIdsForGroup("add_t_probe")) == []
    finally:
        s.close()


def test_close_and_reingest_reclaim_spark_storage(spark):
    """The session's Executor caches the sample and derived bases; a
    re-ingest and ``close()`` release them, so storage returns to its
    baseline once references drop."""
    import gc
    import time

    import data_transformation_2022_spark.engine as eng

    def cached_rdds() -> int:
        return sum(
            1
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if info.numCachedPartitions() > 0
        )

    while eng._PENDING_RELEASES:
        eng._PENDING_RELEASES.pop().join(timeout=60)
    base = cached_rdds()
    s = EngineSession(spark, sample_cap=40)
    for _ in range(2):  # the second ingest releases the first Executor
        s.ingest_records(_COLS, _ROWS)
        s.search({})
        s.add_t("root", "rank", {"i_type": "==", "i": ["c"], "o_type": "append"})
        # the rank base is persisted as its bucket-local ranking
        persisted = [f for fs in s._ex._persisted.values() for f in fs]
        assert any(c.startswith("__grl_") for f in persisted for c in f.columns)
    assert cached_rdds() > base
    s.close()
    assert s._ex is None
    while eng._PENDING_RELEASES:
        eng._PENDING_RELEASES.pop().join(timeout=60)
    deadline = time.time() + 60
    while time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if cached_rdds() <= base:
            break
        time.sleep(1.0)
    assert cached_rdds() <= base, f"closed session leaked cached RDDs: {cached_rdds()} > {base}"


def test_research_reuses_memoised_charts(spark, monkeypatch, jobs_submitted):
    """Every assembled, scored chart lives on the session's Executor: a
    re-search submits no Spark job, scores no scatter, computes no
    scagnostics and answers the same payload; the memoised charts'
    data is read-only."""
    import data_transformation_2022_spark.engine as eng

    calls = []
    for name in ("scagnostics", "_score_scatter"):
        real = getattr(eng, name)

        def counted(*args, _real=real, _name=name, **kwargs):
            calls.append(_name)
            return _real(*args, **kwargs)

        monkeypatch.setattr(eng, name, counted)
    s = _table_session(spark)
    try:
        first = s.search({})
        assert {"scagnostics", "_score_scatter"} <= set(calls)
        calls.clear()
        before = jobs_submitted()
        again = s.search({})
        assert jobs_submitted() == before
        assert calls == []
        assert _dump(again) == _dump(first)
        chart = next(c for c in s._ex._charts.values() if c.chart_type == "num_scatter")
        with pytest.raises(ValueError, match="read-only"):
            chart.data.iloc[0, 0] = -1
    finally:
        s.close()


def test_scatter_failure_joins_bar_thread(spark, monkeypatch):
    """recommend() runs the bar jobs on a second thread while it
    assembles the scatters; a scatter failure propagates only after that
    thread is joined, so no Spark job outlives the call."""
    import threading

    import data_transformation_2022_spark.engine as eng

    raised = threading.Event()
    bars_done = threading.Event()
    prefetch = eng.Executor.prefetch

    def gated_prefetch(self, frame_jobs, bar_jobs, *args, **kwargs):
        if bar_jobs and not frame_jobs:
            # the bar side is still to run when the scatter raises
            assert raised.wait(60)
            prefetch(self, frame_jobs, bar_jobs, *args, **kwargs)
            bars_done.set()
        else:
            prefetch(self, frame_jobs, bar_jobs, *args, **kwargs)

    def failing_score(*args, **kwargs):
        raised.set()
        raise RuntimeError("scatter assembly failed")

    monkeypatch.setattr(eng.Executor, "prefetch", gated_prefetch)
    monkeypatch.setattr(eng, "_score_scatter", failing_score)
    s = _table_session(spark)
    try:
        with pytest.raises(RuntimeError, match="scatter assembly failed"):
            s.search({})
        assert bars_done.is_set()
        assert not [t for t in threading.enumerate() if t.name.startswith("recommend-bars")]
        assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    finally:
        s.close()
