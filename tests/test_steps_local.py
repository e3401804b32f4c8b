"""Equivalence harness for the driver-side Step evaluator
(operators/steps_local.py) against the live Spark path.

The contract under test: whenever ``eval_steps_local`` returns non-None
it must match ``apply_tpath(...)`` collected over the same rows — column
names, row order (RID-ascending), pandas dtypes, tracked Spark types,
and exact values. ``None`` means "use Spark"; the tests also pin WHICH
shapes are allowed to fall back (so the optimization can't silently rot
into always-fallback) and which MUST fall back (the documented
divergence hazards: nulls, decimals, float32/int mixes, astype,
overflow, duplicate names).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from data_transformation_2022_spark.operators.steps import (
    RID,
    Step,
    apply_tpath,
    small_input_mode,
)
from data_transformation_2022_spark.operators.steps_local import eval_steps_local


def _spark_collect(sdf, steps):
    with small_input_mode():
        out = apply_tpath(sdf, steps)
    return out.dtypes, out.orderBy(RID).toPandas()


def _local(sdf, steps, pdf=None):
    if pdf is None:
        pdf = sdf.orderBy(RID).toPandas()
    return eval_steps_local(pdf, sdf.dtypes, steps)


def _assert_equiv(sdf, steps, pdf=None):
    """Non-None local result must equal the Spark path byte-for-byte."""
    res = _local(sdf, steps, pdf=pdf)
    assert res is not None, f"expected local serve for {steps}"
    lframe, ltypes = res
    stypes, scollect = _spark_collect(sdf, steps)
    assert ltypes == stypes, f"tracked Spark types drifted for {steps}"
    assert list(lframe.columns) == list(scollect.columns)
    pd.testing.assert_frame_equal(
        lframe.reset_index(drop=True),
        scollect,
        check_exact=True,
        check_dtype=True,
    )
    return res


def _assert_fallback(sdf, steps, pdf=None):
    assert _local(sdf, steps, pdf=pdf) is None, f"expected fallback for {steps}"


@pytest.fixture(scope="module")
def typed_df(spark):
    """Every evaluator-eligible Spark simple type, null-free."""
    pdf = pd.DataFrame(
        {
            "i8": np.array([3, -2, 3, 120, 0, -7], dtype=np.int8),
            "i16": np.array([300, -2, 300, 12000, 0, -7], dtype=np.int16),
            "i32": np.array(
                [2**30, -2, 2**30, 1, 0, -7], dtype=np.int32
            ),
            "i64": np.array(
                [2**40, -2, 2**40, 1, 0, -(2**35)], dtype=np.int64
            ),
            "f32": np.array(
                [1.5, -2.25, 1.5, 0.0, 3.75, -0.0], dtype=np.float32
            ),
            "f64": np.array([1.1, -2.2, 1.1, 0.0, 9.9, 1e300], dtype=np.float64),
            "s": ["b", "a", "b", "", "z", "a"],
            "flag": [True, False, True, True, False, False],
        }
    )
    pdf[RID] = np.arange(len(pdf), dtype=np.int64)
    return spark.createDataFrame(pdf)


# ---------------------------------------------------------------------------
# systematic single-step matrix
# ---------------------------------------------------------------------------


def test_select_modes(typed_df):
    for i_type, i in [
        ("==", ["i32", "s"]),
        ("like", ["int"]),
        ("like", ["float", "str"]),
        ("num", []),
        ("all", []),
    ]:
        for o_type in ("new_table", "replace"):
            _assert_equiv(
                typed_df, [Step(t="select", i_type=i_type, i=list(i), o_type=o_type)]
            )
        # select+append re-emits the selected names next to the originals:
        # duplicate column names, which pandas frames cannot key — must
        # fall back to Spark (which allows duplicates)
        _assert_fallback(
            typed_df, [Step(t="select", i_type=i_type, i=list(i), o_type="append")]
        )


def test_rank_nominalize_each_type(typed_df):
    for c in ("i8", "i16", "i32", "i64", "f32", "f64", "s"):
        for t in ("rank", "nominalize"):
            for o_type in ("new_table", "append", "replace"):
                _assert_equiv(
                    typed_df, [Step(t=t, i_type="==", i=[c], o_type=o_type)]
                )


def test_rank_nominalize_multi_and_stacked(typed_df):
    # 2-col (per-column window path) and ≥8-col (stacked melt path):
    # both must match the evaluator's per-column pandas form
    _assert_equiv(typed_df, [Step(t="rank", i_type="==", i=["i32", "f64"])])
    wide = [Step(t="rank", i_type="num", i=[], o_type="new_table")]
    # num selector on typed_df picks 6 columns; widen via a chain that
    # first appends ranks so a later rank sees ≥8 numeric columns
    chain = [
        Step(t="rank", i_type="num", i=[], o_type="append",
             index=[f"r{i}" for i in range(6)]),
        Step(t="rank", i_type="num", i=[], o_type="new_table"),
    ]
    _assert_equiv(typed_df, wide)
    _assert_equiv(typed_df, chain)  # 12 numeric cols → stacked Spark path


def test_arithmetic_integral_decimal_policy(typed_df):
    # all-integral sum/mul fold in DECIMAL(38,0) → object Decimals
    res = _assert_equiv(typed_df, [Step(t="sum", i_type="==", i=["i8", "i16", "i64"])])
    assert res[1][-1][1] == "decimal(38,0)"
    _assert_equiv(typed_df, [Step(t="mul", i_type="==", i=["i8", "i16"])])
    _assert_equiv(typed_df, [Step(t="sum", i_type="==", i=["i64"])])


def test_arithmetic_float_paths(typed_df):
    _assert_equiv(typed_df, [Step(t="sum", i_type="==", i=["f32", "f32"])])
    _assert_equiv(typed_df, [Step(t="sum", i_type="==", i=["f64", "f32"])])
    _assert_equiv(typed_df, [Step(t="mul", i_type="==", i=["f64", "f64"])])
    _assert_equiv(typed_df, [Step(t="sum", i_type="==", i=["i64", "f64"])])
    _assert_equiv(typed_df, [Step(t="sub", i_type="==", i=["f64", "i32"])])
    _assert_equiv(typed_df, [Step(t="sub", i_type="==", i=["i16", "i8"])])
    _assert_equiv(typed_df, [Step(t="sub", i_type="==", i=["f32", "f64"])])
    # div: always double, x/0 and 0/0 → 0.0
    _assert_equiv(typed_df, [Step(t="div", i_type="==", i=["i64", "i32"])])
    _assert_equiv(typed_df, [Step(t="div", i_type="==", i=["f64", "f32"])])
    _assert_equiv(typed_df, [Step(t="div", i_type="==", i=["f32", "i8"])])


def test_renames_and_chains(typed_df):
    _assert_equiv(
        typed_df,
        [
            Step(t="rank", i_type="==", i=["i32", "f64"], o_type="append",
                 index=["ra", "rb"]),
            Step(t="sub", i_type="==", i=["ra", "rb"], o_type="append",
                 index=["sub: (r)"]),
            Step(t="div", i_type="==", i=["sub: (r)", "ra"], o_type="new_table"),
        ],
    )
    _assert_equiv(
        typed_df,
        [
            Step(t="nominalize", i_type="==", i=["s"], o_type="append",
                 index=["code"]),
            Step(t="sum", i_type="==", i=["code", "i64"], o_type="new_table",
                 index=["tot"]),
        ],
    )
    _assert_equiv(
        typed_df,
        [
            Step(t="select", i_type="num", i=[], o_type="new_table"),
            Step(t="rank", i_type="all", i=[], o_type="replace"),
        ],
    )


# ---------------------------------------------------------------------------
# mandatory fallbacks (documented divergence hazards)
# ---------------------------------------------------------------------------


def test_fallback_astype(typed_df):
    _assert_fallback(
        typed_df, [Step(t="astype", i_type="==", i=["i32"], args=["float"])]
    )


def test_fallback_float32_int_mix(typed_df):
    # Spark folds int+float in FLOAT; numpy widens to float64 — refuse
    _assert_fallback(typed_df, [Step(t="sum", i_type="==", i=["i32", "f32"])])
    _assert_fallback(typed_df, [Step(t="sub", i_type="==", i=["f32", "i64"])])


def test_fallback_rank_on_bool(typed_df):
    _assert_fallback(typed_df, [Step(t="rank", i_type="==", i=["flag"])])
    _assert_fallback(typed_df, [Step(t="nominalize", i_type="==", i=["flag"])])


def test_fallback_nulls(spark):
    pdf = pd.DataFrame(
        {
            "a": [1.0, None, 3.0],
            "s": ["x", None, "y"],
            "b": [1.0, 2.0, 3.0],
        }
    )
    pdf[RID] = np.arange(3, dtype=np.int64)
    sdf = spark.createDataFrame(pdf)
    _assert_fallback(sdf, [Step(t="sum", i_type="==", i=["a", "b"])])
    _assert_fallback(sdf, [Step(t="rank", i_type="==", i=["a"])])
    _assert_fallback(sdf, [Step(t="nominalize", i_type="==", i=["s"])])
    # null-free columns of the same frame still serve locally
    _assert_equiv(sdf, [Step(t="rank", i_type="==", i=["b"])])


def test_fallback_decimal_arithmetic(spark):
    from decimal import Decimal

    sdf = spark.createDataFrame(
        [(0, Decimal("1.50"), 2.0), (1, Decimal("2.25"), 4.0)],
        schema=f"{RID} bigint, d decimal(10,2), x double",
    )
    _assert_fallback(sdf, [Step(t="sum", i_type="==", i=["d", "x"])])
    _assert_fallback(sdf, [Step(t="rank", i_type="==", i=["d"])])
    # select of a decimal column is a pure projection: served, exact
    _assert_equiv(sdf, [Step(t="select", i_type="==", i=["d"])])


def test_fallback_sub_overflow(spark):
    pdf = pd.DataFrame(
        {"a": np.array([100, -100], dtype=np.int8),
         "b": np.array([-100, 100], dtype=np.int8)}
    )
    pdf[RID] = np.arange(2, dtype=np.int64)
    sdf = spark.createDataFrame(pdf)
    # tinyint - tinyint = ±200: out of int8 range → Spark ANSI raises →
    # evaluator must refuse (caller's Spark path surfaces the error)
    _assert_fallback(sdf, [Step(t="sub", i_type="==", i=["a", "b"])])


def test_fallback_duplicate_output_name(typed_df):
    _assert_fallback(
        typed_df,
        [Step(t="rank", i_type="==", i=["i32"], o_type="append", index=["i64"])],
    )


def test_fallback_rename_arity_mismatch(typed_df):
    _assert_fallback(
        typed_df,
        [Step(t="rank", i_type="==", i=["i32", "i64"], index=["only_one"])],
    )


def test_integral_mul_overflow_falls_back(spark):
    pdf = pd.DataFrame(
        {
            "a": np.array([10**18, 10**18], dtype=np.int64),
            "b": np.array([10**18, 10**18], dtype=np.int64),
            "c": np.array([10**18, 10**18], dtype=np.int64),
        }
    )
    pdf[RID] = np.arange(2, dtype=np.int64)
    sdf = spark.createDataFrame(pdf)
    # 10^54 > 38 digits: Spark raises (ANSI / explicit guard) — refuse
    _assert_fallback(sdf, [Step(t="mul", i_type="==", i=["a", "b", "c"])])
    # two-term product (10^36) stays within DECIMAL(38,0): served exact
    _assert_equiv(sdf, [Step(t="mul", i_type="==", i=["a", "b"])])


# ---------------------------------------------------------------------------
# fixture candidate pools: the evaluator vs Spark over REAL enumerations
# ---------------------------------------------------------------------------

import os

REF = "/root/reference/testdata"


@pytest.mark.skipif(not os.path.isdir(REF), reason="reference corpus absent")
@pytest.mark.parametrize("csv", ["ie19.csv", "hungergames.csv"])
def test_fixture_candidate_pools(spark, csv):
    """Every step-only candidate the engine would enumerate for the
    fixture must either serve locally EQUAL to the Spark path or fall
    back; at least 60% must serve (rot guard)."""
    from data_transformation_2022_spark.plans.search import enumerate_tpaths
    from data_transformation_2022_spark.profiler import profile_table
    from data_transformation_2022_spark.sources.readers import read_csv, with_rid

    df = with_rid(read_csv(spark, os.path.join(REF, csv)))
    profile = profile_table(df)
    sample = df.orderBy(RID).limit(400).cache()
    pdf = sample.orderBy(RID).toPandas()
    dtypes = sample.dtypes

    pools = enumerate_tpaths(profile, max_depth=2)
    seen, served, compared = set(), 0, 0
    for fam, cands in pools.items():
        for cand in cands:
            sig = cand.signature()[1]
            if sig in seen:
                continue
            seen.add(sig)
            res = eval_steps_local(pdf, dtypes, cand.steps)
            if res is None:
                continue
            served += 1
            lframe, ltypes = res
            if any(c not in lframe.columns for c in cand.out_cols):
                continue
            compared += 1
            stypes, scollect = _spark_collect(sample, cand.steps)
            assert ltypes == stypes, f"{csv} {fam}: types drifted {cand.steps}"
            pd.testing.assert_frame_equal(
                lframe.reset_index(drop=True),
                scollect,
                check_exact=True,
                check_dtype=True,
            )
    assert compared >= 5, f"{csv}: too few comparisons ran ({compared})"
    assert served / max(1, len(seen)) >= 0.6, (
        f"{csv}: local serve rate collapsed ({served}/{len(seen)})"
    )
    sample.unpersist()


# ---------------------------------------------------------------------------
# engine-level A/B: recommend() payload identical with the evaluator off
# ---------------------------------------------------------------------------


@pytest.mark.skipif(not os.path.isdir(REF), reason="reference corpus absent")
def test_recommend_identical_with_evaluator_disabled(spark, monkeypatch):
    from data_transformation_2022_spark.api import EngineSession

    def payload() -> str:
        s = EngineSession(spark, sample_cap=400)
        s.ingest_path(os.path.join(REF, "ie19.csv"))
        out = s.search()
        s.close()
        import json

        return json.dumps(out, sort_keys=True, default=str)

    from data_transformation_2022_spark import engine

    on = payload()
    monkeypatch.setattr(engine, "eval_steps_local", lambda *a: None)
    off = payload()
    assert on == off


def test_refused_chains_derived_once(spark, monkeypatch):
    """Nulls in ranked and arithmetic inputs make the evaluator refuse
    those chains: recommend() gives the same payload as with the
    evaluator patched out, and each refused chain is derived and
    collected on Spark once, however many core-Ts read it."""
    import collections
    import json

    from data_transformation_2022_spark import engine
    from data_transformation_2022_spark.operators.steps import steps_key
    from data_transformation_2022_spark.sources.readers import with_rid

    rs = np.random.RandomState(3)
    n = 80
    pdf = pd.DataFrame(
        {
            "grp": [f"g{i % 4}" for i in range(n)],
            "qty": [None if i % 9 == 4 else float(rs.randint(1, 50)) for i in range(n)],
            "price": [None if i % 11 == 7 else rs.randint(100, 9000) / 4 for i in range(n)],
            "disc": [rs.randint(0, 10) / 8 for _ in range(n)],
            "tax": [rs.randint(0, 8) / 16 for _ in range(n)],
        }
    )
    df = with_rid(spark.createDataFrame(pdf))

    derived = collections.Counter()
    sample_derived = engine.Executor._sample_derived

    def spy(self, steps):
        derived[steps_key(steps)] += 1
        return sample_derived(self, steps)

    monkeypatch.setattr(engine.Executor, "_sample_derived", spy)

    def payload() -> tuple[str, dict]:
        derived.clear()
        res = engine.recommend(
            df,
            dm_ts=["pca", "kmeans", "mds", "dbscan"],
            chart_types=["num_scatter", "cat_scatter"],
            sample_cap=60,
        )
        return json.dumps(json.loads(res.to_json()), sort_keys=True), dict(derived)

    on, refused = payload()
    assert json.loads(on)["charts"], "no chart to compare"
    assert any(k[0][0] == "rank" for k in refused), "no refused rank chain"
    assert any(k[0][0] in ("sum", "sub", "mul", "div") for k in refused), (
        "no refused arithmetic chain"
    )
    assert set(refused.values()) == {1}, refused
    monkeypatch.setattr(engine, "eval_steps_local", lambda *a: None)
    off, every = payload()
    assert off == on
    assert set(refused) < set(every) and set(every.values()) == {1}, every


def test_sample_frame_once_under_contention(spark):
    """More threads than cores ask for the same chains at once: a
    refused chain is derived on Spark once and every caller gets the
    same read-only frame; a chain whose derivation fails raises in
    every caller, leaves no memo entry and deadlocks no one."""
    import collections
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from data_transformation_2022_spark import engine
    from data_transformation_2022_spark.operators.steps import steps_key

    pdf = pd.DataFrame(
        {
            RID: np.arange(30, dtype=np.int64),
            "a": [None if i % 7 == 2 else float(i % 5) for i in range(30)],
            "b": np.linspace(0.0, 1.0, 30),
        }
    )
    ex = engine.Executor(spark.createDataFrame(pdf), 30)
    refused = [
        Step(t="rank", i_type="==", i=["a", "b"], o_type="append", index=["ra", "rb"])
    ]
    failing = [Step(t="select", i_type="==", i=["missing"], o_type="new_table")]
    derived = collections.Counter()
    sample_derived = ex._sample_derived

    def spy(steps):
        derived[steps_key(steps)] += 1
        return sample_derived(steps)

    ex._sample_derived = spy
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            futs = [pool.submit(ex._sample_frame, refused) for _ in range(32)]
            bad = [pool.submit(ex._sample_frame, failing) for _ in range(32)]
            frames = [f.result(timeout=300)[0] for f in futs]
            errors = [f.exception(timeout=300) for f in bad]
    finally:
        sys.setswitchinterval(interval)
        ex.release()
    assert derived[steps_key(refused)] == 1
    assert all(f is frames[0] for f in frames)
    assert list(frames[0][RID]) == list(range(30))
    assert not frames[0]["rb"].to_numpy().flags.writeable
    assert all(e is not None for e in errors)
    assert steps_key(failing) not in ex._sample_frames
