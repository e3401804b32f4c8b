"""Contract of the engine's driver-side core-Ts (ml/coret_local.py)
against the live Spark runners of ml/coret.py.

* pca equals the float64 numpy reference written here bit for bit, and
  the Spark runner within 1e-12: the narrow runner sums its moments in
  DECIMAL(38,30), the engine in float64, so the two agree to round-off
  only;
* kmeans, mds, dbscan, tsne and umap equal the Spark runner's output
  sorted by RID, value for value;
* both hold for select-only, wide, rank-chain, null-bearing and decimal
  inputs, and fewer than MIN_NUMERIC_COLS numeric columns give None
  without a Spark job;
* the engine's frames for these six never call the Spark runners, even
  for chains the step evaluator refuses.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_transformation_2022_spark.ml.coret import CORE_T_RUNNERS, MIN_NUMERIC_COLS
from data_transformation_2022_spark.ml.coret_local import CORETS, eval_coret_local
from data_transformation_2022_spark.operators.steps import (
    RID,
    Step,
    apply_tpath,
    small_input_mode,
)
from data_transformation_2022_spark.operators.steps_local import eval_steps_local

_NUMERIC = {"int", "bigint", "smallint", "tinyint", "float", "double", "decimal"}

RANK_CHAIN = [
    Step(t="rank", i_type="==", i=["a", "b", "d"], o_type="append",
         index=["rank a", "rank b", "rank d"]),
    Step(t="select", i_type="==", i=["rank a", "rank b", "rank d"],
         o_type="new_table", index=[]),
]


def _base_pdf(n: int = 40) -> pd.DataFrame:
    rs = np.random.RandomState(7)
    return pd.DataFrame(
        {
            RID: np.arange(n, dtype=np.int64),
            "a": rs.randint(0, 1_000_000, n).astype(np.int64),
            "b": rs.rand(n) * 100.0,
            "c": rs.randint(-50, 50, n).astype(np.int32),
            "d": rs.rand(n) - 0.5,
        }
    )


def _pca_reference(dpdf: pd.DataFrame, dtypes) -> pd.DataFrame:
    """Float64 PCA of the sample: null-skipping min/max scaling, centred
    moments over all n rows with a null as a scaled 0, top-2
    eigenvectors with the largest |loading| positive, round-off axes
    zeroed, and run_pca's left-folded projection."""
    cols = [c for c, t in dtypes if c != RID and t.split("(")[0] in _NUMERIC]
    pdf = dpdf.sort_values(RID, kind="mergesort", ignore_index=True)
    x = pdf[cols].to_numpy(dtype=float)
    n, p = x.shape
    lo, hi = np.nanmin(x, axis=0), np.nanmax(x, axis=0)
    span = np.where(hi > lo, hi - lo, 1.0)
    s = np.nan_to_num((x - lo) / span, nan=0.0)
    mean = s.sum(axis=0) / n
    c = s - mean
    w, v = np.linalg.eigh((c.T @ c) / n)
    top = np.argsort(w)[::-1][:2]
    basis = v[:, top]
    basis *= np.where(basis[np.abs(basis).argmax(axis=0), [0, 1]] < 0, -1.0, 1.0)
    basis[:, w[top] <= w.max() * max(n, p) * np.finfo(float).eps] = 0.0
    scaled = (x - lo) / span
    out = pd.DataFrame({RID: pdf[RID].to_numpy().astype("int64")})
    for k in range(2):
        acc = np.zeros(n)
        for i in range(p):
            acc = acc + (scaled[:, i] - mean[i]) * basis[i, k]
        out[f"PC{k + 1}"] = acc
    return out


def _assert_matches(coret, dpdf, dtypes, sdf) -> None:
    """Engine frame vs the pca reference and the Spark runner's output
    sorted by RID."""
    loc = eval_coret_local(dpdf, dtypes, coret)
    assert loc is not None, f"{coret} returned None"
    with small_input_mode():
        sp = CORE_T_RUNNERS[coret](sdf)
    assert sp is not None
    spdf = sp.toPandas().sort_values(RID, kind="mergesort", ignore_index=True)
    if coret == "pca":
        pd.testing.assert_frame_equal(loc, _pca_reference(dpdf, dtypes), check_exact=True)
        pd.testing.assert_frame_equal(loc, spdf, check_exact=False, rtol=0, atol=1e-12)
    else:
        pd.testing.assert_frame_equal(loc, spdf, check_exact=True)


def _assert_serves(spark, pdf, coret, steps=None):
    sdf = spark.createDataFrame(pdf)
    dpdf, dtypes = pdf, sdf.dtypes
    if steps:
        res = eval_steps_local(pdf, dtypes, steps)
        assert res is not None, f"step evaluator refused {steps}"
        dpdf, dtypes = res
        with small_input_mode():
            sdf = apply_tpath(sdf, steps)
    _assert_matches(coret, dpdf, dtypes, sdf)


@pytest.mark.parametrize("coret", CORETS)
def test_select_only_byte_equal(spark, coret):
    _assert_serves(spark, _base_pdf(), coret)


def test_pca_wide_path_byte_equal(spark):
    """>PCA_EXACT_MAX_COLS columns: the Spark runner's sample fit."""
    rs = np.random.RandomState(11)
    n, p = 60, 35
    data = {RID: np.arange(n, dtype=np.int64)}
    for i in range(p):
        data[f"w{i:02d}"] = rs.rand(n) * (i + 1)
    _assert_serves(spark, pd.DataFrame(data), "pca")


@pytest.mark.parametrize("coret", ("mds", "dbscan", "tsne", "umap"))
def test_order_free_serve_rank_chain(spark, coret):
    """Rank chains reorder the Spark derived frame; the sample runners
    re-sort by RID, and so does the engine."""
    _assert_serves(spark, _base_pdf(), coret, steps=RANK_CHAIN)


@pytest.mark.parametrize("coret", ("pca", "kmeans"))
def test_serves_rank_chain(spark, coret):
    """pca and kmeans emit the derived frame's own (window) order on
    Spark; the engine's frame is that output sorted by RID."""
    _assert_serves(spark, _base_pdf(), coret, steps=RANK_CHAIN)


@pytest.mark.parametrize("coret", ("mds", "dbscan", "umap"))
def test_order_free_serves_with_nan(spark, coret):
    """NaN flows through the SAME numpy on both paths — still exact.
    (t-SNE's numpy raises on NaN, on both paths alike.)"""
    pdf = _base_pdf()
    pdf.loc[3, "b"] = np.nan
    _assert_serves(spark, pdf, coret)


@pytest.mark.parametrize("coret", ("pca", "kmeans"))
def test_serves_nulls(spark, coret):
    """SQL nulls in a double and an int column: the fits skip them,
    their rows project to null (pca) or stay in cluster 0 (kmeans)."""
    sdf = (
        spark.createDataFrame(_base_pdf())
        .withColumn("b", F.when(F.col(RID) == 3, None).otherwise(F.col("b")))
        .withColumn("c", F.when(F.col(RID) == 5, None).otherwise(F.col("c")))
    )
    dpdf = sdf.toPandas()
    assert dpdf["b"].isna().sum() == 1 and dpdf["c"].isna().sum() == 1
    _assert_matches(coret, dpdf, sdf.dtypes, sdf)


def test_kmeans_centers_skip_null_rows(spark):
    """A null cell does not poison its k-means center: the fit equals
    the one on the frame with that row dropped, and the engine and the
    Spark runner assign the null-bearing frame alike."""
    from data_transformation_2022_spark.ml.coret import kmeans_fit

    sdf = spark.createDataFrame(_base_pdf()).withColumn(
        "b", F.when(F.col(RID) == 3, None).otherwise(F.col("b"))
    )
    fit = kmeans_fit(sdf)
    dropped = kmeans_fit(sdf.filter(F.col(RID) != 3))
    # row 3 holds no column's min or max, so only the null can differ
    assert (fit["lo"], fit["span"]) == (dropped["lo"], dropped["span"])
    assert np.isfinite(fit["centers"]).all()
    assert fit["centers"] == dropped["centers"]
    _assert_matches("kmeans", sdf.toPandas(), sdf.dtypes, sdf)


@pytest.mark.parametrize("coret", CORETS)
def test_serves_decimal(spark, coret):
    from decimal import Decimal

    sdf = spark.createDataFrame(_base_pdf()).withColumn(
        "e", F.col("b").cast("decimal(20,4)")
    )
    dpdf = sdf.toPandas()
    assert isinstance(dpdf["e"].iloc[0], Decimal)
    _assert_matches(coret, dpdf, sdf.dtypes, sdf)


def test_guard_returns_none_without_jobs(spark, sf_dir, jobs_submitted):
    """Fewer than MIN_NUMERIC_COLS numeric columns: None, like the
    Spark runners' guard, and no Spark job — in the evaluator and in
    the engine's channel frame of a step chain it serves."""
    from data_transformation_2022_spark.engine import Executor
    from data_transformation_2022_spark.plans.search import Candidate
    from data_transformation_2022_spark.sources.readers import load_table

    pdf = _base_pdf()
    narrow = pdf[[RID, "a", "b"]]
    ntypes = [(RID, "bigint"), ("a", "bigint"), ("b", "double")]
    assert len(ntypes) - 1 < MIN_NUMERIC_COLS
    before = jobs_submitted()
    for t in CORETS:
        assert eval_coret_local(narrow, ntypes, t) is None
    assert jobs_submitted() == before
    nsdf = spark.createDataFrame(narrow)
    with small_input_mode():
        assert CORE_T_RUNNERS["pca"](nsdf) is None
        assert CORE_T_RUNNERS["mds"](nsdf) is None

    li = load_table(spark, sf_dir, "lineitem", rid=True)
    cols = ["l_quantity", "l_extendedprice"]
    cand = Candidate(
        family="dm",
        steps=[Step(t="select", i_type="==", i=cols, o_type="new_table")],
        out_cols=cols,
    )
    ex = Executor(li, 50)
    try:
        ex._sample_local()  # the one collect of the sample
        before = jobs_submitted()
        for t in CORETS:
            assert ex.channel_frame(cand, t) is None
        assert jobs_submitted() == before
    finally:
        ex.release()


def test_bench_pool_serve_rate(spark, sf_dir):
    """Rot-guard: every dm candidate of the bench table, rank and
    arithmetic chains included, gets its sample frame from the step
    evaluator, and the pca and kmeans frames computed on it match the
    Spark runners (sorted by RID; pca within 1e-12)."""
    from data_transformation_2022_spark.engine import Executor
    from data_transformation_2022_spark.plans.search import enumerate_tpaths
    from data_transformation_2022_spark.profiler import profile_table
    from data_transformation_2022_spark.queries import _t

    li = _t(spark, sf_dir, "lineitem", rid=True)
    pools = enumerate_tpaths(profile_table(li), max_depth=2)
    ex = Executor(li, 120)
    try:
        compared = []
        for cand in pools["dm"]:
            res = eval_steps_local(*ex._sample_local(), cand.steps)
            assert res is not None, f"step evaluator refused {cand.steps}"
            for t in ("pca", "kmeans"):
                loc = eval_coret_local(*res, t)
                with small_input_mode():
                    sp = CORE_T_RUNNERS[t](ex._sample_derived(cand.steps))
                if sp is None:
                    assert loc is None
                    continue
                compared.append(cand)
                spdf = sp.toPandas().sort_values(RID, kind="mergesort", ignore_index=True)
                pd.testing.assert_frame_equal(
                    loc, spdf, check_exact=t != "pca", rtol=0, atol=1e-12
                )
        assert len(compared) >= 2 * 4
        assert any(s.t == "rank" for c in compared for s in c.steps), (
            "bench dm pool lost its rank chains"
        )
    finally:
        ex.release()


def test_core_t_frames_never_call_spark_runners(spark, sf_dir, monkeypatch):
    """One path: with the six Spark runners replaced by functions that
    raise, recommend() gives the same payload — also with the step
    evaluator patched out, so every chain's sample frame comes from
    Spark."""
    from data_transformation_2022_spark import engine
    from data_transformation_2022_spark.engine import recommend
    from data_transformation_2022_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem", rid=True)

    def payload() -> str:
        # exact t-SNE is O(n²): a small sample keeps the six cheap
        res = recommend(li, dm_ts=list(CORETS), sample_cap=60)
        return json.dumps(json.loads(res.to_json()), sort_keys=True)

    want = payload()
    used = {
        ch["t"]
        for chart in json.loads(want)["charts"]
        for ch in chart["channels"].values()
    }
    assert used & set(CORETS), "no core-T chart to compare"

    def runner_called(df):
        raise AssertionError("Spark core-T runner called for a chart frame")

    for t in CORETS:
        monkeypatch.setitem(CORE_T_RUNNERS, t, runner_called)
    assert payload() == want
    monkeypatch.setattr(engine, "eval_steps_local", lambda *a: None)
    assert payload() == want
