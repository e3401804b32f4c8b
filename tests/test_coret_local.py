"""Equivalence harness for the driver-side core-T evaluator
(ml/coret_local.py) against the live Spark runners.

Contract under test (mirror of test_steps_local): whenever
``eval_coret_local`` returns non-None it must equal
``CORE_T_RUNNERS[t](derived).toPandas()`` byte-for-byte — values,
dtypes, column order, row order. ``None`` means "use Spark"; the tests
also pin WHICH shapes must fall back (nulls/NaN/decimal for pca+kmeans,
rank chains for the order-bound runners, lda always) and that the
order-free transforms (mds/dbscan/tsne/umap) keep serving for rank
chains and null-bearing frames. The decimal(38,30) cast replication is
tripwired against the LIVE Spark cast so a JVM whose Double.toString
diverges from Python repr fails here instead of drifting silently.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from data_transformation_2022_spark.ml.coret import CORE_T_RUNNERS
from data_transformation_2022_spark.ml.coret_local import (
    _dec_cast,
    eval_coret_local,
)
from data_transformation_2022_spark.operators.steps import (
    RID,
    Step,
    apply_tpath,
    small_input_mode,
)
from data_transformation_2022_spark.operators.steps_local import eval_steps_local

LOCAL_CORETS = ("pca", "kmeans", "mds", "dbscan", "tsne", "umap")


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


def _assert_serves(spark, pdf, coret, steps=None, rid_order=True):
    sdf = spark.createDataFrame(pdf)
    dtypes = sdf.dtypes
    dpdf = pdf
    if steps:
        res = eval_steps_local(pdf, dtypes, steps)
        assert res is not None, f"step evaluator refused {steps}"
        dpdf, dtypes = res
        with small_input_mode():
            sdf = apply_tpath(sdf, steps)
    loc = eval_coret_local(dpdf, dtypes, coret, rid_order=rid_order)
    assert loc is not None, f"expected local serve for {coret}"
    with small_input_mode():
        sp = CORE_T_RUNNERS[coret](sdf)
    assert sp is not None
    spdf = sp.toPandas()
    # order-free runners re-sort by RID internally, so both frames are
    # RID-ordered; order-bound runners emit the derived frame's order,
    # which equals RID here by construction
    pd.testing.assert_frame_equal(
        loc.reset_index(drop=True),
        spdf.reset_index(drop=True),
        check_exact=True,
        check_dtype=True,
    )


def _assert_fallback(pdf, dtypes, coret, rid_order=True):
    assert (
        eval_coret_local(pdf, dtypes, coret, rid_order=rid_order) is None
    ), f"expected fallback for {coret}"


@pytest.mark.parametrize("coret", LOCAL_CORETS)
def test_select_only_byte_equal(spark, coret):
    _assert_serves(spark, _base_pdf(), coret)


@pytest.mark.parametrize("coret", ("mds", "dbscan"))
def test_order_free_serve_rank_chain(spark, coret):
    """Rank chains reorder the Spark derived frame, but the sample-bound
    transforms re-sort by RID — they must keep serving (values ranked by
    the pinned steps_local contract) and match byte-for-byte."""
    steps = [
        Step(t="rank", i_type="==", i=["a", "b", "d"], o_type="append",
             index=["rank a", "rank b", "rank d"]),
        Step(t="select", i_type="==", i=["rank a", "rank b", "rank d"],
             o_type="new_table", index=[]),
    ]
    _assert_serves(spark, _base_pdf(), coret, steps=steps, rid_order=False)


@pytest.mark.parametrize("coret", ("pca", "kmeans"))
def test_order_bound_fallback_on_rank(spark, coret):
    pdf = _base_pdf()
    sdf = spark.createDataFrame(pdf)
    _assert_fallback(pdf, sdf.dtypes, coret, rid_order=False)


@pytest.mark.parametrize("coret", ("pca", "kmeans"))
def test_fallback_on_nulls_and_nan(spark, coret):
    pdf = _base_pdf()
    pdf.loc[3, "b"] = np.nan
    sdf = spark.createDataFrame(pdf)
    _assert_fallback(pdf, sdf.dtypes, coret)


@pytest.mark.parametrize("coret", ("mds", "dbscan"))
def test_order_free_serves_with_nan(spark, coret):
    """NaN flows through the SAME numpy on both paths — still exact."""
    pdf = _base_pdf()
    pdf.loc[3, "b"] = np.nan
    _assert_serves(spark, pdf, coret)


@pytest.mark.parametrize("coret", ("pca", "kmeans"))
def test_fallback_on_decimal(spark, coret):
    from decimal import Decimal

    from pyspark.sql import functions as F

    pdf = _base_pdf()
    sdf = spark.createDataFrame(pdf).withColumn(
        "e", F.col("a").cast("decimal(20,2)")
    )
    dpdf = sdf.toPandas()
    _assert_fallback(dpdf, sdf.dtypes, coret)
    assert isinstance(dpdf["e"].iloc[0], Decimal)


def test_fallback_lda_and_proven_none_guard(spark):
    from data_transformation_2022_spark.ml.coret_local import PROVEN_NONE

    pdf = _base_pdf()
    sdf = spark.createDataFrame(pdf)
    _assert_fallback(pdf, sdf.dtypes, "lda")
    # < MIN_NUMERIC_COLS: the None result is PROVEN from the schema —
    # and it must agree with the live Spark runner's guard
    narrow = pdf[[RID, "a", "b"]]
    ntypes = [(RID, "bigint"), ("a", "bigint"), ("b", "double")]
    for t in ("pca", "kmeans", "mds", "dbscan", "tsne", "umap", "lda"):
        assert eval_coret_local(narrow, ntypes, t, rid_order=True) is PROVEN_NONE
        assert eval_coret_local(narrow, ntypes, t, rid_order=False) is PROVEN_NONE
    nsdf = spark.createDataFrame(narrow)
    with small_input_mode():
        assert CORE_T_RUNNERS["pca"](nsdf) is None
        assert CORE_T_RUNNERS["mds"](nsdf) is None


def test_pca_wide_path_byte_equal(spark):
    """>PCA_EXACT_MAX_COLS columns → the sample-fit branch, replicated."""
    rs = np.random.RandomState(11)
    n, p = 60, 35
    data = {RID: np.arange(n, dtype=np.int64)}
    for i in range(p):
        data[f"w{i:02d}"] = rs.rand(n) * (i + 1)
    _assert_serves(spark, pd.DataFrame(data), "pca")


def test_decimal_cast_matches_live_spark(spark):
    """JVM tripwire: Decimal(repr(x)).quantize(1e-30, HALF_UP) must equal
    the live CAST(double AS DECIMAL(38,30)) — shortest-round-trip string
    semantics. 16M-value sweep done offline (0 mismatches); this keeps a
    fast randomized guard in CI."""
    from pyspark.sql import functions as F

    df = spark.range(20_000).select(
        F.rand(seed=5).alias("u"),
        (F.rand(seed=6) * F.rand(seed=7)).alias("prod"),
        (F.rand(seed=8) * F.pow(F.lit(10.0), -(F.col("id") % 30).cast("double"))).alias("tiny"),
    )
    pdf = df.select(
        "u", "prod", "tiny",
        F.col("u").cast("decimal(38,30)").alias("ud"),
        F.col("prod").cast("decimal(38,30)").alias("prodd"),
        F.col("tiny").cast("decimal(38,30)").alias("tinyd"),
    ).toPandas()
    for c, dc in (("u", "ud"), ("prod", "prodd"), ("tiny", "tinyd")):
        for v, d in zip(pdf[c].to_numpy(), pdf[dc]):
            assert _dec_cast(float(v)) == d, f"cast drift at {v!r}"


def test_bench_pool_serve_rate(spark, sf_dir):
    """Rot-guard: the unranked core-T-eligible dm candidates of the
    bench table must SERVE locally (and byte-match Spark), so the
    optimization can't silently decay into always-fallback."""
    from data_transformation_2022_spark.engine import Executor
    from data_transformation_2022_spark.plans.search import enumerate_tpaths
    from data_transformation_2022_spark.profiler import profile_table
    from data_transformation_2022_spark.queries import _t

    li = _t(spark, sf_dir, "lineitem", rid=True)
    pools = enumerate_tpaths(profile_table(li), max_depth=2)
    ex = Executor(li, 120)
    try:
        eligible = [
            c for c in pools["dm"]
            if not any(s.t in ("sum", "sub", "mul", "div", "rank", "nominalize") for s in c.steps)
        ]
        assert eligible, "bench dm pool lost its unranked candidates"
        served = compared = 0
        for cand in eligible:
            for t in ("pca", "kmeans"):
                loc, ok = ex._local_coret_frame(cand, t)
                if not ok:
                    continue
                served += 1
                with small_input_mode():
                    derived = ex._sample_derived(cand.steps)
                    sp = CORE_T_RUNNERS[t](derived)
                if sp is None or loc is None:
                    assert sp is None and loc is None
                    continue
                compared += 1
                pd.testing.assert_frame_equal(
                    loc.reset_index(drop=True),
                    sp.toPandas().reset_index(drop=True),
                    check_exact=True,
                    check_dtype=True,
                )
        assert served >= 2 * len(eligible) * 0.5, (
            f"core-T local serve rate collapsed ({served}/{2 * len(eligible)})"
        )
        assert compared >= 1
    finally:
        ex.release()
