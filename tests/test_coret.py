"""Core-T ML operator tests: exactness (PCA vs numpy oracle), pinned
determinism, reference guards."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_transformation_2022_spark.ml.coret import (
    classical_mds,
    run_dbscan,
    run_kmeans,
    run_lda,
    run_mds,
    run_pca,
    run_tsne,
)

RID = "__rid"


@pytest.fixture(scope="module")
def num_df(spark):
    rng = np.random.RandomState(7)
    x = rng.normal(size=(300, 4)) @ rng.normal(size=(4, 4))
    pdf = pd.DataFrame(x, columns=["a", "b", "c", "d"])
    pdf[RID] = range(len(pdf))
    return spark.createDataFrame(pdf), x


def test_pca_matches_numpy_oracle(num_df):
    df, x = num_df
    out = run_pca(df).orderBy(RID).toPandas()
    s = (x - x.min(0)) / (x.max(0) - x.min(0))
    c = np.cov(s.T, bias=True)
    w, v = np.linalg.eigh(c)
    basis = v[:, np.argsort(w)[::-1][:2]]
    for k in range(2):
        if basis[np.argmax(np.abs(basis[:, k])), k] < 0:
            basis[:, k] = -basis[:, k]
    proj = (s - s.mean(0)) @ basis
    assert np.abs(out[["PC1", "PC2"]].to_numpy() - proj).max() < 1e-9


def test_kmeans_three_clusters_deterministic(num_df):
    df, _ = num_df
    a = run_kmeans(df).orderBy(RID).toPandas()
    b = run_kmeans(df).orderBy(RID).toPandas()
    assert a["Category by KMeans"].nunique() <= 3
    assert (a["Category by KMeans"] == b["Category by KMeans"]).all()  # seed=9 pinned


def test_mds_two_components(num_df):
    df, _ = num_df
    out = run_mds(df).toPandas()
    assert list(out.columns) == [RID, "MDS-1", "MDS-2"]
    assert len(out) == 300 and out["MDS-1"].std() > 0


def _torgerson(x: np.ndarray, k: int = 2) -> np.ndarray:
    """Textbook classical MDS: the top-k eigenvectors of the n×n
    double-centred squared-distance matrix −½·J·D²·J, scaled by √λ,
    each signed so its largest-|coordinate| is positive."""
    n = len(x)
    sq = ((x[:, None, :] - x[None, :, :]) ** 2).sum(-1)
    j = np.eye(n) - np.ones((n, n)) / n
    vals, vecs = np.linalg.eigh(-0.5 * j @ sq @ j)
    idx = np.argsort(vals)[::-1][:k]
    comp = vecs[:, idx] * np.sqrt(np.maximum(vals[idx], 0.0))
    for d in range(k):
        if comp[np.argmax(np.abs(comp[:, d])), d] < 0:
            comp[:, d] = -comp[:, d]
    return comp


@pytest.mark.parametrize("n", [30, 400, 1000])
def test_classical_mds_matches_torgerson(n):
    rs = np.random.RandomState(n)
    for p in range(3, 12):
        x = rs.rand(n, p)
        x[: n // 5] = x[0]  # duplicate rows
        x[:, 1] = np.round(x[:, 1] * 4) / 4  # tied values
        got, want = classical_mds(x), _torgerson(x)
        assert got.shape == (n, 2)
        assert np.abs(got - want).max() <= 1e-9, p
        assert np.array_equal(np.round(got, 6), np.round(want, 6)), p


def test_classical_mds_rank_deficient_axes_are_exact_zeros():
    t = np.linspace(0.0, 1.0, 50)
    rank1 = np.outer(t, [1.0, 2.0, 3.0]) + 0.25
    out = classical_mds(rank1)
    assert np.abs(out[:, 0]).max() > 0 and (out[:, 1] == 0.0).all()
    rs = np.random.RandomState(3)
    rank2 = rs.rand(40, 2) @ rs.rand(2, 6)
    out = classical_mds(rank2, k=4)
    assert (np.abs(out[:, :2]).max(axis=0) > 0).all()
    assert (out[:, 2:] == 0.0).all()
    assert (classical_mds(np.ones((10, 3))) == 0.0).all()


def test_classical_mds_one_column_and_non_finite():
    x = np.array([[1.0], [2.0], [4.0], [9.0]])
    out = classical_mds(x)
    assert out.shape == (4, 2)
    assert np.allclose(out[:, 0], x[:, 0] - x.mean())
    assert (out[:, 1] == 0.0).all()
    for n in (20, 40):
        x = np.random.RandomState(n).rand(n, 3)
        x[3, 1] = np.nan
        out = classical_mds(x)
        assert out.shape == (n, 2) and np.isnan(out).all()
        x[3, 1] = np.inf
        assert np.isnan(classical_mds(x)).all()


def test_numpy_tsne_deterministic_and_cluster_preserving():
    import numpy as np

    from data_transformation_2022_spark.ml.coret import numpy_tsne

    rng = np.random.RandomState(1)
    x = np.vstack([rng.randn(60, 4) * 0.3, rng.randn(60, 4) * 0.3 + 5.0])
    labels = np.array([0] * 60 + [1] * 60)
    y1, y2 = numpy_tsne(x), numpy_tsne(x)
    assert np.array_equal(y1, y2)  # no randomness anywhere
    assert y1.shape == (120, 2) and np.isfinite(y1).all()
    # neighborhood preservation: 1-NN in embedding stays within class
    d = ((y1[:, None, :] - y1[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(d, np.inf)
    assert (labels[d.argmin(1)] == labels).mean() >= 0.9


def test_run_tsne_emits_real_embedding(num_df):
    df, _ = num_df
    out = run_tsne(df).orderBy(RID).toPandas()
    assert list(out.columns) == [RID, "tSNE-1", "tSNE-2"]
    assert len(out) == 300 and out["tSNE-1"].std() > 0
    # distinguishable from the former MDS fallback: t-SNE output is not
    # a linear projection of the input, MDS on these points is
    mds = run_mds(df).orderBy(RID).toPandas()
    assert not (out["tSNE-1"].to_numpy() == mds["MDS-1"].to_numpy()).all()


def test_numpy_umap_deterministic_and_cluster_preserving():
    import numpy as np

    from data_transformation_2022_spark.ml.coret import numpy_umap

    rng = np.random.RandomState(1)
    x = np.vstack([rng.randn(60, 4) * 0.3, rng.randn(60, 4) * 0.3 + 5.0])
    labels = np.array([0] * 60 + [1] * 60)
    y1, y2 = numpy_umap(x), numpy_umap(x)
    assert np.array_equal(y1, y2)  # full-batch optimizer: no randomness
    assert y1.shape == (120, 2) and np.isfinite(y1).all()
    d = ((y1[:, None, :] - y1[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(d, np.inf)
    assert (labels[d.argmin(1)] == labels).mean() >= 0.9


def test_run_umap_emits_real_embedding(num_df):
    from data_transformation_2022_spark.ml.coret import run_umap

    df, _ = num_df
    out = run_umap(df).orderBy(RID).toPandas()
    assert list(out.columns) == [RID, "UMAP-1", "UMAP-2"]
    assert len(out) == 300 and out["UMAP-1"].std() > 0
    mds = run_mds(df).orderBy(RID).toPandas()
    assert not (out["UMAP-1"].to_numpy() == mds["MDS-1"].to_numpy()).all()


def test_dbscan_labels_strings(num_df):
    df, _ = num_df
    out = run_dbscan(df).toPandas()
    assert out["Category by DBSCAN"].dtype == object
    assert len(out) == 300


def test_lda_readable_topic_labels(num_df):
    df, _ = num_df
    out = run_lda(df.limit(100)).toPandas()
    assert len(out) == 100
    # reference label shape: "w1*colA + w2*colB + ..." (Tfunctions.py:63-75)
    assert out["Category by LDA"].str.contains(r"\*").all()


def test_lda_token_plan_is_scale_safe(spark, sf_dir):
    # the rank→token construction must not contain an unpartitioned
    # global Sort (one reducer per column) — it goes through
    # global_ranks_multi's bucket-partitioned windows even on a full
    # table input
    import io
    from contextlib import redirect_stdout

    from data_transformation_2022_spark.functions.order import global_ranks_multi
    from data_transformation_2022_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem", rid=True).select(
        RID, "l_quantity", "l_extendedprice", "l_discount"
    )
    ranked = global_ranks_multi(
        li,
        ["l_quantity", "l_extendedprice", "l_discount"],
        ["r1", "r2", "r3"],
        tie_col=RID,
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        ranked.explain("formatted")
    assert "SinglePartition" not in buf.getvalue()


def test_min_numeric_cols_guard(spark):
    pdf = pd.DataFrame({"a": [1.0, 2.0, 3.0], "b": [4.0, 5.0, 6.0]})
    pdf[RID] = range(3)
    df = spark.createDataFrame(pdf)
    assert run_pca(df) is None  # >2 numeric cols required (Tengine.py:217-220)
    assert run_kmeans(df) is None


def test_wide_pca_tolerates_null_cells(spark):
    """Wide (>32-col) PCA fits on a driver sample; a single null numeric
    cell must not NaN-poison lo/span/cov and drop the chart (the exact
    narrow path's Spark aggregates skip nulls)."""
    import numpy as np

    from data_transformation_2022_spark.ml.coret import pca_fit

    rs = np.random.RandomState(5)
    pdf = pd.DataFrame(
        rs.normal(size=(60, 40)), columns=[f"c{i}" for i in range(40)]
    )
    pdf.iloc[3, 7] = np.nan
    pdf.insert(0, RID, range(60))
    fit = pca_fit(spark.createDataFrame(pdf))
    assert fit is not None
    flat = np.array(fit["lo"] + fit["span"] + fit["mean"]) 
    assert np.isfinite(flat).all()
    assert np.isfinite(np.array(fit["basis"], dtype=float)).all()
