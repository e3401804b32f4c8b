"""Driver-side (pandas/numpy) core-Ts for the engine's chart frames.

Every engine chart frame is bounded by the engine's collected sample,
as the reference fits its core-Ts with sklearn on at most 400 rows. So
``Executor.channel_frame`` computes its pca, kmeans, mds, tsne, umap and
dbscan frames here, in float64 numpy. The distributed Spark runners in
``ml/coret`` stay for the registry queries and for lda/lida.

Contract of ``eval_coret_local(dpdf, dtypes, coret)``:

* the input is a step chain's frame over the sample, in any row order,
  with its Spark types; the output is ``__rid`` + the core-T's columns
  in RID order, or ``None`` when the runner's numeric-column guard fails
  (or the sample has no rows);
* kmeans, mds, tsne, umap and dbscan equal the Spark runner's output
  sorted by RID; a NaN in the sample is a SQL null;
* pca fits in float64 at every width (``coret.pca_moments``) and agrees
  with the Spark runner to round-off. Axes whose eigenvalue is round-off
  (a rank-deficient input) are exact zeros, as in ``classical_mds``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..operators.steps import _NUMERIC_SPARK_TYPES, RID
from . import coret as _coret

CORETS = ("pca", "kmeans", "mds", "tsne", "umap", "dbscan")


def eval_coret_local(
    dpdf: pd.DataFrame, dtypes: list[tuple[str, str]], coret: str
) -> pd.DataFrame | None:
    """Core-T ``coret`` (pca, kmeans, mds, tsne, umap or dbscan) of the
    sample frame ``dpdf``, whose Spark types are ``dtypes``."""
    cols = [
        c for c, t in dtypes if t.split("(")[0] in _NUMERIC_SPARK_TYPES and c != RID
    ]
    if len(cols) < _coret.MIN_NUMERIC_COLS or dpdf.empty:
        return None
    pdf = dpdf.sort_values(RID, kind="mergesort", ignore_index=True)
    if coret == "pca":
        out = _pca(pdf, cols)
    elif coret == "kmeans":
        out = _kmeans(pdf, cols)
    else:
        out = _coret.transform_sample(pdf.head(_coret.SAMPLE_CAP), cols, coret)
    out[RID] = out[RID].astype("int64")
    return out


def _pca(pdf: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    x = pdf[cols].to_numpy(dtype=float)
    fit = _coret._pca_pack(cols, *_coret.pca_moments(x), cut_rows=len(x))
    scaled = (x - np.array(fit["lo"])) / np.array(fit["span"])
    out = pd.DataFrame({RID: pdf[RID].to_numpy()})
    # run_pca's projection: one left-folded sum per component
    for k, name in enumerate(("PC1", "PC2")):
        acc = np.zeros(len(x))
        for i in range(len(cols)):
            acc = acc + (scaled[:, i] - fit["mean"][i]) * fit["basis"][i][k]
        out[name] = acc
    return out


def _bounds(s: pd.Series) -> tuple[float, float]:
    """kmeans_fit's scaling constants: min and max skip nulls, and the
    span is taken on the collected values (exact for ints and decimals)."""
    mn, mx = s.min(), s.max()
    if pd.isna(mn):
        return 0.0, 1.0
    if s.dtype.kind in "iu":
        mn, mx = int(mn), int(mx)
    return float(mn), float(mx - mn) if mx > mn else 1.0


def _kmeans(pdf: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    lo, span = np.array([_bounds(pdf[c]) for c in cols]).T
    scaled = (pdf[cols].to_numpy(dtype=float) - lo) / span
    centers = _coret._lloyd(
        scaled[: _coret.KMEANS_FIT_CAP], _coret.KMEANS_K, _coret.KMEANS_SEED
    )
    # run_kmeans's assignment: left-folded squared distances, then a
    # when-chain where a strict < keeps the first best. Spark orders NaN
    # above every number; a null row (NaN here) stays in cluster 0.
    pred = np.zeros(len(pdf), dtype=np.int64)
    best = None
    for j, center in enumerate(centers):
        d = np.zeros(len(pdf))
        for i in range(len(cols)):
            diff = scaled[:, i] - center[i]
            d = d + diff * diff
        if best is None:
            best = d
            continue
        m = ~np.isnan(d) & (np.isnan(best) | (d < best))
        pred[m] = j
        best = np.where(m, d, best)
    return pd.DataFrame(
        {RID: pdf[RID].to_numpy(), "Category by KMeans": [str(v) for v in pred]}
    )
