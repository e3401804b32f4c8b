"""Driver-side (pandas/numpy) evaluator for core-T runners over the
engine's bounded sample — the core-T extension of the steps_local
contract (r13 opt #3, VERDICT r13 "Next round" #1).

The engine's core-T channel frames run ``CORE_T_RUNNERS[t]`` over a
≤ ``sample_cap``-row derived sample and collect. The runners' math is
driver numpy either way (mds/tsne/umap/dbscan collect the sample and
compute locally; pca/kmeans fit from two bounded aggregates) — but each
invocation pays Catalyst plans + 2-3 Spark job round-trips on ≤500
rows (guide §1.2: the task here is the driver). This module evaluates
the SAME runner semantics directly on the pandas sample prefix that
``eval_steps_local`` proved equivalent to the Spark derivation.

Strict equivalence contract (same shape as operators/steps_local.py):

* ``eval_coret_local`` returns exactly what
  ``CORE_T_RUNNERS[t](derived).toPandas()`` would return — values,
  dtypes, column order, ROW order — or ``None`` whenever that cannot be
  proven from the tracked schema. ``None`` means "use the Spark path".
* Row-order proof: ``pca``/``kmeans`` emit rows in the derived frame's
  own order, which equals RID order only for chains with no
  rank/nominalize step (the cached sample collects RID-ascending; pure
  projections preserve it — the same invariant the step-only batch path
  already relies on). Chains containing rank/nominalize therefore fall
  back for these two. ``mds``/``tsne``/``umap``/``dbscan`` re-sort by
  RID inside ``_collect_sample``, so they are order-safe for ANY chain
  the step evaluator can prove.
* ``pca``'s exact path folds moment sums in DECIMAL(38,30). Spark's
  double→decimal cast routes through Java's shortest-round-trip
  ``Double.toString``; the local twin mirrors it with
  ``Decimal(repr(x)).quantize(1e-30, HALF_UP)`` — verified against the
  live cast over 16M values of the relevant classes (uniform, products,
  scaled ints, tiny magnitudes) with zero mismatches on this JVM, and
  pinned by tests/test_coret_local.py byte-equality against the LIVE
  Spark path (so a JVM whose Double.toString diverges from Python repr
  fails tests instead of drifting silently).
* Structural fallbacks: nulls/NaN anywhere in the consumed columns for
  pca/kmeans (Spark aggregates skip nulls and order NaN last — not
  re-verified here), decimal inputs for pca/kmeans (cast semantics),
  lda (distributed MLlib) and lida (label-column resolution) always.
* tests/test_coret_local.py pins the contract against the live Spark
  runners over typed frames and the real bench sample, plus a
  recommend()-level ON/OFF byte A/B. ``SPARK_GRAFT_NO_LOCAL_STEPS``
  disables this evaluator together with the step evaluator.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal, localcontext

import numpy as np
import pandas as pd

from ..operators.steps import RID, _NUMERIC_SPARK_TYPES
from . import coret as _coret

_DEC_Q = Decimal(1).scaleb(-30)  # decimal(38,30) quantum

# runners whose output row order is the derived frame's own order —
# servable only when that order is provably RID (no rank/nominalize)
_ORDER_BOUND = {"pca", "kmeans"}
# runners that re-sort by RID internally (_collect_sample) — order-safe
_ORDER_FREE = {"mds", "tsne", "umap", "dbscan"}
# runners whose FIRST act is the numeric-column guard (_guard_cols:
# < MIN_NUMERIC_COLS numeric columns → the runner returns None) — for
# these the None result is provable from the tracked schema alone
_GUARDED = _ORDER_BOUND | _ORDER_FREE | {"lda"}

# Sentinel: "the Spark runner would PROVABLY return None" — callers
# treat it as the final None result (skip the Spark path entirely),
# unlike a plain None return, which means "fall back to Spark".
PROVEN_NONE = object()


def _base(t: str) -> str:
    return t.split("(")[0]


def _numeric_cols(types: list[tuple[str, str]]) -> list[str]:
    """Mirror of steps.numeric_columns over tracked (name, sparkType)."""
    return [c for c, t in types if _base(t) in _NUMERIC_SPARK_TYPES and c != RID]


def _dec_cast(x: float) -> Decimal:
    """Spark's CAST(double AS DECIMAL(38,30)): shortest-round-trip
    decimal string (BigDecimal.valueOf == Double.toString == repr,
    empirically verified on this JVM; CI-pinned), HALF_UP at scale 30.
    Owns its precision context: a quantize to scale 30 can carry up to
    38 digits, past the default context's 28."""
    with localcontext() as ctx:
        ctx.prec = 50
        return Decimal(repr(x)).quantize(_DEC_Q, rounding=ROUND_HALF_UP)


def eval_coret_local(
    dpdf: pd.DataFrame,
    dtypes: list[tuple[str, str]],
    coret: str,
    rid_order: bool,
) -> pd.DataFrame | None:
    """Evaluate a core-T runner on the proven-equivalent pandas sample;
    return exactly ``CORE_T_RUNNERS[coret](derived).toPandas()`` or
    ``None`` when equivalence cannot be proven (caller uses Spark)."""
    tmap = dict(dtypes)
    cols = _numeric_cols(dtypes)
    if coret in _GUARDED and len(cols) < _coret.MIN_NUMERIC_COLS:
        # the runner's own _guard_cols would return None; the tracked
        # types ARE the derived schema (steps_local contract), so the
        # None result is proven without building the Spark derivation —
        # order-independent, hence checked before the rid_order gate
        return PROVEN_NONE
    if coret in _ORDER_BOUND and not rid_order:
        return None
    if coret not in _ORDER_BOUND and coret not in _ORDER_FREE:
        return None  # lda (distributed MLlib), lida, unknown
    if RID not in dpdf.columns:
        return None
    if coret in _ORDER_FREE:
        return _sample_transform_local(dpdf, cols, coret)
    # pca/kmeans: aggregate-fit paths, null/NaN- and decimal-sensitive
    for c in cols:
        if _base(tmap[c]) == "decimal":
            return None
    sub = dpdf[cols]
    if bool(sub.isna().any().any()):
        return None  # Spark aggregates skip nulls / order NaN last
    if coret == "pca":
        return _pca_local(dpdf, cols, tmap)
    return _kmeans_local(dpdf, cols, tmap)


# ---------------------------------------------------------------------------
# order-free sample transforms (mds / tsne / umap / dbscan)
# ---------------------------------------------------------------------------


def _sample_transform_local(dpdf: pd.DataFrame, cols: list[str], coret: str):
    """Mirror of coret._sample_transform: the Spark path collects
    ``select(RID, *cols).orderBy(RID).limit(2000)``, min-max scales,
    runs the SAME numpy function, then round-trips the result through
    ``createDataFrame(...).toPandas()`` (dtype-preserving for the
    int64/float64/str frames these produce)."""
    out_cols, fns = {
        "mds": (["MDS-1", "MDS-2"], _coret.classical_mds),
        "tsne": (["tSNE-1", "tSNE-2"], None),
        "umap": (["UMAP-1", "UMAP-2"], None),
        "dbscan": (["Category by DBSCAN"], None),
    }[coret]
    # resolve the exact fn the Spark runner would use (sklearn/umap-learn
    # gates): run_tsne/run_umap choose at call time — mirror that choice
    if coret == "tsne":
        try:
            from sklearn.manifold import TSNE  # noqa: F401

            return None  # library present: the Spark runner would use it
        except ImportError:
            fns = _coret.numpy_tsne
    elif coret == "umap":
        try:
            import umap  # noqa: F401

            return None
        except ImportError:
            fns = _coret.numpy_umap
    elif coret == "dbscan":
        def fns(x: np.ndarray) -> np.ndarray:
            return _coret.numpy_dbscan(
                x, _coret.DBSCAN_EPS, _coret.DBSCAN_MIN_SAMPLES
            ).astype(str)

    # _collect_sample: RID-ascending first 2000 rows of (RID, *cols)
    pdf = (
        dpdf[[RID, *cols]]
        .sort_values(RID, kind="mergesort")
        .head(2000)
        .reset_index(drop=True)
    )
    x = pdf[cols].to_numpy(dtype=float)
    lo, hi = x.min(axis=0), x.max(axis=0)
    span = np.where(hi > lo, hi - lo, 1.0)
    scaled = (x - lo) / span
    res = fns(scaled)
    out = pd.DataFrame({RID: pdf[RID].to_numpy()})
    for i, c in enumerate(out_cols):
        vals = res[:, i] if res.ndim == 2 else res
        # createDataFrame→toPandas round trip: numpy str arrays land as
        # object columns of python str; numeric stays float64
        out[c] = [str(v) for v in vals] if vals.dtype.kind in "US" else vals
    # the Spark runner's output RID type follows createDataFrame's
    # inference (int64 → bigint); dpdf's RID is bigint by contract
    out[RID] = out[RID].astype("int64")
    return out


# ---------------------------------------------------------------------------
# pca (exact decimal-moment fit + literal projection)
# ---------------------------------------------------------------------------


def _to_f64(series: pd.Series) -> np.ndarray:
    """The implicit Spark cast to double that binary ops apply."""
    return series.to_numpy().astype(np.float64)


def _pca_local(dpdf: pd.DataFrame, cols: list[str], tmap: dict[str, str]):
    p = len(cols)
    n = len(dpdf)
    if n == 0:
        return None  # fit returns None either way; let Spark produce it
    if p > _coret.PCA_EXACT_MAX_COLS:
        # wide path: fit on the RID-ordered first PCA_WIDE_SAMPLE_CAP
        # rows — same numpy code as pca_fit's wide branch
        pdf = (
            dpdf[[RID, *cols]]
            .sort_values(RID, kind="mergesort")
            .head(_coret.PCA_WIDE_SAMPLE_CAP)
            .reset_index(drop=True)
        )
        x = pdf[cols].to_numpy(dtype=float)
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            lo = np.nanmin(x, axis=0)
            hi = np.nanmax(x, axis=0)
        span = np.where(hi > lo, hi - lo, 1.0)
        xs = (x - lo) / span
        mean = np.nansum(xs, axis=0) / len(xs)
        centered = np.nan_to_num(xs - mean, nan=0.0)
        cov = (centered.T @ centered) / len(xs)
        fit = _coret._pca_pack(cols, lo, span, mean, cov)
    else:
        # exact path: min/max in native types, then the decimal(38,30)
        # moment sums — Spark's SUM over the cast values, replayed with
        # exact Decimal arithmetic in the same quantum
        raw = {c: dpdf[c].to_numpy() for c in cols}
        lo = np.array([raw[c].min() for c in cols], dtype=float)
        hi = np.array([raw[c].max() for c in cols], dtype=float)
        span = np.where(hi > lo, hi - lo, 1.0)
        scaled = [
            (_to_f64(dpdf[c]) - lo[i]) / span[i] for i, c in enumerate(cols)
        ]
        mean = np.empty(p)
        cov = np.zeros((p, p))
        with localcontext() as ctx:
            ctx.prec = 50  # |sum| < n·10 → well within 50 digits, exact
            for i in range(p):
                s_i = sum((_dec_cast(v) for v in scaled[i]), Decimal(0))
                mean[i] = float(s_i) / n
            for i in range(p):
                si = scaled[i]
                for j in range(i, p):
                    prod = si * scaled[j]
                    q = sum((_dec_cast(v) for v in prod), Decimal(0))
                    cov[i, j] = cov[j, i] = float(q) / n - mean[i] * mean[j]
        fit = _coret._pca_pack(cols, lo, span, mean, cov)
    return _project_local(dpdf, fit, ("PC1", "PC2"))


def _project_local(dpdf: pd.DataFrame, fit: dict, names: tuple[str, str]):
    """coret._project_exprs replayed in numpy: the same left-folded
    double expression per component, elementwise (exact IEEE ops, no
    reductions — bit-identical to the codegen'd fold)."""
    cols, lo, span = fit["cols"], fit["lo"], fit["span"]
    mean, basis = fit["mean"], fit["basis"]
    n = len(dpdf)
    out = pd.DataFrame({RID: dpdf[RID].to_numpy()})
    scaled = [(_to_f64(dpdf[c]) - lo[i]) / span[i] for i, c in enumerate(cols)]
    for k, name in enumerate(names):
        acc = np.zeros(n)
        for i in range(len(cols)):
            acc = acc + (scaled[i] - mean[i]) * basis[i][k]
        out[name] = acc
    out[RID] = out[RID].astype("int64")
    return out.reset_index(drop=True)


# ---------------------------------------------------------------------------
# kmeans (min/max fit + seeded Lloyd's on the RID-ordered prefix)
# ---------------------------------------------------------------------------


def _kmeans_local(dpdf: pd.DataFrame, cols: list[str], tmap: dict[str, str]):
    n = len(dpdf)
    if n == 0:
        return None
    lo: list[float] = []
    span: list[float] = []
    for c in cols:
        arr = dpdf[c].to_numpy()
        mn, mx = arr.min(), arr.max()
        # kmeans_fit computes float(mx - mn) on the COLLECTED scalars:
        # exact int subtraction for integral columns, float64 for
        # floats (Row values are float64-promoted) — mirror both
        if arr.dtype.kind in "iu":
            mn_v, mx_v = int(mn), int(mx)
        else:
            mn_v, mx_v = float(mn), float(mx)
        lo.append(float(mn_v))
        span.append(float(mx_v - mn_v) if mx_v > mn_v else 1.0)
    scaled = [
        (_to_f64(dpdf[c]) - lo[i]) / span[i] for i, c in enumerate(cols)
    ]
    # fit sample: RID order == frame order (rid_order proven by caller),
    # first fit_cap rows (run_kmeans's default)
    sample = np.column_stack(scaled)[: _coret.KMEANS_FIT_CAP]
    if len(sample) == 0:
        return None
    centers = _coret._lloyd(sample, _coret.KMEANS_K, _coret.KMEANS_SEED)
    # assignment: the when-chain fold — strict < keeps the FIRST best
    dists = []
    for j in range(len(centers)):
        d = np.zeros(n)
        for i in range(len(cols)):
            diff = scaled[i] - float(centers[j, i])
            d = d + diff * diff
        dists.append(d)
    pred = np.zeros(n, dtype=np.int64)
    best = dists[0]
    for j in range(1, len(dists)):
        m = dists[j] < best
        pred = np.where(m, j, pred)
        best = np.where(m, dists[j], best)
    out = pd.DataFrame({RID: dpdf[RID].to_numpy()})
    out["Category by KMeans"] = [str(int(v)) for v in pred]
    out[RID] = out[RID].astype("int64")
    return out.reset_index(drop=True)
