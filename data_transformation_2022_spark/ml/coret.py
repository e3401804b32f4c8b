"""Core transforms ("T"s): the ML table→columns operators.

Reference behavior (Tengine.py:24-39, Tfunctions.py): numeric-project
the input, min-max normalize, require >2 numeric columns (else skip —
``errorinputforcoreT`` Tengine.py:217-220), emit either 2 numeric
components (pca/tsne/mds/umap) or 1 category column (dbscan/kmeans/lda).

Spark-first mapping:
  * **pca / kmeans / lda** — exact distributed ``pyspark.ml`` pipelines
    (VectorAssembler → MinMaxScaler → model), seeds pinned (kmeans k=3
    seed=9 matches the reference Tfunctions.py:98). Correct at any scale.
  * **mds** — classical (Torgerson) MDS in numpy on a bounded sample,
    computed as the centred-PCA scores it equals on Euclidean input
    (``classical_mds``: a p×p, not n×n, eigendecomposition). The
    reference is sample-bound by design (400-row cap), so a driver-side
    sample is faithful; at scale the engine samples before calling.
  * **dbscan** — numpy DBSCAN (eps=0.25, min_samples=5 like
    Tfunctions.py:90-94) on the sample; sklearn-free.
  * **tsne / umap** — sklearn/umap-learn when installed (looked up per
    call), else the in-repo deterministic numpy
    implementations (``numpy_tsne``, ``numpy_umap``).

The engine's chart frames do not call these runners for pca, kmeans,
mds, tsne, umap or dbscan: ``ml/coret_local`` runs the same float64
numpy on its collected, bounded sample.

All runners take a DataFrame WITH a ``__rid`` column and return
``__rid`` + output columns, so results positional-join back to any
channel frame (SURVEY §1.5 rid discipline).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.steps import RID, numeric_columns

KMEANS_SEED = 9  # reference Tfunctions.py:98
LDA_K = 3
KMEANS_K = 3
KMEANS_FIT_CAP = 10_000  # rows of the RID-ordered sample the centers are fit on
DBSCAN_EPS = 0.25
DBSCAN_MIN_SAMPLES = 5
MIN_NUMERIC_COLS = 3  # reference guard: >2 numeric columns (Tengine.py:217-220)
SAMPLE_CAP = 2000  # RID-ordered rows the sample-bound fits and transforms run on


def _guard_cols(df: DataFrame) -> list[str] | None:
    cols = numeric_columns(df)
    if len(cols) < MIN_NUMERIC_COLS:
        return None
    return cols


# Above this column count the exact-moment aggregate (p(p+1)/2 + p
# decimal sums in one codegen'd pass) stops being the right plan: janino
# compile + Catalyst analysis of thousands of decimal expressions takes
# MINUTES regardless of row count (measured 71 s at p=100 on 120 rows vs
# 12 s at p=33). Wide fits switch to driver eigen on the deterministic
# bounded sample — the reference's own semantics (sklearn PCA on a
# ≤400-row table). At cluster scale a wide exact fit would instead be a
# treeAggregate Gram accumulation (MLlib RowMatrix). The sample fit
# (``pca_moments``) is also the engine's PCA at every width: its chart
# frames are bounded by the collected sample (ml/coret_local).
PCA_EXACT_MAX_COLS = 32


def pca_fit(df: DataFrame) -> dict | None:
    """Fit stage of the distributed PCA: min/max + all first/second
    moments in two codegen'd aggregate passes; the p×p covariance is
    eigendecomposed on the driver (metadata-sized). Returns the literal
    constants {cols, lo, span, mean, basis} the projection applies —
    deterministic given the input, so an oracle can recompute the
    projection from the same literals. Sign convention: each
    component's largest-|loading| entry is positive (deterministic
    across eigensolvers).

    Inputs wider than PCA_EXACT_MAX_COLS fit on the deterministic
    bounded sample instead, in float64 numpy (``pca_moments``, which the
    engine's chart frames share); the returned literals and the
    projection contract are identical either way."""
    cols = _guard_cols(df)
    if cols is None:
        return None
    p = len(cols)
    if p > PCA_EXACT_MAX_COLS:
        pdf = (
            df.select(RID, *cols).orderBy(RID).limit(SAMPLE_CAP).toPandas()
        )
        if len(pdf) == 0:
            return None
        return _pca_pack(cols, *pca_moments(pdf[cols].to_numpy(dtype=float)))
    aggs: list = [F.count(F.lit(1)).alias("n")]
    for i, c in enumerate(cols):
        aggs += [F.min(c).alias(f"mn_{i}"), F.max(c).alias(f"mx_{i}")]
    row = df.agg(*aggs).collect()[0]
    n = row["n"]
    if n == 0:
        return None
    lo = np.array([row[f"mn_{i}"] for i in range(p)], dtype=float)
    hi = np.array([row[f"mx_{i}"] for i in range(p)], dtype=float)
    span = np.where(hi > lo, hi - lo, 1.0)

    scaled = [((F.col(c) - F.lit(float(lo[i]))) / F.lit(float(span[i]))) for i, c in enumerate(cols)]
    # The moment sums feed literals that must be BIT-reproducible across
    # runs (the oracle re-derives them), but a double sum merges 32
    # partition partials in task-completion order. Fixed-point decimal
    # addition is associative → order-independent: scaled values live in
    # [0,1], so decimal(38,30) holds every partial exactly with 8 integer
    # digits of headroom.
    m_aggs: list = []
    for i in range(p):
        m_aggs.append(F.sum(scaled[i].cast("decimal(38,30)")).alias(f"s_{i}"))
        for j in range(i, p):
            m_aggs.append(
                F.sum((scaled[i] * scaled[j]).cast("decimal(38,30)")).alias(f"q_{i}_{j}")
            )
    m = df.agg(*m_aggs).collect()[0]
    mean = np.array([float(m[f"s_{i}"]) / n for i in range(p)])
    cov = np.zeros((p, p))
    for i in range(p):
        for j in range(i, p):
            cov[i, j] = cov[j, i] = float(m[f"q_{i}_{j}"]) / n - mean[i] * mean[j]
    return _pca_pack(cols, lo, span, mean, cov)


def pca_moments(x: np.ndarray) -> tuple:
    """``(lo, span, mean, cov)`` of the min-max-scaled rows of ``x``
    (n × p float64, NaN = null) in float64 numpy: the wide branch of
    ``pca_fit`` and the engine's chart frames (ml/coret_local). Nulls
    are skipped by the bounds and count as a scaled 0 in the centred
    moments over all n rows — the exact path's null-skipping Spark SUMs
    over count(*) — so a single null cannot poison lo/span/cov."""
    import warnings

    with warnings.catch_warnings():
        # an all-null column yields NaN bounds (the fit fails like the
        # exact path's null min/max): silence the all-NaN warning
        warnings.simplefilter("ignore", RuntimeWarning)
        lo = np.nanmin(x, axis=0)
        hi = np.nanmax(x, axis=0)
    span = np.where(hi > lo, hi - lo, 1.0)
    xs = np.nan_to_num((x - lo) / span, nan=0.0)
    mean = xs.sum(axis=0) / len(xs)
    centered = xs - mean
    cov = (centered.T @ centered) / len(xs)
    return lo, span, mean, cov


def _pca_pack(cols: list[str], lo, span, mean, cov, cut_rows: int = 0) -> dict:
    """Shared eigen + sign-convention + literal-packing tail of both
    pca_fit strategies. ``cut_rows`` > 0 (the engine's chart frames,
    fit on that many rows) zeroes every axis whose eigenvalue is
    round-off, ≤ λmax·max(cut_rows, p)·eps, as ``classical_mds`` does;
    the registry's fits keep every axis."""
    p = len(cols)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:2]
    basis = v[:, order]  # p × 2
    for k in range(basis.shape[1]):
        if basis[np.argmax(np.abs(basis[:, k])), k] < 0:
            basis[:, k] = -basis[:, k]
    if cut_rows:
        basis[:, w[order] <= w.max() * max(cut_rows, p) * np.finfo(float).eps] = 0.0
    return {
        "cols": cols,
        "lo": [float(x) for x in lo],
        "span": [float(x) for x in span],
        "mean": [float(x) for x in mean],
        "basis": [[float(basis[i, k]) for k in range(basis.shape[1])] for i in range(p)],
    }


def _project_exprs(fit: dict, names: tuple[str, str]) -> list:
    """The shared projection: Σ_i (scaled_i − mean_i)·basis_ik as one
    left-folded double expression per component — the exact operation
    order the SQL oracle mirrors term by term."""
    cols, lo, span = fit["cols"], fit["lo"], fit["span"]
    mean, basis = fit["mean"], fit["basis"]
    out = []
    for k, name in enumerate(names):
        expr = F.lit(0.0)
        for i, c in enumerate(cols):
            scaled = (F.col(c) - F.lit(lo[i])) / F.lit(span[i])
            expr = expr + (scaled - F.lit(mean[i])) * F.lit(basis[i][k])
        out.append(expr.cast("double").alias(name))
    return out


def run_pca(df: DataFrame) -> DataFrame | None:
    """Exact distributed PCA → (PC1, PC2): ``pca_fit`` (two aggregate
    scans) + literal-basis projection as plain column arithmetic.
    Identical math to the MLlib PCA pipeline but ONE scan instead of its
    fit/fit/transform passes, no persisted intermediate, no vector UDF
    boundary."""
    fit = pca_fit(df)
    if fit is None:
        return None
    return df.select(F.col(RID), *_project_exprs(fit, ("PC1", "PC2")))


def _lloyd(x: np.ndarray, k: int, seed: int, iters: int = 25) -> np.ndarray:
    """Seeded k-means++ init + Lloyd's on a driver sample. Deterministic.
    Fits on the rows whose values are all finite: one null (NaN) cell
    would otherwise make its center NaN and every distance to it NaN."""
    finite = np.isfinite(x).all(axis=1)
    if finite.any():
        x = x[finite]
    rs = np.random.RandomState(seed)
    centers = [x[rs.randint(len(x))]]
    # Incremental k-means++: keep the running min distance-to-chosen-set
    # and fold in ONLY the newest center each round — O(k·n·d) instead
    # of re-scanning all centers (O(k²·n·d), dominated fit time at
    # k≳100). Bit-identical to the full rescan: each per-center
    # distance row uses the same broadcast-subtract + last-axis
    # pairwise sum, and an elementwise running np.minimum equals the
    # axis-min over the full matrix exactly.
    d2 = ((x - centers[0]) ** 2).sum(-1)
    for _ in range(k - 1):
        tot = d2.sum()
        idx = rs.choice(len(x), p=d2 / tot) if tot > 0 else rs.randint(len(x))
        centers.append(x[idx])
        d2 = np.minimum(d2, ((x - x[idx]) ** 2).sum(-1))
    c = np.array(centers, dtype=float)
    for _ in range(iters):
        lab = ((x[:, None, :] - c[None]) ** 2).sum(-1).argmin(1)
        new_c = np.array(
            [x[lab == j].mean(0) if (lab == j).any() else c[j] for j in range(k)]
        )
        if np.allclose(new_c, c):
            break
        c = new_c
    return c


def kmeans_fit(df: DataFrame, fit_cap: int = KMEANS_FIT_CAP) -> dict | None:
    """Fit stage of KMeans (k=3, seed=9): min/max scaling constants from
    one exact aggregate, centers from seeded Lloyd's on a bounded
    deterministic sample (``orderBy(RID).limit``). Returns literal
    constants {cols, lo, span, centers} — min/max are order-independent
    and the sample is rid-ordered, so the constants are bit-reproducible
    and an oracle can replay the assignment from the same literals."""
    cols = _guard_cols(df)
    if cols is None:
        return None
    row = df.agg(
        *[a for i, c in enumerate(cols) for a in (F.min(c).alias(f"mn_{i}"), F.max(c).alias(f"mx_{i}"))]
    ).collect()[0]
    lo, span = [], []
    for i in range(len(cols)):
        mn, mx = row[f"mn_{i}"], row[f"mx_{i}"]
        lo.append(float(mn) if mn is not None else 0.0)
        span.append(float(mx - mn) if (mn is not None and mx is not None and mx > mn) else 1.0)
    scaled = [((F.col(c) - F.lit(lo[i])) / F.lit(span[i])).cast("double") for i, c in enumerate(cols)]
    sample = (
        df.orderBy(RID)
        .limit(fit_cap)
        .select(*[e.alias(f"s_{i}") for i, e in enumerate(scaled)])
        .toPandas()
        .to_numpy(dtype=float)
    )
    if len(sample) == 0:
        return None
    centers = _lloyd(sample, KMEANS_K, KMEANS_SEED)
    return {
        "cols": cols,
        "lo": lo,
        "span": span,
        "centers": [[float(x) for x in c] for c in centers],
    }


def run_kmeans(df: DataFrame, fit_cap: int = KMEANS_FIT_CAP) -> DataFrame | None:
    """KMeans (k=3, seed=9) → 1 category column.

    Centers are fit with seeded Lloyd's on a bounded deterministic
    sample (the reference fits on ≤400 rows by construction —
    MAXSOURCEDATAROWS config.py:1 — so a 10k sample is a strict upgrade
    in fidelity); the FULL table is then assigned in ONE distributed
    pass of pure column arithmetic (distance-to-center argmin, k tiny,
    centers broadcast as literals). No Lloyd's-iteration scans of the
    whole table, no UDF, whole plan stays in codegen."""
    fit = kmeans_fit(df, fit_cap)
    if fit is None:
        return None
    cols = fit["cols"]
    lo, span, centers = fit["lo"], fit["span"], np.array(fit["centers"])
    scaled = [((F.col(c) - F.lit(lo[i])) / F.lit(span[i])).cast("double") for i, c in enumerate(cols)]

    dists = []
    for j in range(len(centers)):
        d = F.lit(0.0)
        for i in range(len(cols)):
            diff = scaled[i] - F.lit(float(centers[j, i]))
            d = d + diff * diff
        dists.append(d)
    pred = F.lit(0)
    best = dists[0]
    for j in range(1, len(dists)):
        pred = F.when(dists[j] < best, F.lit(j)).otherwise(pred)
        best = F.when(dists[j] < best, dists[j]).otherwise(best)
    return df.select(F.col(RID), pred.cast("string").alias("Category by KMeans"))


def run_lda(df: DataFrame) -> DataFrame | None:
    """Topic-model category (reference Tfunctions.py:46-77): rank-encode
    each numeric column, emit each column name repeated rank-times as
    tokens, CountVectorizer → LDA, argmax topic per row; topic label =
    top-3 weighted column names. Rank+explode is all DataFrame ops;
    CountVectorizer/LDA are distributed MLlib."""
    from pyspark.ml.clustering import LDA
    from pyspark.ml.feature import CountVectorizer

    from ..functions.order import global_ranks_multi

    cols = _guard_cols(df)
    if cols is None:
        return None
    # token construction: repeat sanitized column-name token by the
    # column's per-row rank (searchthread-style rank → term frequency).
    # All columns rank in ONE global_ranks_multi pass (shared boundary
    # and count jobs, bucket-partitioned windows — no unpartitioned
    # single-reducer Sort) and the token arrays are built from one
    # select — no per-column rid joins.
    rank_cols = [f"__rk_{c}" for c in cols]
    ranked = global_ranks_multi(df.select(RID, *cols), cols, rank_cols, tie_col=RID)
    tok_arrays = [
        F.array_repeat(F.lit(c.replace(" ", "_")), F.col(rc).cast("int")) for c, rc in zip(cols, rank_cols)
    ]
    # Persist the token frame: LDA's online optimizer re-reads its input
    # every iteration, and without a cache each pass would re-run the
    # whole ranking lineage (windows + exchanges) — 10× the work.
    docs = ranked.select(F.col(RID), F.flatten(F.array(*tok_arrays)).alias("__tokens")).persist()
    cv = CountVectorizer(inputCol="__tokens", outputCol="__tf").fit(docs)
    tf = cv.transform(docs).persist()
    # maxIter=10 = sklearn LatentDirichletAllocation's default, which the
    # reference uses unchanged (Tfunctions.py:58)
    lda = LDA(k=LDA_K, seed=KMEANS_SEED, featuresCol="__tf", maxIter=10).fit(tf)
    docs.unpersist()
    # topic labels: top-3 weighted column names per topic
    topics = lda.describeTopics(3).collect()
    vocab = cv.vocabulary
    labels = {}
    for row in topics:
        parts = [
            f"{w:.3f}*{vocab[t]}" for t, w in zip(row["termIndices"], row["termWeights"])
        ]
        labels[row["topic"]] = " + ".join(parts)
    from pyspark.ml.functions import vector_to_array

    out = lda.transform(tf).withColumn("__td", vector_to_array(F.col("topicDistribution")))
    argmax = F.expr("array_position(__td, array_max(__td)) - 1")
    mapping = F.create_map(
        *[x for k, v in labels.items() for x in (F.lit(k), F.lit(v))]
    )
    return out.select(
        F.col(RID), mapping[argmax.cast("int")].alias("Category by LDA")
    )


# ---------------------------------------------------------------------------
# sample-bound numpy transforms (the reference is 400-row-bound anyway)
# ---------------------------------------------------------------------------


def classical_mds(x: np.ndarray, k: int = 2) -> np.ndarray:
    """Torgerson classical MDS of the n rows of ``x`` (n × p) onto ``k``
    axes, in pure numpy and deterministic.

    Torgerson's embedding is the top-k eigenvectors of the
    double-centred squared-distance Gram matrix B = −½·J·D²·J, each
    scaled by √λ. On Euclidean input B = Xc·Xcᵀ (Xc: ``x`` centred per
    column), so those coordinates are the centred-PCA scores Xc·V, with
    V the top-k eigenvectors of the p × p matrix Xcᵀ·Xc. That is what is
    computed here: O(n·p²) instead of the n × n eigendecomposition's
    O(n³), equal to it up to round-off.

    * An axis whose eigenvalue is round-off (≤ λmax·max(n, p)·eps, i.e.
      rank-deficient input) or that does not exist (k > p) is exact
      zeros — no noise for downstream scaling to stretch.
    * Each axis is signed so its largest-|coordinate| is positive.
    * Any non-finite input gives an all-NaN (n, k) array."""
    n, p = x.shape
    if not np.isfinite(x).all():
        return np.full((n, k), np.nan)
    xc = x - x.mean(axis=0)
    vals, vecs = np.linalg.eigh(xc.T @ xc)
    idx = np.argsort(vals)[::-1][:k]
    tol = vals.max() * max(n, p) * np.finfo(float).eps
    idx = idx[vals[idx] > tol]
    comp = np.zeros((n, k))
    comp[:, : len(idx)] = xc @ vecs[:, idx]
    # deterministic sign convention: largest-|coordinate| positive
    for d in range(len(idx)):
        i = np.argmax(np.abs(comp[:, d]))
        if comp[i, d] < 0:
            comp[:, d] = -comp[:, d]
    return comp


def numpy_tsne(
    x: np.ndarray,
    perplexity: float = 5.0,
    n_iter: int = 500,
    early_exaggeration: float = 12.0,
    learning_rate: float = 200.0,
) -> np.ndarray:
    """Exact t-SNE (van der Maaten & Hinton 2008) in pure numpy —
    sklearn is absent from this environment, so the real algorithm is
    implemented here rather than falling back to MDS. Matches the
    reference's configuration (perplexity=5, method="exact", pca init —
    reference Tfunctions.py:18-25) in semantics, not bit-for-bit.

    Fully deterministic: PCA initialization (sign-fixed, scaled to 1e-4
    std as in the standard implementation), no random sampling anywhere.
    O(n²) per iteration — the input is a bounded sample, never the full
    table: the engine passes up to its ``sample_cap`` rows (1000 by
    default) and the Spark runner at most ``SAMPLE_CAP`` (2000), both
    above the reference's 400-row bound."""
    n = x.shape[0]
    if n < 4:
        return np.zeros((n, 2))
    perplexity = min(perplexity, (n - 1) / 3.0)
    target_h = np.log(perplexity)

    d2 = ((x[:, None, :] - x[None, :, :]) ** 2).sum(-1)
    p = np.zeros((n, n))
    # binary-search work buffers allocated once (same ufuncs, same
    # operand order as the allocating forms — bit-identical; see the
    # gradient-loop note below): ~n·25 inner iterations each built 5
    # fresh (n-1)-vectors before this
    wbuf = np.empty(n - 1)
    lbuf = np.empty(n - 1)
    for i in range(n):
        di = np.delete(d2[i], i)
        beta, beta_lo, beta_hi = 1.0, 0.0, np.inf
        pn = np.full(n - 1, 1.0 / (n - 1))
        for _ in range(64):
            np.multiply(di, -beta, out=wbuf)  # == (-di)·beta: IEEE
            # multiplication is commutative and sign-exact, so
            # di·(-beta) carries the identical bits
            w = np.exp(wbuf, out=wbuf)
            s = w.sum()
            if s <= 1e-300:
                h = 0.0
                pn = np.zeros_like(w)
            else:
                pn = w / s
                if pn.all():
                    # all-positive fast path: pn[nz] with nz all-True is
                    # a same-length contiguous copy, so the masked form's
                    # multiply+pairwise-sum sees the same values in the
                    # same layout — identical bits, no mask/compaction
                    np.log(pn, out=lbuf)
                    np.multiply(pn, lbuf, out=lbuf)
                    h = -lbuf.sum()
                else:
                    nz = pn > 0
                    h = -(pn[nz] * np.log(pn[nz])).sum()
            if abs(h - target_h) < 1e-6:
                break
            if h > target_h:  # too flat → sharpen
                beta_lo = beta
                beta = beta * 2.0 if beta_hi == np.inf else (beta + beta_hi) / 2.0
            else:
                beta_hi = beta
                beta = (beta + beta_lo) / 2.0
        p[i] = np.insert(pn, i, 0.0)
    p = (p + p.T) / (2.0 * n)
    p = np.maximum(p, 1e-12)

    # deterministic PCA init scaled to std 1e-4 on the first component
    xc = x - x.mean(axis=0)
    _, _, vt = np.linalg.svd(xc, full_matrices=False)
    basis = vt[:2].T
    for d in range(basis.shape[1]):
        j = np.argmax(np.abs(basis[:, d]))
        if basis[j, d] < 0:
            basis[:, d] = -basis[:, d]
    y = xc @ basis
    s0 = y[:, 0].std()
    y = y / (s0 if s0 > 0 else 1.0) * 1e-4

    exaggeration_until = 250
    update = np.zeros_like(y)
    gains = np.ones_like(y)
    # hoisted out of the loop (same multiply, so bit-identical results;
    # saves one n² allocation per exaggerated iteration)
    p_ex = p * early_exaggeration
    # n×n work buffers allocated ONCE: every loop line below runs the
    # SAME ufunc on the SAME operands in the SAME order as the
    # allocating form (np.subtract(a, b, out=buf) computes exactly
    # a - b), so results stay bit-identical (pinned by
    # tests/test_coret_numpy_identity + the capture/compare harness)
    # while the ~8 fresh n² temporaries per iteration — the measured
    # majority of the 500-iteration loop's cost at n=400 — disappear
    dy0 = np.empty((n, n))
    dy1 = np.empty((n, n))
    num = np.empty((n, n))
    q = np.empty((n, n))
    pq = np.empty((n, n))
    # zeros ONCE: only the diagonal is rewritten each iteration, the
    # off-diagonal zeros persist (nothing below writes to diagm)
    diagm = np.zeros((n, n))
    sub = np.empty((n, n))
    for it in range(n_iter):
        pe = p_ex if it < exaggeration_until else p
        # pairwise distances per output dimension instead of the 3-D
        # broadcast + sum(-1): the subtractions, squares and the d0+d1
        # add are the same scalar ops in the same order, so the result
        # is bit-identical, while the n×n×2 temporaries disappear —
        # measured ~2× on the gradient loop's dominant line at n=400
        np.subtract(y[:, 0, None], y[None, :, 0], out=dy0)
        np.multiply(dy0, dy0, out=dy0)
        np.subtract(y[:, 1, None], y[None, :, 1], out=dy1)
        np.multiply(dy1, dy1, out=dy1)
        np.add(dy0, dy1, out=num)
        np.add(num, 1.0, out=num)  # IEEE addition is commutative
        np.divide(1.0, num, out=num)
        np.fill_diagonal(num, 0.0)
        np.divide(num, num.sum(), out=q)
        np.maximum(q, 1e-12, out=q)
        np.subtract(pe, q, out=pq)
        np.multiply(pq, num, out=pq)
        # np.diag(rowsum) - pq without the per-iteration n² zeros alloc
        # (off-diagonal zeros persist; only the diagonal is refreshed)
        diagm.flat[:: n + 1] = pq.sum(axis=1)
        np.subtract(diagm, pq, out=sub)
        grad = 4.0 * (sub @ y)
        momentum = 0.5 if it < exaggeration_until else 0.8
        gains = np.where(np.sign(grad) != np.sign(update), gains + 0.2, gains * 0.8)
        gains = np.maximum(gains, 0.01)
        update = momentum * update - learning_rate * gains * grad
        y = y + update
        y = y - y.mean(axis=0)
    for d in range(y.shape[1]):  # deterministic sign convention
        j = np.argmax(np.abs(y[:, d]))
        if y[j, d] < 0:
            y[:, d] = -y[:, d]
    return y


def numpy_umap(
    x: np.ndarray,
    n_neighbors: int = 15,
    min_dist: float = 0.1,
    n_iter: int = 500,
    learning_rate: float = 1.0,
) -> np.ndarray:
    """UMAP (McInnes, Healy & Melville 2018) in pure numpy — umap-learn
    is absent from this environment. The graph construction and loss are
    the real algorithm: kNN fuzzy simplicial set (per-point rho = nearest
    -neighbor distance, sigma binary-searched to sum = log2(k),
    probabilistic t-conorm symmetrization) and the standard a/b low-dim
    curve for min_dist=0.1/spread=1.0. The optimizer differs on purpose:
    full-batch gradient descent over all pairs instead of
    negative-sampling SGD, which removes every source of randomness —
    deterministic spectral init (sign-fixed Laplacian eigenvectors) and
    a linearly decaying learning rate. O(n²) per iteration; input is a
    bounded sample — up to the engine's ``sample_cap`` rows (1000 by
    default), at most ``SAMPLE_CAP`` (2000) through the Spark runner."""
    n = x.shape[0]
    if n < 4:
        return np.zeros((n, 2))
    k = min(n_neighbors, n - 1)
    # a, b fitted to the min_dist=0.1 / spread=1.0 membership curve
    # (the canonical defaults; values match umap-learn's find_ab_params)
    a, b = 1.5769434603113077, 0.8950608779109733

    d = np.sqrt(np.maximum(((x[:, None, :] - x[None, :, :]) ** 2).sum(-1), 0.0))
    np.fill_diagonal(d, np.inf)
    knn_idx = np.argsort(d, axis=1, kind="stable")[:, :k]
    knn_d = np.take_along_axis(d, knn_idx, axis=1)
    rho = knn_d[:, 0]
    target = np.log2(k)
    p = np.zeros((n, n))
    for i in range(n):
        di = np.maximum(knn_d[i] - rho[i], 0.0)
        lo, hi, sigma = 0.0, np.inf, 1.0
        for _ in range(64):
            s = np.exp(-di / sigma).sum()
            if abs(s - target) < 1e-5:
                break
            if s > target:
                hi = sigma
                sigma = (lo + sigma) / 2.0
            else:
                lo = sigma
                sigma = sigma * 2.0 if hi == np.inf else (sigma + hi) / 2.0
        p[i, knn_idx[i]] = np.exp(-di / max(sigma, 1e-12))
    p = p + p.T - p * p.T  # probabilistic t-conorm (fuzzy set union)

    # deterministic spectral init: bottom non-trivial eigenvectors of the
    # symmetric normalized Laplacian of the membership graph
    deg = p.sum(axis=1)
    inv_sqrt = 1.0 / np.sqrt(np.maximum(deg, 1e-12))
    lap = np.eye(n) - (inv_sqrt[:, None] * p) * inv_sqrt[None, :]
    vals, vecs = np.linalg.eigh(lap)
    order = np.argsort(vals)
    y = vecs[:, order[1:3]]
    for dd in range(y.shape[1]):
        j = np.argmax(np.abs(y[:, dd]))
        if y[j, dd] < 0:
            y[:, dd] = -y[:, dd]
    span = np.abs(y).max()
    y = y / (span if span > 0 else 1.0) * 10.0

    for it in range(n_iter):
        alpha = learning_rate * (1.0 - it / n_iter)
        diff = y[:, None, :] - y[None, :, :]
        d2 = np.maximum((diff**2).sum(-1), 1e-12)  # guards 0/0 at d→0
        pow_b = d2**b
        # attractive along graph edges, repulsive everywhere else — the
        # exact per-pair UMAP gradient coefficients
        att = (-2.0 * a * b * pow_b / d2 / (1.0 + a * pow_b)) * p
        rep = (2.0 * b / ((0.001 + d2) * (1.0 + a * pow_b))) * (1.0 - p)
        coeff = att + rep
        np.fill_diagonal(coeff, 0.0)  # no self-force
        grad = (coeff[:, :, None] * diff).sum(axis=1)
        norm = np.abs(grad).max()
        if norm > 4.0:  # gradient clip, mirrors umap-learn's clamp
            grad = grad * (4.0 / norm)
        y = y + alpha * grad
        y = y - y.mean(axis=0)
    for dd in range(y.shape[1]):
        j = np.argmax(np.abs(y[:, dd]))
        if y[j, dd] < 0:
            y[:, dd] = -y[:, dd]
    return y


def numpy_dbscan(x: np.ndarray, eps: float, min_samples: int) -> np.ndarray:
    """DBSCAN over points (vectorized distance matrix) — the profiler's
    matrix DBSCAN reused on data points."""
    from ..profiler import dbscan_labels

    dist = np.sqrt(((x[:, None, :] - x[None, :, :]) ** 2).sum(-1))
    return dbscan_labels(dist, eps=eps, min_samples=min_samples)


def _tsne() -> Callable[[np.ndarray], np.ndarray]:
    """t-SNE with the reference's configuration (perplexity=5,
    method="exact" — Tfunctions.py:18-25): sklearn's implementation when
    the library exists, else the in-repo exact numpy implementation
    (``numpy_tsne``, same algorithm, deterministic PCA init)."""
    try:
        from sklearn.manifold import TSNE  # optional: absent from this env
    except ImportError:
        return numpy_tsne

    def fn(x: np.ndarray) -> np.ndarray:
        init = "pca" if len(x) < 100 else "random"
        return TSNE(
            n_components=2, perplexity=5, init=init, random_state=0, method="exact"
        ).fit_transform(x)

    return fn


def _umap() -> Callable[[np.ndarray], np.ndarray]:
    """UMAP: umap-learn's implementation when the library exists, else
    the in-repo implementation (``numpy_umap`` — real fuzzy-simplicial
    graph and loss, deterministic full-batch optimizer)."""
    try:
        import umap  # optional: absent from this env
    except ImportError:
        return numpy_umap

    def fn(x: np.ndarray) -> np.ndarray:
        return umap.UMAP(n_components=2, random_state=0).fit_transform(x)

    return fn


def _dbscan(x: np.ndarray) -> np.ndarray:
    return numpy_dbscan(x, DBSCAN_EPS, DBSCAN_MIN_SAMPLES).astype(str)


# name → (output columns, factory of the numpy function); the factory
# looks the t-SNE/UMAP library up per call, so the Spark runners and the
# engine's chart frames (ml/coret_local) always run the same function
_SAMPLE_CORE_TS = {
    "mds": (["MDS-1", "MDS-2"], lambda: classical_mds),
    "tsne": (["tSNE-1", "tSNE-2"], _tsne),
    "umap": (["UMAP-1", "UMAP-2"], _umap),
    "dbscan": (["Category by DBSCAN"], lambda: _dbscan),
}


def transform_sample(pdf: pd.DataFrame, cols: list[str], name: str) -> pd.DataFrame:
    """Run sample-bound core-T ``name`` (mds, tsne, umap or dbscan) on
    the rows of ``pdf`` (RID order, at most SAMPLE_CAP): min-max scale
    ``cols``, apply the numpy function, return ``__rid`` + its output
    columns."""
    out_cols, make = _SAMPLE_CORE_TS[name]
    x = pdf[cols].to_numpy(dtype=float)
    lo, hi = x.min(axis=0), x.max(axis=0)
    span = np.where(hi > lo, hi - lo, 1.0)
    res = make()((x - lo) / span)
    out = pd.DataFrame({RID: pdf[RID].to_numpy()})
    for i, c in enumerate(out_cols):
        vals = res[:, i] if res.ndim == 2 else res
        # labels as python str, as a Spark string column collects
        out[c] = [str(v) for v in vals] if vals.dtype.kind in "US" else vals
    return out


def _sample_transform(df: DataFrame, name: str) -> DataFrame | None:
    cols = _guard_cols(df)
    if cols is None:
        return None
    # orderBy(RID) before limit: a bare limit takes whichever partitions
    # answer first, so the sample (hence the output) would silently
    # change with the input's partitioning. TakeOrdered keeps this a
    # top-k, not a global sort.
    pdf = df.select(RID, *cols).orderBy(RID).limit(SAMPLE_CAP).toPandas()
    return df.sparkSession.createDataFrame(transform_sample(pdf, cols, name))


def run_mds(df: DataFrame) -> DataFrame | None:
    return _sample_transform(df, "mds")


def run_tsne(df: DataFrame) -> DataFrame | None:
    """t-SNE on the RID-ordered sample (implementation: ``_tsne``)."""
    return _sample_transform(df, "tsne")


def run_umap(df: DataFrame) -> DataFrame | None:
    """UMAP on the RID-ordered sample (implementation: ``_umap``)."""
    return _sample_transform(df, "umap")


def run_dbscan(df: DataFrame) -> DataFrame | None:
    return _sample_transform(df, "dbscan")


def run_lida(df: DataFrame, label_col: str | None = None) -> DataFrame | None:
    """Supervised linear discriminant (the reference's ``lida``,
    T.py:58-74 / Tfunctions.py:39-44 — declared there but unreachable:
    absent from the dispatch dict Tengine.py:24-39 and skipped by the
    enumerator searchthread.py:461-462; we implement the intended
    semantics). Takes numeric features + one integer label column →
    2 discriminant components, Fisher's eigenproblem solved on a bounded
    sample, projection applied as column arithmetic (one distributed
    pass, like run_pca)."""
    fit = lida_fit(df, label_col)
    if fit is None:
        return None
    return df.select(F.col(RID), *_project_exprs(fit, ("LiDA-1", "LiDA-2")))


def lida_fit(df: DataFrame, label_col: str | None = None) -> dict | None:
    """Fit stage of LiDA: Fisher's eigenproblem on a rid-ordered bounded
    sample (deterministic), returning the same literal-constant shape as
    ``pca_fit`` ({cols, lo, span, mean, basis}) so the projection — and
    its SQL oracle — are shared."""
    cols = numeric_columns(df)
    if label_col is None:
        # reference signature: [dimN num, dim1 int] — last int column is the label
        int_cols = [c for c, t in df.dtypes if t in ("int", "bigint") and c != RID]
        if not int_cols:
            return None
        label_col = int_cols[-1]
    feats = [c for c in cols if c != label_col]
    if len(feats) < MIN_NUMERIC_COLS:
        return None
    pdf = df.select(RID, label_col, *feats).orderBy(RID).limit(2000).toPandas()
    x = pdf[feats].to_numpy(dtype=float)
    span = x.max(0) - x.min(0)
    span[span == 0] = 1.0
    lo = x.min(0)
    x = (x - lo) / span
    y = pdf[label_col].to_numpy()
    classes = np.unique(y)
    if len(classes) < 2:
        return None
    mean = x.mean(0)
    sw = np.zeros((x.shape[1], x.shape[1]))
    sb = np.zeros_like(sw)
    for cl in classes:
        xc = x[y == cl]
        mc = xc.mean(0)
        sw += (xc - mc).T @ (xc - mc)
        sb += len(xc) * np.outer(mc - mean, mc - mean)
    sw += np.eye(sw.shape[0]) * 1e-9  # ridge for singular within-scatter
    w, v = np.linalg.eig(np.linalg.solve(sw, sb))
    order = np.argsort(-w.real)[:2]
    basis = v[:, order].real
    for k in range(basis.shape[1]):
        if basis[np.argmax(np.abs(basis[:, k])), k] < 0:
            basis[:, k] = -basis[:, k]
    return {
        "cols": feats,
        "lo": [float(x) for x in lo],
        "span": [float(x) for x in span],
        "mean": [float(x) for x in mean],
        "basis": [[float(basis[i, k]) for k in range(basis.shape[1])] for i in range(len(feats))],
    }


CORE_T_RUNNERS = {
    "pca": run_pca,
    "kmeans": run_kmeans,
    "lda": run_lda,
    "lida": run_lida,
    "mds": run_mds,
    "tsne": run_tsne,
    "umap": run_umap,
    "dbscan": run_dbscan,
}


def run_core_t(name: str, df: DataFrame) -> DataFrame | None:
    """Dispatch (reference Tengine.py:24-39). Returns None when the
    input guard fails — callers skip the candidate, like the reference."""
    return CORE_T_RUNNERS[name](df)
