"""Chart "insight" scoring: scagnostics, class-separation (CDM),
significance tests, moments — the reference's score.py re-implemented
from the underlying public formulations (Wilkinson et al. scagnostics;
Tang et al. Top-K insight significance shapes) in pure numpy.

The scored data is per-candidate-chart and sample-bounded (the engine
caps chart points like the reference caps rows at 400), so these run
driver-side / inside ``applyInPandas`` per chart — the parallelism is
ACROSS charts, not within one (SURVEY §2.4 maps it the same way).

No scipy in this environment: the minimum spanning tree is a vectorized
Prim's algorithm; F/t p-values go through a hand-rolled regularized
incomplete beta (Lentz continued fraction) — standard numerics, ~40
lines, accurate to ~1e-10 on the ranges charts produce.
"""

from __future__ import annotations

import numpy as np

DOT_NUM_LIMIT = 10  # reference: <10 points → all scagnostics 0 (score.py:73-76)

# Default score-toggle set (reference slist, score.py:10-28).
SLIST_DEFAULT = {
    "outlying": True,
    "skew": True,
    "striated": True,
    "stringy": True,
    "straight": True,
    "clumpy": True,
    "monotonic": True,
    "cdm": True,
    "outstanding1": True,
    "correlation": True,
    "linearness": True,
    # the reference declares sta_dispersion/sta_skew/sta_heavytail in its
    # slist (score.py:25-27) but never wires them into chart scoring
    # (SURVEY §2.4 moments row) — declared here with the same inert
    # default; flipping them on scores y-series moments via moments()
    "dispersion": False,
    "mom_skew": False,
    "heavytail": False,
}


# ---------------------------------------------------------------------------
# special functions (no scipy): regularized incomplete beta → F/t CDFs
# ---------------------------------------------------------------------------


def _betacf(a: float, b: float, x: float, max_iter: int = 200, eps: float = 3e-12) -> float:
    """Continued fraction for the incomplete beta (modified Lentz)."""
    tiny = 1e-30
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < tiny:
        d = tiny
    d = 1.0 / d
    h = d
    for m in range(1, max_iter + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < eps:
            break
    return h


def _lgamma(x: float) -> float:
    import math

    return math.lgamma(x)


def betainc_reg(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    import math

    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (
        _lgamma(a + b) - _lgamma(a) - _lgamma(b) + a * math.log(x) + b * math.log(1.0 - x)
    )
    front = math.exp(ln_front)
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def f_sf(f_stat: float, d1: float, d2: float) -> float:
    """Survival function (p-value) of the F distribution."""
    if f_stat <= 0 or not np.isfinite(f_stat):
        return 1.0
    x = d2 / (d2 + d1 * f_stat)
    return betainc_reg(d2 / 2.0, d1 / 2.0, x)


def t_sf(t_stat: float, dof: float) -> float:
    """Two-sided p-value of the t distribution."""
    if not np.isfinite(t_stat):
        return 1.0
    x = dof / (dof + t_stat * t_stat)
    return betainc_reg(dof / 2.0, 0.5, x)


# ---------------------------------------------------------------------------
# MST machinery (vectorized Prim, O(n²) — chart data is sample-bounded)
# ---------------------------------------------------------------------------


def _mst_edges(pts: np.ndarray) -> np.ndarray:
    """Prim's MST over Euclidean distances. Returns (n-1, 3) rows of
    (u, v, length)."""
    n = len(pts)
    d2 = ((pts[:, None, :] - pts[None, :, :]) ** 2).sum(-1)
    in_tree = np.zeros(n, dtype=bool)
    in_tree[0] = True
    best = d2[0].copy()
    best_from = np.zeros(n, dtype=int)
    edges = []
    for _ in range(n - 1):
        best_masked = np.where(in_tree, np.inf, best)
        v = int(np.argmin(best_masked))
        u = int(best_from[v])
        edges.append((u, v, float(np.sqrt(d2[u, v]))))
        in_tree[v] = True
        better = d2[v] < best
        best = np.where(better, d2[v], best)
        best_from = np.where(better, v, best_from)
    return np.array(edges)


def _adjacency(edges: np.ndarray, n: int) -> list[list[tuple[int, float]]]:
    adj: list[list[tuple[int, float]]] = [[] for _ in range(n)]
    for u, v, w in edges:
        adj[int(u)].append((int(v), w))
        adj[int(v)].append((int(u), w))
    return adj


def _bfs_far(adj, start: int) -> tuple[int, float, dict[int, int]]:
    """Weighted farthest node from start (tree), with parent links."""
    import collections

    dist = {start: 0.0}
    parent = {start: -1}
    q = collections.deque([start])
    far, far_d = start, 0.0
    while q:
        u = q.popleft()
        for v, w in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + w
                parent[v] = u
                if dist[v] > far_d:
                    far, far_d = v, dist[v]
                q.append(v)
    return far, far_d, parent


def _avg_ranks(a: np.ndarray) -> np.ndarray:
    """0-based ranks with ties averaged (permutation-invariant)."""
    a = np.asarray(a, dtype=float)
    _, inv, counts = np.unique(a, return_inverse=True, return_counts=True)
    starts = np.cumsum(counts) - counts
    return (starts + (counts - 1) / 2.0)[inv]


def scagnostics(x: np.ndarray, y: np.ndarray) -> dict[str, float]:
    """MST-based scatter diagnostics (Wilkinson et al.). All zero when
    fewer than DOT_NUM_LIMIT distinct points (reference score.py:73-76)."""
    pts = np.unique(np.column_stack([x, y]).astype(float), axis=0)
    zero = {k: 0.0 for k in ("outlying", "skew", "striated", "stringy", "straight", "clumpy", "monotonic")}
    if len(pts) < DOT_NUM_LIMIT:
        return zero
    # normalize to unit square so lengths are comparable across charts
    lo, hi = pts.min(0), pts.max(0)
    span = np.where(hi > lo, hi - lo, 1.0)
    pts = (pts - lo) / span
    n = len(pts)
    edges = _mst_edges(pts)
    lens = edges[:, 2]
    total = float(lens.sum()) or 1.0
    q10, q25, q50, q75, q90 = np.quantile(lens, [0.1, 0.25, 0.5, 0.75, 0.9])

    # outlying: fraction of MST length in edges beyond the Tukey fence
    fence = q75 + 1.5 * (q75 - q25)
    outlying = float(lens[lens > fence].sum()) / total

    # skew of the edge-length distribution
    skew = float((q90 - q50) / (q90 - q10)) if q90 > q10 else 0.0

    adj = _adjacency(edges, n)
    # diameter path via double-BFS
    a, _, _ = _bfs_far(adj, 0)
    b, diam, parent = _bfs_far(adj, a)
    stringy = float(diam / total)
    # straight: endpoint Euclidean distance over path length
    straight = float(np.linalg.norm(pts[a] - pts[b]) / diam) if diam > 0 else 0.0

    # striated: mean |cos| of the angle at degree-2 vertices
    cosines = []
    for v in range(n):
        if len(adj[v]) == 2:
            (u, _), (w, _) = adj[v]
            e1 = pts[u] - pts[v]
            e2 = pts[w] - pts[v]
            nu, nw = np.linalg.norm(e1), np.linalg.norm(e2)
            if nu > 0 and nw > 0:
                cosines.append(abs(float(np.dot(e1, e2) / (nu * nw))))
    striated = float(np.mean(cosines)) if cosines else 0.0

    # clumpy: RUNT-style — for each edge, 1 − (max edge length within the
    # smaller component after cutting) / (cut edge length)
    size, inner, outer, parent = _cut_sides(adj)
    clumpy = 0.0
    order = np.argsort(lens)[::-1]
    for ei in order[: min(len(order), 50)]:
        u, v, w = edges[ei]
        if w <= 0:
            break
        u, v = int(u), int(v)
        # c: the endpoint on the far side from the root; cutting the
        # edge leaves c's subtree on one side, the rest on the other
        c = u if parent[u] == v else v
        below, above = (size[c], inner[c]), (n - size[c], outer[c])
        side, other = (below, above) if c == u else (above, below)
        n_nodes, max_len = side if side[0] <= other[0] else other
        if n_nodes < 2:
            continue
        clumpy = max(clumpy, 1.0 - (max_len / w if w > 0 else 1.0))
    clumpy = float(min(max(clumpy, 0.0), 1.0))

    # monotonic: |Spearman| via Pearson of AVERAGE ranks. Ties must get
    # their group-mean rank: the earlier double-argsort broke ties by
    # array position, making the statistic depend on the pandas frame's
    # ROW ORDER — which a batched outer join does not fix — so the
    # byte-stable recommend goldens drifted in the 5th decimal between
    # otherwise-identical runs (caught round 10). Average ranks are
    # permutation-invariant (and the standard Spearman treatment); the
    # MST metrics above are already order-free via the np.unique point
    # canonicalization.
    rx, ry = _avg_ranks(x), _avg_ranks(y)
    cx, cy = rx - rx.mean(), ry - ry.mean()
    denom = float(np.sqrt((cx**2).sum() * (cy**2).sum()))
    monotonic = float(abs((cx * cy).sum() / denom)) if denom > 0 else 0.0

    return {
        "outlying": outlying,
        "skew": skew,
        "striated": striated,
        "stringy": stringy,
        "straight": straight,
        "clumpy": clumpy,
        "monotonic": monotonic,
    }


def _cut_sides(adj) -> tuple[list[int], list[float], list[float], list[int]]:
    """Both sides of every tree edge in two passes over the tree rooted
    at node 0. For each non-root node c, cutting the edge to its parent
    leaves ``size[c]`` nodes whose longest edge is ``inner[c]`` (c's
    subtree) and the other ``n - size[c]`` nodes, whose longest edge is
    ``outer[c]``; a side without edges reads 0.0. Every ``max`` starts
    from a 0.0 already held, so a NaN length never wins one, as in a
    walk that folds ``max`` edge by edge from 0.0."""
    n = len(adj)
    parent = [-1] * n
    up_w = [0.0] * n  # length of the edge to the parent
    order = [0]  # breadth-first: every parent before its children
    seen = [False] * n
    seen[0] = True
    for u in order:
        for v, w in adj[u]:
            if not seen[v]:
                seen[v] = True
                parent[v], up_w[v] = u, w
                order.append(v)
    # post-order: subtree sizes and the longest edge inside each subtree
    size = [1] * n
    inner = [0.0] * n
    for c in reversed(order[1:]):
        p = parent[c]
        size[p] += size[c]
        inner[p] = max(inner[p], up_w[c], inner[c])
    # rerooting: the longest edge outside c's subtree is the longest of
    # the parent's own outside, the parent's edge upward, and the best
    # branch among c's siblings (the top two branches cover every c)
    outer = [0.0] * n
    for p in order:
        best = second = 0.0
        best_c = -1
        for c, w in adj[p]:
            if c == parent[p]:
                continue
            branch = max(inner[c], w)
            if branch > best:
                best, second, best_c = branch, best, c
            elif branch > second:
                second = branch
        above = max(outer[p], up_w[p])
        for c, _ in adj[p]:
            if c != parent[p]:
                outer[c] = max(above, second if c == best_c else best)
    return size, inner, outer, parent


# ---------------------------------------------------------------------------
# histograms + class separation
# ---------------------------------------------------------------------------


def hist2d_counts(
    x: np.ndarray,
    y: np.ndarray,
    bins: int = 10,
    bounds: tuple[float, float, float, float] | None = None,
) -> np.ndarray:
    """10×10 min-max-normalized 2-D histogram (reference score.py:30-58).
    The reference normalizes by (max+1−min) — score.py:32-35 — which
    keeps the max value strictly inside the last bin; the clip remains
    for degenerate ranges only. ``bounds`` overrides the normalization
    range (needed for per-class histograms, which must share the GLOBAL
    bounds) and is expected in the same max+1 convention. A point with a
    non-finite coordinate is left out: it has no bin."""
    x, y = np.asarray(x, float), np.asarray(y, float)
    ok = np.isfinite(x) & np.isfinite(y)
    if not ok.all():
        x, y = x[ok], y[ok]
    if bounds is None:
        bounds = (x.min(), x.max() + 1.0, y.min(), y.max() + 1.0)
    xlo, xhi, ylo, yhi = bounds

    def _bin(v: np.ndarray, lo: float, hi: float) -> np.ndarray:
        if hi <= lo:
            return np.zeros(len(v), dtype=int)
        b = np.floor((v - lo) / (hi - lo) * bins).astype(int)
        return np.clip(b, 0, bins - 1)

    h = np.zeros((bins, bins))
    np.add.at(h, (_bin(x, xlo, xhi), _bin(y, ylo, yhi)), 1)
    return h


def cdm_score(x: np.ndarray, y: np.ndarray, classes: np.ndarray, bins: int = 10) -> float:
    """Class-separation: mean pairwise L1 distance of per-class 2-D
    histograms over SHARED global bounds, scaled ×100 (reference
    score.py:61-70). Rows with a non-finite x or y (a null row's
    projection) are dropped first, so they move neither the bounds nor a
    histogram."""
    x, y = np.asarray(x, float), np.asarray(y, float)
    ok = np.isfinite(x) & np.isfinite(y)
    if not ok.all():
        x, y, classes = x[ok], y[ok], np.asarray(classes)[ok]
    # reference skips negative class labels (DBSCAN outliers, score.py:50-51)
    # but keeps ALL points in the n denominator (score.py:69)
    labels = [
        c
        for c in np.unique(classes)
        if not (isinstance(c, (int, float, np.integer, np.floating)) and c < 0)
    ]
    if len(labels) < 2:
        return 0.0
    bounds = (x.min(), x.max() + 1.0, y.min(), y.max() + 1.0)
    hists = [hist2d_counts(x[classes == c], y[classes == c], bins, bounds) for c in labels]
    n = len(x)
    total = 0.0
    for i in range(len(labels)):
        for j in range(i + 1, len(labels)):
            total += float(np.abs(hists[i] - hists[j]).sum())
    return total / n / (len(labels) - 1) * 100.0


# ---------------------------------------------------------------------------
# significance shapes (Top-K insight style)
# ---------------------------------------------------------------------------


def sig_outstanding1(values: np.ndarray) -> float:
    """Outstanding-№1: is the max significantly above a power-law fit of
    the rest? Fit v_i ≈ α·i^(−0.7) on ranks 2.., F-test the top-1
    residual; score = (1−p)·100 (reference score.py:394-412 concept,
    with the correct F denominator — the reference's sse/(len−2) paren
    slip is a documented non-bug here, SURVEY §7 watch-list 6)."""
    v = np.sort(np.asarray(values, float))[::-1]
    n = len(v)
    if n < 3 or v[0] <= 0:
        return 0.0
    i = np.arange(2, n + 1, dtype=float)
    rest = v[1:]
    basis = i ** (-0.7)
    denom = float((basis**2).sum())
    alpha = float((rest * basis).sum() / denom) if denom > 0 else 0.0
    pred_rest = alpha * basis
    sse = float(((rest - pred_rest) ** 2).sum())
    pred_top = alpha * 1.0
    resid_top = v[0] - pred_top
    dof = max(n - 2, 1)
    scale = sse / dof if sse > 0 else 1e-12
    f_stat = (resid_top**2) / scale
    return (1.0 - f_sf(f_stat, 1.0, dof)) * 100.0


def sig_linearness(y: np.ndarray, x: np.ndarray | None = None) -> float:
    """Linear-fit significance: F-test of regression vs index; score
    (1−p)·100 (reference score.py:436-452)."""
    y = np.asarray(y, float)
    n = len(y)
    if n < 3:
        return 0.0
    x = np.arange(n, dtype=float) if x is None else np.asarray(x, float)
    cx = x - x.mean()
    cy = y - y.mean()
    sxx = float((cx**2).sum())
    if sxx == 0:
        return 0.0
    slope = float((cx * cy).sum() / sxx)
    pred = slope * cx
    sse = float(((cy - pred) ** 2).sum())
    sst = float((cy**2).sum())
    if sst == 0:
        return 0.0
    dof = n - 2
    if sse <= 0:
        return 100.0
    f_stat = (sst - sse) / (sse / dof)
    return (1.0 - f_sf(f_stat, 1.0, dof)) * 100.0


def sig_correlation(cols: np.ndarray) -> float:
    """Mean pairwise Pearson-correlation significance across columns:
    t-test per pair, score = mean (1−p)·100 (reference score.py:415-434)."""
    m = np.asarray(cols, float)
    if m.ndim != 2 or m.shape[1] < 2 or m.shape[0] < 3:
        return 0.0
    n, k = m.shape
    scores = []
    for i in range(k):
        for j in range(i + 1, k):
            a, b = m[:, i], m[:, j]
            ca, cb = a - a.mean(), b - b.mean()
            denom = float(np.sqrt((ca**2).sum() * (cb**2).sum()))
            if denom == 0:
                continue
            r = float((ca * cb).sum() / denom)
            r = max(min(r, 0.999999), -0.999999)
            t = r * np.sqrt((n - 2) / (1 - r * r))
            scores.append((1.0 - t_sf(abs(t), n - 2)) * 100.0)
    return float(np.mean(scores)) if scores else 0.0


def moments(values: np.ndarray) -> dict[str, float]:
    """Variance / skewness / kurtosis (population moments — reference
    score.py:454-467; declared in slist but not chart-wired, same here)."""
    v = np.asarray(values, float)
    n = len(v)
    if n < 2:
        return {"variance": 0.0, "skewness": 0.0, "kurtosis": 0.0}
    mu = v.mean()
    m2 = float(((v - mu) ** 2).mean())
    if m2 == 0:
        return {"variance": 0.0, "skewness": 0.0, "kurtosis": 0.0}
    m3 = float(((v - mu) ** 3).mean())
    m4 = float(((v - mu) ** 4).mean())
    return {
        "variance": m2 * n / (n - 1),
        "skewness": m3 / m2**1.5,
        "kurtosis": m4 / m2**2 - 3.0,
    }
