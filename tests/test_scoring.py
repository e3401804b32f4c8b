"""Scoring-layer tests: scagnostics shapes, CDM, significance, and the
hand-rolled incomplete-beta special functions vs known values."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_transformation_2022_spark.scoring.insight import (
    betainc_reg,
    cdm_score,
    f_sf,
    hist2d_counts,
    moments,
    scagnostics,
    sig_linearness,
    sig_outstanding1,
    t_sf,
)


def test_betainc_known_values():
    # I_x(a,b) reference values (Abramowitz & Stegun / scipy-checked)
    assert betainc_reg(0.5, 0.5, 0.5) == pytest.approx(0.5, abs=1e-10)
    assert betainc_reg(2.0, 3.0, 0.4) == pytest.approx(0.5248, abs=1e-4)
    assert betainc_reg(1.0, 1.0, 0.3) == pytest.approx(0.3, abs=1e-12)


def test_f_and_t_pvalues():
    # F(1, 10): P[F > 4.96] ≈ 0.05
    assert f_sf(4.96, 1, 10) == pytest.approx(0.05, abs=0.002)
    # t(10): two-sided P[|t| > 2.228] ≈ 0.05
    assert t_sf(2.228, 10) == pytest.approx(0.05, abs=0.002)


def test_scagnostics_line_vs_noise():
    rng = np.random.RandomState(0)
    x = np.linspace(0, 1, 100)
    line = scagnostics(x, 2 * x + 0.5)
    noise = scagnostics(rng.rand(200), rng.rand(200))
    assert line["monotonic"] == pytest.approx(1.0, abs=1e-9)
    assert line["straight"] > 0.99
    assert line["stringy"] > noise["stringy"]
    assert noise["monotonic"] < 0.3


def test_scagnostics_small_input_zero():
    out = scagnostics(np.arange(5.0), np.arange(5.0))
    assert all(v == 0.0 for v in out.values())


def test_scagnostics_clumpy_two_blobs():
    rng = np.random.RandomState(1)
    a = rng.normal(0, 0.05, (30, 2))
    b = rng.normal(5, 0.05, (30, 2)) + 5
    pts = np.vstack([a, b])
    two = scagnostics(pts[:, 0], pts[:, 1])
    one = scagnostics(rng.rand(60), rng.rand(60))
    assert two["clumpy"] > one["clumpy"]
    assert two["outlying"] >= 0.0


def test_hist2d_and_cdm():
    x = np.array([0.0, 0.0, 10.0, 10.0])
    y = np.array([0.0, 0.0, 10.0, 10.0])
    h = hist2d_counts(x, y)
    assert h[0, 0] == 2 and h[9, 9] == 2 and h.sum() == 4
    # perfectly separated classes → high CDM; identical classes → 0
    cls = np.array(["a", "a", "b", "b"])
    assert cdm_score(x, y, cls) > 0
    assert cdm_score(x, y, np.array(["a"] * 4)) == 0.0


def test_cdm_drops_non_finite_rows():
    """A row with a NaN coordinate (a null row's projection) is left out
    of the bounds and the histograms: the score equals the score of the
    frame without that row, not a histogram with every point in bin 0."""
    rng = np.random.RandomState(0)
    x = np.concatenate([rng.rand(25), rng.rand(25) + 10.0])
    y = rng.rand(50)
    cls = np.array(["a"] * 25 + ["b"] * 25)
    clean = cdm_score(x, y, cls)
    assert clean == 100.0
    with_nan = cdm_score(np.append(x, np.nan), np.append(y, 0.5), np.append(cls, "a"))
    assert with_nan == clean
    assert hist2d_counts(np.append(x, np.nan), np.append(y, 0.5)).sum() == 50


def test_outstanding1_spike_vs_flat():
    spike = sig_outstanding1(np.array([100.0, 2, 2, 2, 2, 2, 2, 2]))
    flat = sig_outstanding1(np.array([2.0] * 8))
    assert spike > 99.0
    assert spike > flat


def test_linearness_line_vs_noise():
    rng = np.random.RandomState(2)
    x = np.arange(50, dtype=float)
    assert sig_linearness(3 * x + 1) > 99.0
    assert sig_linearness(rng.rand(50)) < sig_linearness(3 * x + 1)


def test_moments_match_numpy():
    rng = np.random.RandomState(3)
    v = rng.rand(500)
    m = moments(v)
    assert m["variance"] == pytest.approx(np.var(v, ddof=1), rel=1e-9)


def test_scagnostics_permutation_invariant_with_ties():
    """Every scagnostic — monotonic included — must be independent of
    the point ORDER: chart frames arrive from joins whose row order is
    not deterministic, and the recommend goldens are byte-stable only
    if scoring is permutation-invariant. Regression for the round-10
    drift: positional tie-breaking in the Spearman ranks made
    `monotonic` order-sensitive on tied (integer-ish) data."""
    rng = np.random.RandomState(11)
    # heavy ties: integer grid data, the shape that exposed the drift
    x = rng.randint(0, 7, 200).astype(float)
    y = (x + rng.randint(0, 4, 200)).astype(float)
    base = scagnostics(x, y)
    for trial in range(5):
        p = rng.permutation(len(x))
        got = scagnostics(x[p], y[p])
        assert got == base, (trial, got, base)


# ---- clumpy: the two-pass tree computation against the walk it replaced ----


def _component_edges(adj, start: int, banned: int) -> tuple[set[int], float]:
    """Nodes + max edge length reachable from start without crossing to
    ``banned`` (one side of a cut tree edge), by depth-first walk."""
    seen = {start}
    stack = [start]
    max_len = 0.0
    while stack:
        u = stack.pop()
        for v, w in adj[u]:
            if (u == start and v == banned) or v in seen:
                continue
            seen.add(v)
            max_len = max(max_len, w)
            stack.append(v)
    return seen, max_len


def _walk_clumpy(x: np.ndarray, y: np.ndarray) -> float:
    """``scagnostics``' clumpy as it was computed before the tree pass:
    two walks per cut edge over the same MST."""
    from data_transformation_2022_spark.scoring.insight import (
        DOT_NUM_LIMIT,
        _adjacency,
        _mst_edges,
    )

    pts = np.unique(np.column_stack([x, y]).astype(float), axis=0)
    if len(pts) < DOT_NUM_LIMIT:
        return 0.0
    lo, hi = pts.min(0), pts.max(0)
    pts = (pts - lo) / np.where(hi > lo, hi - lo, 1.0)
    edges = _mst_edges(pts)
    lens = edges[:, 2]
    adj = _adjacency(edges, len(pts))
    clumpy = 0.0
    order = np.argsort(lens)[::-1]
    for ei in order[: min(len(order), 50)]:
        u, v, w = edges[ei]
        if w <= 0:
            break
        side = _component_edges(adj, int(u), int(v))
        other = _component_edges(adj, int(v), int(u))
        nodes, max_len = side if len(side[0]) <= len(other[0]) else other
        if len(nodes) < 2:
            continue
        clumpy = max(clumpy, 1.0 - (max_len / w if w > 0 else 1.0))
    return float(min(max(clumpy, 0.0), 1.0))


def _assert_clumpy_matches_walk(x, y):
    x, y = np.asarray(x, dtype=float), np.asarray(y, dtype=float)
    got = scagnostics(x, y)["clumpy"]
    want = _walk_clumpy(x, y)
    assert got == want and repr(got) == repr(want), (got, want)


@pytest.mark.parametrize("n", [12, 13, 50, 257, 1000])
@pytest.mark.parametrize("shape", ["normal", "grid", "line", "diagonal", "blobs"])
def test_clumpy_tree_pass_equals_walk(shape, n):
    """Integer grids and evenly spaced lines are the tie cases: equal
    edge lengths, and cuts whose two sides hold the same node count
    (the ``len(side) <= len(other)`` rule picks the first endpoint's)."""
    rng = np.random.RandomState(n)
    t = np.arange(n, dtype=float)
    if shape == "normal":
        x, y = rng.normal(size=n), rng.normal(size=n)
    elif shape == "grid":
        x, y = rng.randint(0, 12, n), rng.randint(0, 12, n)
    elif shape == "line":
        x, y = t, np.zeros(n)
    elif shape == "diagonal":
        x, y = t, 3.0 * t
    else:
        c = rng.randint(0, 3, n)
        x, y = c * 10 + rng.normal(size=n), c * 5 + rng.normal(size=n)
    _assert_clumpy_matches_walk(x, y)


@pytest.mark.parametrize("tight_first", [True, False])
def test_clumpy_tie_takes_first_endpoint_side(tight_first):
    """Two clusters of six points, one tight and one loose, joined by
    one long edge: cutting it leaves 6 and 6 nodes, so the tie rule
    decides which side's longest edge enters the score."""
    tight = np.arange(6) * 0.01
    loose = 10.0 + np.arange(6) * 0.3
    x = np.concatenate([tight, loose] if tight_first else [loose - 20.0, tight])
    y = np.zeros(12)
    _assert_clumpy_matches_walk(x, y)
    # the two sides really differ, so the rule is exercised
    assert 0.0 < scagnostics(x, y)["clumpy"] < 1.0


_coord = st.one_of(
    st.integers(-5, 5).map(float),
    st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(_coord, _coord), min_size=12, max_size=300))
def test_clumpy_tree_pass_equals_walk_generated(points):
    x, y = zip(*points)
    _assert_clumpy_matches_walk(x, y)


@pytest.mark.filterwarnings("ignore:invalid value:RuntimeWarning")
def test_clumpy_tree_pass_equals_walk_non_finite():
    """An infinite coordinate normalises to NaN lengths on some edges;
    the tree pass ignores them exactly as the walk's running max does."""
    rng = np.random.RandomState(5)
    x, y = rng.rand(40), rng.rand(40)
    x[7] = np.inf
    _assert_clumpy_matches_walk(x, y)
    x[7] = np.nan
    _assert_clumpy_matches_walk(x, y)


def test_clumpy_tree_pass_equals_walk_on_golden_scatters(spark, sf_dir, monkeypatch):
    """Every xy frame that the golden searches score: the in-repo
    fixture, the lineitem recommend, and the reference CSVs when that
    corpus is present."""
    import os

    from data_transformation_2022_spark import engine
    from data_transformation_2022_spark.api import EngineSession
    from data_transformation_2022_spark.sources.readers import load_table

    frames = []
    real = engine.scagnostics

    def record(x, y):
        frames.append((np.array(x), np.array(y)))
        return real(x, y)

    monkeypatch.setattr(engine, "scagnostics", record)
    from test_fixture_csvs import REF as ref  # the reference CSV corpus
    csvs = [os.path.join(os.path.dirname(__file__), "fixtures", "collide_temp.csv")]
    csvs += [
        os.path.join(ref, name)
        for name in (
            "ie19.csv", "hungergames.csv", "googleplaystore.csv",
            "NetflixOriginals.csv", "data training m1.csv",
            "ZYF1/req0215/iris.csv", "population.csv",
        )
        if os.path.exists(os.path.join(ref, name))
    ]
    for path in csvs:
        s = EngineSession(spark, sample_cap=400)
        s.ingest_path(path)
        s.search({})
        s.close()
    li = load_table(spark, sf_dir, "lineitem", rid=True)
    engine.recommend(li, dm_ts=["pca", "kmeans"], sample_cap=500)
    assert frames
    for x, y in frames:
        _assert_clumpy_matches_walk(x, y)
