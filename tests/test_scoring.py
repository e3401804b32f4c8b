"""Scoring-layer tests: scagnostics shapes, CDM, significance, and the
hand-rolled incomplete-beta special functions vs known values."""

from __future__ import annotations

import numpy as np
import pytest

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
