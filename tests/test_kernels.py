"""Randomized invariant tests for the numpy kernel library — mirrors the
reference's test strategy (/root/reference/test/utils/test_data_analysis.py):
length invariants, identity cases, mean preservation, NaN repair."""

import numpy as np
import pytest

from lightcurvesclassifier_spark.functions import kernels as K

RNG = np.random.default_rng(42)


@pytest.mark.parametrize("trial", range(25))
def test_paa_length(trial):
    n = int(RNG.integers(10, 400))
    bins = int(RNG.integers(2, max(3, n // 2)))
    x = RNG.normal(size=n)
    out = K.to_paa(x, bins)
    assert len(out) <= bins
    assert len(out) >= bins - 1  # the frame rule may drop at most one frame
    assert np.isfinite(out).all()


def test_paa_identity():
    x = np.arange(10.0)
    out = K.to_paa(x, 10)
    assert np.allclose(out, x)


@pytest.mark.parametrize("trial", range(25))
def test_ekvi_paa_invariants(trial):
    n = int(RNG.integers(20, 300))
    t = np.sort(RNG.uniform(0, 100, size=n))
    y = RNG.normal(10, 2, size=n)
    bins = int(RNG.integers(5, n))
    tt, yy = K.to_ekvi_paa(t, y, bins=bins)
    assert len(tt) == bins and len(yy) == bins
    assert not np.isnan(yy).any()  # fix_missing repaired everything
    # mean preservation within tolerance (reference test asserts 0.1)
    assert abs(np.nanmean(yy) - y.mean()) < 0.5


def test_ekvi_paa_identity_when_bins_equals_n():
    t = np.arange(50.0)
    y = RNG.normal(size=50)
    tt, yy = K.to_ekvi_paa(t, y, bins=50)
    # equidistant input + bins == n → each sample in its own bin
    assert np.allclose(yy, y)


def test_normalize():
    x = RNG.normal(5, 3, size=100)
    z = K.normalize(x)
    assert abs(z.mean()) < 1e-12
    assert abs(z.std() - 1) < 1e-12
    assert (K.normalize(np.ones(10)) == 0).all()


def test_abbe_noise_vs_trend():
    n = 500
    noise = RNG.normal(size=n)
    trend = np.linspace(0, 10, n)
    assert K.abbe(noise, n) > 0.7
    assert K.abbe(trend, n) < 0.05


def test_abbe_uses_original_n():
    x = RNG.normal(size=100)
    assert K.abbe(x, 200) != K.abbe(x, 100)


def test_compute_bins():
    t = np.array([0.0, 100.0])
    assert K.compute_bins(t, 10) == 10
    assert K.compute_bins(t, 50) == 5  # floored at set_min


def test_fix_missing_interior():
    x = np.array([0.0, 1.0, 2.0, 3.0])
    y = np.array([1.0, np.nan, 3.0, 4.0])
    _, yy = K.fix_missing(x, y)
    # reference weighting: w_left = dt_left/(dt_left+dt_right) = 0.5 here
    assert np.isclose(yy[1], 0.5 * 1.0 + 0.5 * 3.0)
    assert not np.isnan(yy).any()


def test_fix_missing_borders():
    x = np.arange(5.0)
    y = np.array([np.nan, np.nan, 7.0, np.nan, np.nan])
    _, yy = K.fix_missing(x, y)
    assert (yy == 7.0).all()
    xx, yy2 = K.fix_missing(x, y, replace_at_borders=False)
    assert len(xx) == 1 and yy2[0] == 7.0


def test_fix_missing_uneven_weights():
    # reference quirk: the farther side gets the larger weight
    x = np.array([0.0, 3.0, 4.0])
    y = np.array([0.0, np.nan, 10.0])
    _, yy = K.fix_missing(x, y)
    # t_left=3, t_right=1 → w_left=0.75 → y = .75*0 + .25*10 = 2.5
    assert np.isclose(yy[1], 2.5)


def test_histogram_shapes():
    t = np.sort(RNG.uniform(0, 50, 200))
    y = RNG.normal(size=200)
    hist, edges = K.histogram(t, y, bins_num=10)
    assert len(hist) == 9 and len(edges) == 10
    # normalized: zero mean unless degenerate
    assert abs(hist.mean()) < 1e-9


def test_variogram_shapes():
    t = np.sort(RNG.uniform(0, 50, 100))
    y = np.sin(t / 5) + RNG.normal(scale=0.1, size=100)
    vx, vy = K.variogram(t, y, bins=15)
    assert len(vx) <= 15 and len(vy) == len(vx)
    assert np.isfinite(vx).all() and np.isfinite(vy).all()


def test_variogram_slope_sign():
    # smooth periodic signal: variance grows with lag → positive slope
    t = np.linspace(0, 100, 300)
    y = np.sin(t / 30)
    assert K.variogram_slope(t, y, bins=20) > 0


def test_sort_pairs():
    x = np.array([3.0, 1.0, 2.0])
    y = np.array([30.0, 10.0, 20.0])
    xx, yy = K.sort_pairs(x, y)
    assert (xx == [1, 2, 3]).all() and (yy == [10, 20, 30]).all()
    xx, yy = K.sort_pairs(x, y, rev=True)
    assert (xx == [3, 2, 1]).all()


def test_ekvi_paa_tiny_fraction_and_zero_span():
    """Reference edge cases: a fraction truncating to 0 bins resets to
    n (data_analysis.py:93-96; previously a bincount crash), and a
    zero-span curve yields all-empty bins (NaN) — the border rule
    (x >= b[i]) & (x < b[i+1]) matches nothing when every border
    equals x."""
    rng = np.random.default_rng(1)
    x, y = np.arange(100.0), rng.normal(size=100)
    xo, yo = K.to_ekvi_paa(x, y, bins=0.005)
    assert len(xo) == 100  # reset to n, not a crash
    xz, yz = K.to_ekvi_paa(
        np.array([5.0, 5.0]), np.array([7.0, 9.0]), bins=2, fix_nans=False
    )
    assert np.isnan(yz).all()


def test_sample_fraction_full_keeps_everything(spark):
    """fraction=1.0 must keep ALL rows (the 9-hex-char bound silently
    kept ~1/16)."""
    from lightcurvesclassifier_spark.functions.descriptors import sample_fraction

    df = spark.createDataFrame([(i,) for i in range(256)], "k long")
    assert sample_fraction(df, "k", 1.0).count() == 256
    n_half = sample_fraction(df, "k", 0.5).count()
    assert 90 < n_half < 166  # Bernoulli ~0.5

