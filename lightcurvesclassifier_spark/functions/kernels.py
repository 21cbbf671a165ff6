"""Pure-numpy per-curve kernels — the engine's scalar-function library.

These are the ground-truth implementations: each mirrors the documented
semantics of the reference's curve-processing functions
(``/root/reference/lcc/utils/data_analysis.py``, cited per function) and
serves two roles:

1. the body of the engine's Arrow-vectorized pandas UDFs
   (``functions/curve_udfs.py``), and
2. the oracle used by the randomized invariant tests
   (mirroring ``/root/reference/test/utils/test_data_analysis.py``).

Written fresh against the reference's semantics — including its
deliberate quirks (overlapping PAA frames, inverted interpolation
weights, double-counted variogram pairs) — because parity of results is
the contract, not prettier math.
"""

from __future__ import annotations

import math

import numpy as np


def to_paa(x: np.ndarray, bins: int) -> np.ndarray:
    """Piecewise Aggregate Approximation.

    Semantics of lcc/utils/data_analysis.py:14-51: frame width is
    ``ceil(n/bins)`` while frame *starts* advance by the fractional step
    ``n/bins`` (truncated), so frames may overlap and the output can have
    fewer than ``bins`` values. Each output value is the mean of its frame.
    """
    x = np.asarray(x, dtype=float)
    n = len(x)
    step_f = n / float(bins)
    step = int(math.ceil(step_f))
    if n - step + 1 <= 0:
        return np.array([])
    # vectorized form of the reference loop: frame starts int(i*step_f)
    # are non-decreasing (duplicates kept when bins > n — faithful), so
    # the while-condition equals filtering starts <= n - step; per-frame
    # means via a strided window gather (same pairwise mean per row as
    # np.mean on each slice)
    starts = (np.arange(int(bins) + 2) * step_f).astype(np.int64)
    starts = starts[starts <= n - step]
    win = np.lib.stride_tricks.sliding_window_view(x, step)
    return win[starts].mean(axis=1)


def to_ekvi_paa(
    x: np.ndarray,
    y: np.ndarray,
    bins: int | float | None = None,
    days_per_bin: float | None = None,
    max_bins: float | None = None,
    fix_nans: bool = True,
    mean_time: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Time-equidistant PAA (lcc/utils/data_analysis.py:54-140).

    ``bins`` equal *time* bins spanning ``[min - h, max + h]`` with
    ``h = span/bins/2``; per-bin mean of x (or bin center when
    ``mean_time=False``) and mean of y; empty bin → bin center + NaN; then
    NaNs repaired by :func:`fix_missing`. ``bins`` in (0, 1] is a fraction
    of n; ``days_per_bin`` overrides bins; bins capped at n.
    """
    x = np.asarray(x, dtype=float)
    y = np.asarray(y, dtype=float)
    if len(x) != len(y):
        raise ValueError("x and y must have the same length")
    if not bins:
        bins = 1
    if 0 < bins <= 1:
        bins = int(len(x) * bins)
    if not bins:
        # a tiny fraction truncated to 0 — the reference resets to n
        # (data_analysis.py:93-96); without this the half-step divides
        # by zero and bincount crashes
        bins = len(x)
    if days_per_bin:
        bins = (x[-1] - x[0]) / days_per_bin
        if bins > len(x):
            bins = len(x)
    if bins > len(x):
        bins = len(x)
    if max_bins and bins > max_bins * len(x):
        bins = int(len(x) * max_bins)
    bins = int(bins)

    xmin, xmax = x.min(), x.max()
    half_step = (xmax - xmin) / bins / 2.0
    borders = np.linspace(xmin - half_step, xmax + half_step, bins + 1)
    if xmax == xmin:
        # zero span: every border equals x, so the reference's
        # (x >= b[i]) & (x < b[i+1]) rule matches NOTHING — all bins
        # empty (NaN). The clipped searchsorted would wrongly count the
        # points into the last bin.
        counts = np.zeros(bins)
        sum_x = np.zeros(bins)
        sum_y = np.zeros(bins)
    else:
        # vectorized bin assignment with the exact border semantics
        # (x >= borders[i]) & (x < borders[i+1]): searchsorted right edge
        idx = np.searchsorted(borders, x, side="right") - 1
        idx = np.clip(idx, 0, bins - 1)  # x == borders[-1]: half-step pad
        counts = np.bincount(idx, minlength=bins).astype(float)
        sum_x = np.bincount(idx, weights=x, minlength=bins)
        sum_y = np.bincount(idx, weights=y, minlength=bins)
    centers = (borders[:-1] + borders[1:]) / 2
    with np.errstate(invalid="ignore"):
        x_out = np.where(counts > 0, sum_x / counts, centers) if mean_time else centers.copy()
        y_out = np.where(counts > 0, sum_y / counts, np.nan)
    if fix_nans:
        x_out, y_out = fix_missing(x_out, y_out)
    return x_out, y_out


def normalize(x: np.ndarray, eps: float = 1e-6) -> np.ndarray:
    """(x - mean) / std with *population* std; all-zeros when std < eps
    (lcc/utils/data_analysis.py:143-164)."""
    x = np.asarray(x, dtype=float)
    std = x.std()
    if std < eps:
        return np.zeros(len(x))
    return (x - x.mean()) / std


def abbe(x: np.ndarray, n: int) -> float:
    """Abbe value ``n/(2(n-1)) * Σ(x_{i+1}-x_i)² / Σ(x-x̄)²`` — ~1 for noise,
    → 0 for smooth trends. ``n`` is the ORIGINAL length before any
    dimension reduction (lcc/utils/data_analysis.py:167-193;
    lcc/entities/light_curve.py:186-194 passes len(curve)). NaNs dropped.
    """
    x = np.asarray(x, dtype=float)
    x = x[~np.isnan(x)]
    sum1 = ((x[1:] - x[:-1]) ** 2).sum()
    sum2 = ((x - x.mean()) ** 2).sum()
    return n / (2 * (n - 1.0)) * sum1 / sum2


def variogram(
    x: np.ndarray,
    y: np.ndarray,
    bins: int | None = None,
    log_opt: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Variogram (lcc/utils/data_analysis.py:196-246): PAA both axes to
    ``bins``; enumerate all ordered pairs i≠j (both directions — lags are
    double-counted, faithfully to the reference); lag = |x_i-x_j|, value =
    (y_i-y_j)²; sort by lag; PAA both series to ``bins``; log10/log10.

    Short-curve contract, faithful to the reference's ``np.log10``: a
    curve of at most ``bins/2`` observations repeats every PAA point, so
    zero lags fill the first lag bin and its first point is
    ``(-inf, -inf)`` (numpy warns of a divide by zero). Its SAX word is
    then all last letters (``jjjjjjjjjj`` at bins=10, alphabet 10)
    whatever the curve's shape; the star is kept, not dropped.
    """
    if not bins:
        bins = 20
    xp = to_paa(x, bins)
    yp = to_paa(y, bins)
    n = len(xp)
    # vectorized all-ordered-pairs enumeration in the same (i-major,
    # j-minor, i≠j) order as the reference's double loop — identical
    # values in identical order, so the sort permutation matches too
    off = ~np.eye(n, dtype=bool)
    lag_m = np.abs(xp[:, None] - xp[None, :])
    d_m = yp[:, None] - yp[None, :]
    val_m = d_m * d_m  # multiply, not **2: correctly-rounded, SIMD-stable
    # NaN policy faithful to the reference: checks x_i, y_i (row side
    # only) plus the pair values themselves
    nan_i = (np.isnan(xp) | np.isnan(yp))[:, None] & np.ones(n, dtype=bool)
    keep = off & ~nan_i & ~np.isnan(lag_m) & ~np.isnan(val_m)
    lags, vals = sort_pairs(lag_m[keep], val_m[keep])
    vx = to_paa(lags, bins)
    vy = to_paa(vals, bins)
    if log_opt:
        vx, vy = np.log10(vx), np.log10(vy)
    return vx, vy


def variogram_slope(x: np.ndarray, y: np.ndarray, bins: int | None = None) -> float:
    """Least-squares slope of the log-log variogram
    (lcc/stars_processing/descriptors/variogram_slope_descr.py:41-53)."""
    vx, vy = variogram(x, y, bins=bins)
    return float(np.polyfit(vx, vy, 1)[0])


def histogram(
    xx: np.ndarray,
    yy: np.ndarray,
    bins_num: int | None = None,
    centred: bool = True,
    normed: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Magnitude histogram (lcc/utils/data_analysis.py:249-299): ekvi-PAA to
    n, centre on nanmean, drop NaN, ``bins_num`` edges (=> bins_num-1
    buckets) spanning [min, max], counts, then :func:`normalize`."""
    if not bins_num:
        bins_num = 10
    vals = to_ekvi_paa(xx, yy, bins=len(np.asarray(xx)))[1]
    if centred:
        vals = vals - np.nanmean(vals)
    vals = vals[~np.isnan(vals)]
    edges = np.linspace(vals.min(), vals.max(), bins_num)
    hist, _ = np.histogram(vals, bins=edges)
    if normed:
        hist = normalize(hist)
    return np.asarray(hist, dtype=float), edges


def sort_pairs(
    x: np.ndarray, y: np.ndarray, rev: bool = False
) -> tuple[np.ndarray, np.ndarray]:
    """Sort y by x (lcc/utils/data_analysis.py:302-315).

    Stable sort: the reference's default-quicksort argsort orders equal
    x arbitrarily, which is within its unspecified-tie freedom but
    unreproducible in SQL; stable keeps enumeration order on ties, which
    the oracles mirror with ORDER BY x, k."""
    x = np.asarray(x)
    y = np.asarray(y)
    idx = x.argsort(kind="stable")
    if rev:
        idx = idx[::-1]
    return x[idx], y[idx]


def compute_bins(x_time: np.ndarray, days_per_bin: float, set_min: int = 5) -> int:
    """``round(timespan / days_per_bin)`` floored at ``set_min``
    (lcc/utils/data_analysis.py:318-344)."""
    x_time = np.asarray(x_time, dtype=float)
    num = int(round((x_time.max() - x_time.min()) / float(days_per_bin)))
    if set_min and num < set_min:
        num = set_min
    return num


def fix_missing(
    x: np.ndarray, y: np.ndarray, replace_at_borders: bool = True
) -> tuple[np.ndarray, np.ndarray]:
    """Repair NaNs in ``y`` (lcc/utils/data_analysis.py:354-412).

    Leading NaNs → first valid value (or dropped when
    ``replace_at_borders=False``); trailing NaNs → last valid value (or
    truncated). Interior NaNs are filled left-to-right, each as a weighted
    mix of its (possibly just-filled) left neighbour and the next valid
    value — with the reference's weighting ``w_left = Δt_left / (Δt_left +
    Δt_right)`` kept as-is for parity (note: this weights the *farther*
    side more; faithful to the reference, not classical interpolation).
    """
    x = np.asarray(x, dtype=float).copy()
    y = np.asarray(y, dtype=float).copy()
    valid = ~np.isnan(y)
    if not valid.any():
        return x, y
    first = int(np.argmax(valid))
    last = len(y) - 1 - int(np.argmax(valid[::-1]))
    if replace_at_borders:
        y[:first] = y[first]
        y[last + 1 :] = y[last]
    else:
        x = x[first : last + 1]
        y = y[first : last + 1]
        last = last - first
    for i in range(len(y)):
        if np.isnan(y[i]):
            j = i + 1
            while j < len(y) and np.isnan(y[j]):
                j += 1
            t_left = x[i] - x[i - 1]
            t_right = x[j] - x[i]
            w_left = t_left / (t_left + t_right)
            w_right = t_right / (t_left + t_right)
            y[i] = w_left * y[i - 1] + w_right * y[j]
    return x, y


def curve_density(x: np.ndarray) -> float:
    """Samples per unit time after reduction
    (lcc/stars_processing/descriptors/curve_density_descr.py:27-36)."""
    x = np.asarray(x, dtype=float)
    return len(x) / (x.max() - x.min())
