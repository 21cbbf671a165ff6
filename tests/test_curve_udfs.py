"""The pandas-UDF surface must agree with the numpy kernel library —
the UDFs *are* the kernels, but the Arrow round trip (array columns,
batching, null handling) is what these tests pin down."""

import numpy as np
import pytest

from lightcurvesclassifier_spark.functions import curve_udfs, kernels
from lightcurvesclassifier_spark.sources import testdata
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def curve_rows(spark):
    return {
        r["star_id"]: (np.array(r["time"]), np.array(r["mag"]))
        for r in testdata.curves(spark, SF_SMOKE).collect()
    }


def test_variogram_slope_matches_kernel(spark, curve_rows):
    out = {
        r["star_id"]: r["variogram_slope"]
        for r in curve_udfs.variogram_slope(
            testdata.curves(spark, SF_SMOKE), bins=20
        ).collect()
    }
    assert set(out) == set(curve_rows)
    for sid, (t, m) in curve_rows.items():
        expected = kernels.variogram_slope(t, m, bins=20)
        assert out[sid] == pytest.approx(expected, rel=1e-12), sid


def test_ekvi_paa_exact_matches_kernel(spark, curve_rows):
    rows = curve_udfs.ekvi_paa_exact(
        testdata.curves(spark, SF_SMOKE), bins=16
    ).collect()
    by_star: dict[int, list] = {}
    for r in rows:
        by_star.setdefault(r["star_id"], []).append(r)
    assert set(by_star) == set(curve_rows)
    for sid, (t, m) in curve_rows.items():
        x, y = kernels.to_ekvi_paa(t, m, bins=16)
        got = sorted(by_star[sid], key=lambda r: r["bin"])
        assert len(got) == len(x)
        np.testing.assert_allclose([r["t_red"] for r in got], x, rtol=1e-12)
        np.testing.assert_allclose([r["mag_red"] for r in got], y, rtol=1e-12)


def test_variogram_slope_all_finite(spark):
    out = curve_udfs.variogram_slope(
        testdata.curves(spark, SF_SMOKE), bins=20
    ).collect()
    vals = [r["variogram_slope"] for r in out]
    assert all(v is not None and np.isfinite(v) for v in vals)


def test_curve_descr_height_matches_reference_semantics(spark, curve_rows):
    """The height/fractional-bins CurveDescr paths must reproduce the
    reference's numpy chain (curve_descr.py:66-84, minus the min-shift
    equivalence in the unquantized case): to_PAA at per-star
    bins=floor(0.1*n), then round(height*y/(max-min)) and mean-center."""
    from lightcurvesclassifier_spark.functions import descriptors as descr

    out_rows = descr.curve_descr(
        testdata.curves(spark, SF_SMOKE), bins=0.1, height=8
    ).collect()
    by_star: dict[int, dict[int, float]] = {}
    for r in out_rows:
        by_star.setdefault(r["star_id"], {})[r["bin"]] = r["value"]
    assert set(by_star) == set(curve_rows)
    for sid, (t, m) in curve_rows.items():
        order = np.lexsort((m, t))
        mags = m[order]
        nbins = max(1, int(len(mags) * 0.1))
        y = np.array(kernels.to_paa(mags, nbins))
        # HALF_UP rounding (documented divergence from CPython's
        # banker's rounding; values here are positive)
        q = np.floor(8.0 * y / (y.max() - y.min()) + 0.5)
        want = np.round(q - q.mean(), 6)
        got = np.array(
            [v for _, v in sorted(by_star[sid].items())]
        )
        assert len(got) == len(want), sid
        np.testing.assert_allclose(got, want, atol=1e-9)


def test_variogram_slope_degenerate_star_is_null_not_nan(spark):
    """Constant-mag/zero-lag stars must surface as Spark NULL (the SQL
    oracle's no-null gate emits NULL), not NaN — NULL counts are part
    of the value check."""
    from lightcurvesclassifier_spark.functions.curve_udfs import (
        variogram_slope,
    )

    curves = spark.createDataFrame(
        [
            (1, [float(t) for t in range(30)],
             [float(np.sin(t / 2.0)) for t in range(30)]),
            (2, [1.0], [5.0]),  # degenerate
        ],
        "star_id long, time array<double>, mag array<double>",
    )
    got = {r.star_id: r.variogram_slope for r in variogram_slope(curves).collect()}
    assert got[2] is None
    assert got[1] is not None and not np.isnan(got[1])
