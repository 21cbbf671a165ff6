"""Value-level checks for the comparative (template-join) family: the
three contract queries' outputs are recomputed driver-side with the pure
numpy kernels (independent of the Spark plumbing) and compared exactly —
the sliding-SAX scores are deterministic, so any engine-side drift
(Arrow transfer, broadcast, aggregation) is caught at full precision."""

import numpy as np
import pytest

from pyspark.sql import functions as F

import __spark_entry__ as em
from lightcurvesclassifier_spark.functions import sax as sax_mod
from lightcurvesclassifier_spark.operators import comparative
from lightcurvesclassifier_spark.sources import testdata
from tests.conftest import SF_ORACLE

KERNEL_PARAMS = {
    "comp_curves_shape": (
        "curves_shape", "average",
        dict(days_per_bin=2.0, alphabet_size=10, slide=0.25),
    ),
    "comp_hist_shape": (
        "hist_shape", "closest", dict(bins=10, alphabet_size=10),
    ),
    "comp_variogram_shape": (
        "variogram_shape", "best2", dict(bins=10, alphabet_size=10),
    ),
}


@pytest.fixture(scope="module")
def curve_arrays(spark):
    return {
        r["star_id"]: (
            np.asarray(r["time"], dtype=float),
            np.asarray(r["mag"], dtype=float),
        )
        for r in testdata.curves(spark, SF_ORACLE).collect()
    }


def _numpy_feature(curve_arrays, kind, meth, params):
    kernel = comparative.KERNELS[kind]
    t_ids = [0, 1, 2]
    feats = {}
    for sid, (t, m) in curve_arrays.items():
        scores = [
            kernel(t, m, *curve_arrays[tid], **params) for tid in t_ids
        ]
        valid = sorted(s for s in scores if not np.isnan(s))
        if not valid:
            continue
        if meth == "closest":
            v = valid[0]
        elif meth == "average":
            v = float(np.mean(valid))
        elif meth.startswith("best"):
            n = int(meth[4:])
            v = float(np.mean(valid[:n]))
        feats[sid] = round(v, 6)
    return feats


@pytest.mark.parametrize("qname", sorted(KERNEL_PARAMS))
def test_comparative_query_matches_numpy_golden(spark, curve_arrays, qname):
    kind, meth, params = KERNEL_PARAMS[qname]
    got = {
        r["star_id"]: r["feature"]
        for r in em.queries()[qname](spark, SF_ORACLE).collect()
    }
    want = _numpy_feature(curve_arrays, kind, meth, params)
    assert set(got) == set(want)
    for sid in want:
        assert got[sid] == pytest.approx(want[sid], abs=1.5e-6), sid


def test_curves_noslide_word_path_matches_kernel_path(spark, curve_arrays):
    """Item: the slide=False curves_shape branch precomputes per-star
    words; its scores must equal the raw per-pair kernel's."""
    curves = testdata.curves(spark, SF_ORACLE)
    templates = curves.filter(F.col("star_id").isin([0, 1, 2]))
    got = (
        comparative.comparative_scores(
            curves, templates, "curves_shape",
            days_per_bin=2.0, alphabet_size=10, slide=0,
        )
        .toPandas()
        .set_index(["star_id", "template_id"])["score"]
        .sort_index()
    )
    for (sid, tid), score in got.items():
        t, m = curve_arrays[sid]
        tt, tm = curve_arrays[tid]
        want = sax_mod.compare_curves_sax(
            t, m, tt, tm, days_per_bin=2.0, alphabet_size=10, slide=0
        )
        assert score == pytest.approx(want, rel=1e-12), (sid, tid)
    # and the word path really is word-only: no raw curve arrays cross
    # into the pair stage (plan shows the two word projections feeding
    # the broadcast join, not time/mag columns)
    plan = comparative.comparative_scores(
        curves, templates, "curves_shape",
        days_per_bin=2.0, alphabet_size=10, slide=0,
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "pythonUDF" in plan or "word" in plan


def test_variogram_word_of_a_short_curve_matches_mirror(spark, duck):
    """A curve with fewer observations than bins repeats PAA frames, so
    its variogram has zero-lag pairs and a zero first bin: numpy's
    log10 gives -inf, the normalized series is all NaN and every letter
    is the last one. The DuckDB mirror used to raise on log10(0); it
    now takes -inf too and scores the star like the engine."""
    rng = np.random.default_rng(5)
    curves = {}
    for sid, n in [(0, 30), (1, 25), (2, 40), (3, 5), (4, 35)]:
        t = np.sort(rng.uniform(0.0, 60.0, n))
        curves[sid] = (t, 12.0 + np.sin(t / (sid + 1.0)) + rng.normal(0.0, 0.1, n))
    params = dict(bins=10, alphabet_size=10)
    series = comparative._SERIES_FNS["variogram_shape"](*curves[3], 10)
    assert np.isneginf(series[0])
    assert sax_mod.sax_word(series, 10, 10)[0] == "j" * 10

    df = spark.createDataFrame(
        [(sid, t.tolist(), m.tolist()) for sid, (t, m) in curves.items()],
        "star_id long, time array<double>, mag array<double>",
    )
    templates = df.filter(F.col("star_id").isin([0, 1, 2]))
    scores = comparative.comparative_scores(df, templates, "variogram_shape", **params)
    got = {
        r["star_id"]: r["feature"]
        for r in comparative.reduce_scores(scores, "best2", n_templates=3)
        .select("star_id", F.round("feature", 6).alias("feature"))
        .collect()
    }
    obs = [
        (sid, float(ti), float(mi))
        for sid, (t, m) in curves.items()
        for ti, mi in zip(t, m)
    ]
    duck.execute("CREATE OR REPLACE TEMP TABLE _vg_short(star_id BIGINT, t DOUBLE, mag DOUBLE)")
    duck.executemany("INSERT INTO _vg_short VALUES (?, ?, ?)", obs)
    want = dict(
        duck.execute(
            comparative.comparative_variogram_sql(
                "SELECT * FROM _vg_short", [0, 1, 2], meth="best2", **params
            )
        ).fetchall()
    )
    assert set(got) == set(want) == set(curves)
    for sid in curves:
        assert got[sid] == want[sid], sid
    assert got == _numpy_feature(curves, "variogram_shape", "best2", params)
