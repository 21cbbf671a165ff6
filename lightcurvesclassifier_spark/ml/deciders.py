"""Deciders — the reference's classifier layer, Spark-first.

Reference contract (lcc/stars_processing/utilities/base_decider.py:13-131):
``learn(right_coords, wrong_coords)``, ``evaluate(coords) -> prob``, and a
``threshold`` attribute (default 0.8). The supervised base wraps sklearn
``fit``/``predict_proba[:, 1]`` with NaN probs → 0
(utilities/superv_base_decider.py:40-100).

Here a decider learns from two DataFrames of features and *scores
distributively*:

- **MLlib-backed** deciders (trees, forests, GBT, logistic) train on
  the assembled train set (small — the reference trains on tens-to-
  thousands of stars) and score via ``model.transform`` — JVM-side.
- **Numpy-fit** deciders subclass ``NumpyDecider``: the fit runs
  driver-side with numpy on the train sample, collected in one job
  (tiny by contract — the reference trains on tens-to-thousands of
  stars). (The container has no sklearn; these are the published
  algorithms the reference uses, implemented from their definitions —
  lcc/stars_processing/deciders/supervised_deciders.py:12-219,
  deciders/neuron_decider.py:11-155.)
  - ``GaussianDecider`` (LDA / QDA / GaussianNB): textbook closed forms.
    The fitted discriminant is a polynomial of degree at most 2 in the
    features, folded on the driver into one Spark SQL expression, so
    scoring is code-generated JVM work with no Python worker (linear
    for LDA, whose two classes share one inverse covariance).
  - ``ArrowDecider`` subclasses score through one broadcast-parameter
    vectorized pandas UDF over their ``proba``: the 100 TB path is the
    scoring scan, which is fully distributed. AdaBoostDec and
    ExtraTreesDec: SAMME.R over gini stumps; extremely randomized trees
    — ``ml/boosting.py``. SVCDec: SMO-trained RBF C-SVC with
    libsvm-style 5-fold Platt scaling (``ml/svc.py``); NeuronDecider:
    the reference's Keras 2-layer relu→sigmoid net trained with Adam in
    numpy (``ml/neural.py``).

Probabilities are NOT rounded here; the ensemble combine rounds to 2
decimals exactly where the reference does
(stars_filter.py:291-327).
"""

from __future__ import annotations

import abc

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from ..plans.query_compiler import missing_sql, quote_ident, range_predicate, sql_number

LABEL = "_label"
FEATURES = "_features"
DEFAULT_THRESHOLD = 0.8  # base_decider.py:28


def _assemble(df: DataFrame, feature_cols: list[str]) -> DataFrame:
    from pyspark.ml.feature import VectorAssembler

    return VectorAssembler(
        inputCols=list(feature_cols), outputCol=FEATURES, handleInvalid="skip"
    ).transform(df)


def stack_samples(x1: np.ndarray, x0: np.ndarray, negative: float = 0.0):
    """One train matrix, searched rows first, and its labels: 1.0 for
    the searched rows, ``negative`` for the others."""
    y = np.concatenate([np.ones(len(x1)), np.full(len(x0), negative)])
    return np.vstack([x1, x0]), y


def _score_complete_rows(df, feature_cols, out_col, model, prob_of, missing):
    """``model.transform`` over the rows with every feature present;
    the other rows keep their row and get ``missing`` — the assembler's
    handleInvalid='skip' would silently DROP them. ``prob_of(scored)``
    picks the output column from the transformed frame."""
    valid_pred = F.lit(True)
    for c in feature_cols:
        valid_pred = valid_pred & F.col(c).isNotNull() & ~F.isnan(c)
    valid = df.filter(valid_pred)
    invalid = df.filter(~F.coalesce(valid_pred, F.lit(False)))
    scored = model.transform(_assemble(valid, feature_cols))
    return scored.select(*df.columns, prob_of(scored).alias(out_col)).unionByName(
        invalid.select(*df.columns, missing.alias(out_col))
    )


class BaseDecider(abc.ABC):
    """learn / evaluate / threshold — the reference's decider contract."""

    threshold: float = DEFAULT_THRESHOLD

    @abc.abstractmethod
    def learn(
        self, searched: DataFrame, others: DataFrame, feature_cols: list[str]
    ) -> "BaseDecider":
        ...

    @abc.abstractmethod
    def evaluate(
        self, df: DataFrame, feature_cols: list[str], out_col: str = "prob"
    ) -> DataFrame:
        """Append membership-probability column ``out_col``."""
        ...

    def name(self) -> str:
        return type(self).__name__


class MLlibDecider(BaseDecider):
    """Wraps any pyspark.ml probabilistic classifier.

    ``hard_predict=True`` mirrors TreeDec, whose ``evaluate`` returns the
    hard 0/1 prediction instead of a probability
    (supervised_deciders.py:102-116).
    """

    def __init__(self, estimator_factory, hard_predict: bool = False,
                 threshold: float = DEFAULT_THRESHOLD):
        self._factory = estimator_factory
        self.hard_predict = hard_predict
        self.threshold = threshold
        self.model = None

    def learn(self, searched, others, feature_cols):
        train = searched.withColumn(LABEL, F.lit(1.0)).unionByName(
            others.withColumn(LABEL, F.lit(0.0))
        )
        train = _assemble(train.na.drop(subset=feature_cols), feature_cols)
        est = self._factory()
        est.setFeaturesCol(FEATURES)
        est.setLabelCol(LABEL)
        self.model = est.fit(train)
        # Drop the training summary: it holds the fitting SparkSession,
        # which rides model.transform's prediction-UDF closure into
        # every scoring task — and a classic Spark 4.1 session whose
        # lazy `observationManager` has been initialized (ANY
        # DataFrame.observe / Observation use anywhere in the session,
        # e.g. an earlier run of this engine's CC-era plans or any user
        # query) is NOT serializable, failing the score job with `Task
        # not serializable`. The summary is training-time metadata this
        # decider never reads; shedding it keeps the scoring closure
        # free of the session no matter what ran before.
        try:
            self.model._call_java("setSummary", None)
        except Exception:
            pass  # older/newer MLlib without the setter: keep going
        return self

    def evaluate(self, df, feature_cols, out_col="prob"):
        # rows with a missing feature score 0 like every other decider
        # (superv_base_decider.py:93-100's NaN→0 rule)
        def prob_of(scored):
            if self.hard_predict or "probability" not in scored.columns:
                prob = F.col("prediction")
            else:
                from pyspark.ml.functions import vector_to_array

                prob = vector_to_array(F.col("probability")).getItem(1)
            # NaN probabilities → 0 (superv_base_decider.py:93-100)
            return F.coalesce(F.nanvl(prob, F.lit(0.0)), F.lit(0.0))

        return _score_complete_rows(
            df, feature_cols, out_col, self.model, prob_of, F.lit(0.0)
        )


class NumpyDecider(BaseDecider):
    """A decider fit driver-side with numpy: the superv_base_decider
    analog. ``learn`` collects both train samples in one job and keeps
    ``self.params = self.fit(x1, x0)``. Subclasses give ``fit`` and a
    scoring path: ``GaussianDecider`` one SQL expression,
    ``ArrowDecider`` subclasses a pandas UDF."""

    params = None

    @abc.abstractmethod
    def fit(self, x1: np.ndarray, x0: np.ndarray):
        """Model parameters from the searched (``x1``) and other
        (``x0``) samples, as collected."""
        ...

    def learn(self, searched, others, feature_cols):
        """One ``toPandas`` of ``searched`` (label 1) then ``others``
        (label 0), rows with a missing feature dropped, split by label
        on the driver. Raises on an empty side: silently fitting on
        nothing yields an all-NaN model that scores every star 0.0 with
        no indication anything is wrong (superv_base_decider fails
        loudly there too)."""
        train = searched.select(*feature_cols, F.lit(1).alias(LABEL)).union(
            others.select(*feature_cols, F.lit(0).alias(LABEL))
        )
        pdf = train.na.drop(subset=feature_cols).toPandas()
        x1, x0 = (
            pdf.loc[pdf[LABEL] == label, feature_cols].to_numpy(dtype=float)
            for label in (1, 0)
        )
        if not (len(x1) and len(x0)):
            raise ValueError("Decider can't be learned on an empty sample")
        self.params = self.fit(x1, x0)
        return self


class ArrowDecider(NumpyDecider):
    """A numpy decider scored through one broadcast-parameter pandas UDF
    over ``array(feature_cols)``: Arrow-batched, no per-row Python.
    Subclasses give ``fit`` and ``proba``."""

    @abc.abstractmethod
    def proba(self, x: np.ndarray) -> np.ndarray:
        """Membership probability of each row of ``x`` under
        ``self.params``."""
        ...

    def evaluate(self, df, feature_cols, out_col="prob"):
        proba = self.proba

        @F.pandas_udf(T.DoubleType())
        def score(arr: pd.Series) -> pd.Series:
            x = np.vstack(arr.to_numpy())  # a NULL feature arrives as NaN
            # a row with a missing feature and a NaN probability score 0
            # (superv_base_decider.py:93-100)
            prob = np.where(np.isnan(x).any(axis=1), 0.0, proba(x))
            return pd.Series(np.nan_to_num(prob, nan=0.0))

        # asNondeterministic: filter_stars filters on this column, and
        # the optimizer would otherwise push that filter below the
        # projection by DUPLICATING the ArrowEvalPython node (two score
        # evaluations per star — measured in stars_filter_pipeline's
        # plan). The function is pure; the marking only pins a single
        # evaluation.
        return df.withColumn(
            out_col, score.asNondeterministic()(F.array(*feature_cols))
        )


class GaussianDecider(NumpyDecider):
    """Closed-form Gaussian discriminant deciders: 'lda' (shared
    covariance), 'qda' (per-class covariance), 'nb' (diagonal).
    ``evaluate`` is one Spark SQL expression of the fitted discriminant
    (:meth:`discriminant_sql`): no Python worker scores a star."""

    def __init__(self, kind: str = "lda", threshold: float = DEFAULT_THRESHOLD,
                 reg: float = 1e-6):
        assert kind in ("lda", "qda", "nb")
        self.kind = kind
        self.threshold = threshold
        self.reg = reg

    def fit(self, x1, x0):
        n1, n0 = len(x1), len(x0)
        priors = np.array([n0, n1], dtype=float) / (n0 + n1)
        means = [x0.mean(axis=0), x1.mean(axis=0)]
        d = x1.shape[1]
        eye = np.eye(d)
        if self.kind == "nb":
            var = [x0.var(axis=0) + self.reg, x1.var(axis=0) + self.reg]
            covs = [np.diag(v) for v in var]
        elif self.kind == "qda":
            covs = [
                np.cov(x0, rowvar=False).reshape(d, d) + self.reg * eye,
                np.cov(x1, rowvar=False).reshape(d, d) + self.reg * eye,
            ]
        else:  # lda: pooled covariance
            c0 = (x0 - means[0]).T @ (x0 - means[0])
            c1 = (x1 - means[1]).T @ (x1 - means[1])
            pooled = (c0 + c1) / (n0 + n1 - 2) + self.reg * eye
            covs = [pooled, pooled]
        return {
            "priors": priors,
            "means": np.array(means),
            "inv": np.array([np.linalg.inv(c) for c in covs]),
            "logdet": np.array([np.linalg.slogdet(c)[1] for c in covs]),
        }

    def discriminant(self):
        """The fitted log-odds ``g(x) = ll1 - ll0 = c + b·x + xᵀQx`` as
        ``(c, b, Q)``, where ``ll_k = -(maha_k + logdet_k)/2 + log
        prior_k``. Each class's Mahalanobis form ``(x-m)ᵀA(x-m)``
        expands to ``xᵀAx - (A+Aᵀ)m·x + mᵀAm``; the two are folded
        before any term is written, so LDA's shared inverse leaves Q
        exactly 0 (a linear score) and NB's diagonal ones a diagonal Q."""
        p = self.params
        (a0, a1), (m0, m1) = p["inv"], p["means"]
        q = -0.5 * (a1 - a0)
        b = 0.5 * ((a1 + a1.T) @ m1 - (a0 + a0.T) @ m0)
        c = (
            -0.5 * (m1 @ a1 @ m1 - m0 @ a0 @ m0 + p["logdet"][1] - p["logdet"][0])
            + np.log(p["priors"][1]) - np.log(p["priors"][0])
        )
        return c, b, q

    def discriminant_sql(self, feature_cols) -> str:
        """The membership probability ``1 / (1 + exp(-g))`` as a Spark
        SQL expression: 0 for a row with a NULL or NaN feature and for a
        NaN probability (superv_base_decider.py:93-100). Zero terms of
        ``g`` are left out; ``Q``'s pair (i, j) is one term."""
        c, b, q = self.discriminant()
        cols = [quote_ident(f) for f in feature_cols]
        terms = [sql_number(c)]
        terms += [f"{sql_number(w)} * {x}" for w, x in zip(b, cols) if w]
        for i, xi in enumerate(cols):
            for j in range(i, len(cols)):
                w = q[i, i] if i == j else q[i, j] + q[j, i]
                if w:
                    terms.append(f"{sql_number(w)} * {xi} * {cols[j]}")
        g = " + ".join(terms)
        return (
            f"CASE WHEN {missing_sql(feature_cols)} THEN 0.0D "
            f"ELSE nanvl(1.0D / (1.0D + exp(-({g}))), 0.0D) END"
        )

    def evaluate(self, df, feature_cols, out_col="prob"):
        return df.withColumn(out_col, F.expr(self.discriminant_sql(feature_cols)))


class CustomDecider(BaseDecider):
    """Boundary ranges, no learning — probability is 1 inside the box,
    0 outside (deciders/custom_decider.py:43-108). threshold=0.5."""

    def __init__(self, ranges: dict, threshold: float = 0.5):
        self.ranges = ranges
        self.threshold = threshold

    def learn(self, searched, others, feature_cols):
        return self

    def evaluate(self, df, feature_cols, out_col="prob"):
        return df.withColumn(
            out_col, F.when(range_predicate(self.ranges), 1.0).otherwise(0.0)
        )


class KMeansDecider(BaseDecider):
    """Unsupervised: MLlib KMeans; ``evaluate`` returns the cluster id as
    a float, mirroring k_means_decider.py:8-19 (not a probability)."""

    def __init__(self, k: int = 2, seed: int = 42):
        self.k = k
        self.seed = seed
        self.model = None

    def learn(self, searched, others, feature_cols):
        from pyspark.ml.clustering import KMeans

        train = searched.unionByName(others).na.drop(subset=feature_cols)
        train = _assemble(train, feature_cols)
        self.model = KMeans(k=self.k, seed=self.seed, featuresCol=FEATURES).fit(train)
        return self

    def evaluate(self, df, feature_cols, out_col="prob"):
        # rows with a missing feature score NULL: the supervised NaN→0
        # rule cannot apply here because 0 is a real cluster id
        return _score_complete_rows(
            df, feature_cols, out_col, self.model,
            lambda scored: F.col("prediction").cast("double"),
            F.lit(None).cast("double"),
        )


def _boosting():
    from . import boosting

    return boosting


def _svc():
    from . import svc

    return svc


def _neural():
    from . import neural

    return neural


def make_decider(name: str, **kw) -> BaseDecider:
    """Registry keyed by the reference decider class names
    (lcc/stars_processing/deciders/__init__.py)."""
    from pyspark.ml.classification import (
        DecisionTreeClassifier,
        GBTClassifier,
        RandomForestClassifier,
    )

    seed = kw.pop("seed", 42)
    registry = {
        "LDADec": lambda: GaussianDecider("lda", **kw),
        "QDADec": lambda: GaussianDecider("qda", **kw),
        "GaussianNBDec": lambda: GaussianDecider("nb", **kw),
        "TreeDec": lambda: MLlibDecider(
            lambda: DecisionTreeClassifier(seed=seed), hard_predict=True, **kw
        ),
        "RandomForestDec": lambda: MLlibDecider(
            lambda: RandomForestClassifier(seed=seed), **kw
        ),
        "GradBoostDec": lambda: MLlibDecider(lambda: GBTClassifier(seed=seed), **kw),
        # exact published algorithms, NumpyDecider subclasses
        # (ml/boosting.py — SAMME.R stumps / extremely randomized trees):
        "AdaBoostDec": lambda: _boosting().AdaBoostDecider(**kw),
        "ExtraTreesDec": lambda: _boosting().ExtraTreesDecider(seed=seed, **kw),
        # exact published algorithms (ml/svc.py, ml/neural.py):
        "SVCDec": lambda: _svc().SVCDecider(seed=seed, **kw),
        "NeuronDecider": lambda: _neural().NeuronDecider(seed=seed, **kw),
        "KMeansDecider": lambda: KMeansDecider(seed=seed, **kw),
        "CustomDecider": lambda: CustomDecider(**kw),
    }
    return registry[name]()
