"""StarsFilter — descriptors + deciders composed over DataFrames.

Reference (lcc/stars_processing/stars_filter.py:13-389): extract features
for searched/contamination samples, fit every decider, then filter stars
by ensemble probability against the mean decider threshold.

Spark shape: the feature DataFrame replaces the "space coordinates"
pandas frame; each decider appends one probability column in a single
pass over the data; combine/threshold/confusion stats are column
expressions and one aggregate — no driver-side loops over stars.
:func:`decide` is the same scoring as a flag: every row kept, one
``passed`` column over any number of filters (``lcc filter_stars``).
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame, functions as F

from ..plans.query_compiler import missing_sql, quote_ident, sql_number
from .deciders import BaseDecider

# lcc/stars_processing/stars_filter.py:291-327: combine = mean/max/min of
# decider probabilities, ROUNDED TO 2 decimals.
_COMBINE = {
    "mean": lambda cols: sum(cols[1:], cols[0]) / len(cols),
    "highest": F.greatest,
    "lowest": F.least,
}
# filterStars pass_method → evaluateCoordinates meth (stars_filter.py:100-114)
_PASS_METHOD = {"all": "lowest", "mean": "mean", "one": "highest"}


def combine_probabilities(
    df: DataFrame, prob_cols: list[str], meth: str = "mean", out_col: str = "prob"
) -> DataFrame:
    if meth not in _COMBINE:
        raise ValueError(
            f"unknown combine method {meth!r}; expected one of {sorted(_COMBINE)}"
        )
    cols = [F.col(c) for c in prob_cols]
    if meth == "highest" or meth == "lowest":
        combined = _COMBINE[meth](*cols) if len(cols) > 1 else cols[0]
    else:
        combined = _COMBINE["mean"](cols)
    return df.withColumn(out_col, F.round(combined, 2))


class StarsFilter:
    """Compose feature columns with a set of deciders.

    ``feature_cols`` play the role of descriptor outputs (already present
    on the DataFrame — the descriptor stage is the feature-extraction
    queries in ``functions/``/``operators/``).
    """

    def __init__(self, deciders: list[BaseDecider], feature_cols: list[str]):
        self.deciders = list(deciders)
        self.feature_cols = list(feature_cols)
        self.learned = False

    # stars_filter.py:119-168
    def learn(self, searched: DataFrame, others: DataFrame) -> "StarsFilter":
        searched = searched.na.drop(subset=self.feature_cols)
        others = others.na.drop(subset=self.feature_cols)
        for dec in self.deciders:
            dec.learn(searched, others, self.feature_cols)
        self.learned = True
        return self

    def _prob_cols(self) -> list[str]:
        return [f"prob_{i}_{dec.name()}" for i, dec in enumerate(self.deciders)]

    def _scores(self, df: DataFrame) -> DataFrame:
        for dec, col in zip(self.deciders, self._prob_cols()):
            df = dec.evaluate(df, self.feature_cols, col)
        return df

    def predictions(self, df: DataFrame) -> DataFrame:
        """One probability column per decider (getAllPredictions,
        stars_filter.py:264-288) — all appended in one scan."""
        return self._scores(df.na.drop(subset=self.feature_cols))

    def _combined(self, df: DataFrame, meth: str, out_col: str = "prob") -> DataFrame:
        """Every row of ``df`` with one probability column per decider
        and their ``meth`` combination ``out_col``: the scoring step of
        :meth:`filter_stars`, :meth:`statistics` and :func:`decide`."""
        return combine_probabilities(self._scores(df), self._prob_cols(), meth, out_col)

    def mean_threshold(self) -> float:
        # stars_filter.py:103: threshold = mean of decider thresholds
        return float(sum(d.threshold for d in self.deciders) / len(self.deciders))

    def filter_stars(self, df: DataFrame, pass_method: str = "all") -> DataFrame:
        """stars_filter.py:78-117: combined probability >= mean threshold."""
        out = self._combined(
            df.na.drop(subset=self.feature_cols), _PASS_METHOD[pass_method]
        )
        # A Filter on ``prob`` would be pushed below the projection with
        # every score inlined, evaluating each decider twice per star; a
        # generator over a one-element array is not pushed down.
        thr = F.lit(self.mean_threshold())
        return out.withColumn(
            "prob", F.explode(F.filter(F.array("prob"), lambda p: p >= thr))
        )

    def _positive_counts(self, df: DataFrame, thresholds) -> tuple[int, list[int]]:
        """Row count and, per threshold, how many rows' mean-combined
        probability reaches it — one aggregate over ``df``."""
        out = self._combined(df.na.drop(subset=self.feature_cols), "mean")
        row = out.agg(
            F.count("*").alias("n"),
            *(
                # coalesce: sum over an empty sample collects as None
                F.coalesce(
                    F.sum((F.col("prob") >= F.lit(float(t))).cast("long")),
                    F.lit(0),
                ).alias(f"t{i}")
                for i, t in enumerate(thresholds)
            ),
        ).collect()[0]
        return row["n"], [row[f"t{i}"] for i in range(len(thresholds))]

    # base_decider.py:133-197 over the ensemble, one aggregate per call
    def statistics(
        self, searched: DataFrame, others: DataFrame, threshold: float | None = None
    ) -> OrderedDict:
        thr = threshold if threshold is not None else self.mean_threshold()
        right_num, (true_pos,) = self._positive_counts(searched, [thr])
        wrong_num, (false_pos,) = self._positive_counts(others, [thr])
        true_neg = wrong_num - false_pos
        false_neg = right_num - true_pos

        def _rate(num, den):
            # degenerate (empty) sample → undefined rate, reported as
            # None (stats_artifacts.roc_points already handles None)
            return round(num / den, 3) if den else None

        f1_den = 2 * true_pos + false_pos + false_neg
        return OrderedDict(
            [
                # None like every other undefined rate — `or 0` both
                # masked the undefined case as a real all-wrong score
                # AND rewrote a legitimate 0.0 precision to int 0
                ("precision", _rate(true_pos, true_pos + false_pos)),
                ("accuracy", _rate(true_pos + true_neg, right_num + wrong_num)),
                ("f1_score", 2 * true_pos / f1_den if f1_den else 0),
                ("true_positive_rate", _rate(true_pos, right_num)),
                ("true_negative_rate", _rate(true_neg, wrong_num)),
                (
                    "false_positive_rate",
                    None if not wrong_num else round(1 - true_neg / wrong_num, 3),
                ),
                (
                    "false_negative_rate",
                    None if not right_num else round(1 - true_pos / right_num, 3),
                ),
            ]
        )

    def roc(
        self, searched: DataFrame, others: DataFrame, n_thresholds: int = 30
    ) -> list[tuple[float, float, float]]:
        """(threshold, FPR, TPR) sweep — stars_filter.py:370-376 uses 30
        thresholds in [0.01, 0.99]. Computed in ONE pass per sample via a
        threshold-array aggregate instead of 30 scans."""
        import numpy as np

        thresholds = np.linspace(0.01, 0.99, n_thresholds)
        n_s, tp = self._positive_counts(searched, thresholds)
        n_c, fp = self._positive_counts(others, thresholds)
        # empty sample → undefined rates (None), matching statistics()
        return [
            (
                float(t),
                fp[i] / n_c if n_c else None,
                tp[i] / n_s if n_s else None,
            )
            for i, t in enumerate(thresholds)
        ]


def decide(filters: list[StarsFilter], df: DataFrame) -> DataFrame:
    """Every row of ``df`` plus one non-NULL boolean ``passed``: true
    where every filter's :meth:`~StarsFilter.filter_stars` keeps the row
    under its default pass method, ``all`` (no filter: every row passes).
    A row missing a filter's feature (NULL or NaN) does not pass, whatever
    its deciders score it. Each decider scores each row once, and no
    probability column is kept."""
    cols, conds = df.columns, []
    for i, filt in enumerate(filters):
        prob = f"_prob_{i}"
        df = filt._combined(df, _PASS_METHOD["all"], prob).drop(*filt._prob_cols())
        conds.append(f"NOT ({missing_sql(filt.feature_cols)})")
        conds.append(f"{prob} >= {sql_number(filt.mean_threshold())}")
    passed = " AND ".join(conds) or "TRUE"
    return df.selectExpr(*map(quote_ident, cols), f"coalesce({passed}, FALSE) AS passed")


def _lda_fit_ctes_sql(reg: float) -> str:
    """The closed-form d=3 LDA fit as a CTE chain over a ``cls(star_id,
    f1, f2, f3, lbl)`` source: per-class means, pooled ridge scatter,
    Cramer 3x3 inverse + log-determinant, class-mean cross row.
    SINGLE-SOURCED for the pipeline and the held-out evaluation — a fix
    applied to one copy and not the other would make the filter and its
    own evaluation silently disagree."""
    return f"""mstats AS (
  SELECT lbl, count(*) AS n, avg(f1) AS m1, avg(f2) AS m2, avg(f3) AS m3
  FROM cls GROUP BY lbl
),
scat AS (
  SELECT c.lbl,
         sum((f1 - m1) * (f1 - m1)) AS s11,
         sum((f1 - m1) * (f2 - m2)) AS s12,
         sum((f1 - m1) * (f3 - m3)) AS s13,
         sum((f2 - m2) * (f2 - m2)) AS s22,
         sum((f2 - m2) * (f3 - m3)) AS s23,
         sum((f3 - m3) * (f3 - m3)) AS s33
  FROM cls c JOIN mstats m USING (lbl) GROUP BY c.lbl
),
tot AS (SELECT sum(n) AS ntot FROM mstats),
pooled AS (
  SELECT sum(s11) / (ntot - 2) + {reg!r} AS p11,
         sum(s12) / (ntot - 2) AS p12,
         sum(s13) / (ntot - 2) AS p13,
         sum(s22) / (ntot - 2) + {reg!r} AS p22,
         sum(s23) / (ntot - 2) AS p23,
         sum(s33) / (ntot - 2) + {reg!r} AS p33,
         ntot
  FROM scat, tot GROUP BY ntot
),
det AS (
  SELECT *,
         p11 * (p22 * p33 - p23 * p23)
         - p12 * (p12 * p33 - p23 * p13)
         + p13 * (p12 * p23 - p22 * p13) AS dt
  FROM pooled
),
inv AS (
  SELECT ntot, ln(dt) AS logdet,
         (p22 * p33 - p23 * p23) / dt AS i11,
         (p13 * p23 - p12 * p33) / dt AS i12,
         (p12 * p23 - p13 * p22) / dt AS i13,
         (p11 * p33 - p13 * p13) / dt AS i22,
         (p12 * p13 - p11 * p23) / dt AS i23,
         (p11 * p22 - p12 * p12) / dt AS i33
  FROM det
),
cm AS (
  SELECT m0.m1 AS a1, m0.m2 AS a2, m0.m3 AS a3, m0.n AS n0,
         m1.m1 AS b1, m1.m2 AS b2, m1.m3 AS b3, m1.n AS n1
  FROM mstats m0, mstats m1 WHERE m0.lbl = 0 AND m1.lbl = 1
)"""


# Mahalanobis log-likelihood pair over a scored source aliased ``c``
# joined to (inv, cm) — shared verbatim by both SQL builders.
_LDA_LL_SQL = """         -0.5 * (((f1 - a1) * (f1 - a1) * i11 + (f2 - a2) * (f2 - a2) * i22
                  + (f3 - a3) * (f3 - a3) * i33
                  + 2 * ((f1 - a1) * (f2 - a2) * i12
                         + (f1 - a1) * (f3 - a3) * i13
                         + (f2 - a2) * (f3 - a3) * i23)) + logdet)
         + ln(CAST(n0 AS DOUBLE) / ntot) AS ll0,
         -0.5 * (((f1 - b1) * (f1 - b1) * i11 + (f2 - b2) * (f2 - b2) * i22
                  + (f3 - b3) * (f3 - b3) * i33
                  + 2 * ((f1 - b1) * (f2 - b2) * i12
                         + (f1 - b1) * (f3 - b3) * i13
                         + (f2 - b2) * (f3 - b3) * i23)) + logdet)
         + ln(CAST(n1 AS DOUBLE) / ntot) AS ll1"""


def lda_pipeline_sql(feats_sql: str, split_pred: str = "abbe < 0.9",
                     reg: float = 1e-6, threshold: float = 0.5) -> str:
    """DuckDB oracle for the trained-LDA filter pipeline
    (GaussianDecider 'lda' + filter_stars, ml/deciders.py:237-315): the
    closed-form fit is plain SQL for d=3 features (mean_mag, std_mag,
    abbe) — per-class means, two-pass pooled scatter with the reg·I
    ridge, Cramer's-rule 3×3 inverse and log-determinant, Mahalanobis
    quadratic forms, softmax probability — then the stars_filter combine
    rule (round to 2 decimals BEFORE the threshold compare). Float
    summation-order differences vs numpy are ~1e-13 and the output
    rounds to 2 decimals, so the hash is stable."""
    return f"""
WITH feats AS ({feats_sql}),
cls AS (
  SELECT star_id, mean_mag AS f1, std_mag AS f2, abbe AS f3,
         CASE WHEN {split_pred} THEN 1 ELSE 0 END AS lbl
  FROM feats
  WHERE mean_mag IS NOT NULL AND std_mag IS NOT NULL AND abbe IS NOT NULL
),
{_lda_fit_ctes_sql(reg)},
scored AS (
  SELECT c.star_id,
{_LDA_LL_SQL}
  FROM cls c, inv, cm
),
prob AS (
  SELECT star_id, round(1.0 / (1.0 + exp(ll0 - ll1)), 2) AS prob FROM scored
)
SELECT star_id, prob FROM prob WHERE prob >= {threshold!r}
"""


def lda_holdout_sql(feats_sql: str, split_pred: str = "abbe < 0.9",
                    test_hex: str = "4ccccccc", reg: float = 1e-6,
                    threshold: float = 0.5) -> str:
    """DuckDB oracle for the held-out evaluation of the closed-form LDA
    pipeline: fit on the ~70% md5-split train fold, score the ~30% test
    fold, report confusion counts + accuracy. Same fit CTEs as
    :func:`lda_pipeline_sql` restricted to the train fold; the md5
    split is the engine-portable ``sample_fraction`` rule."""
    return f"""
WITH feats AS ({feats_sql}),
labeled AS (
  SELECT star_id, mean_mag AS f1, std_mag AS f2, abbe AS f3,
         CASE WHEN {split_pred} THEN 1 ELSE 0 END AS lbl,
         substring(md5(CAST(star_id AS VARCHAR)), 1, 8) < '{test_hex}'
           AS is_test
  FROM feats
  WHERE mean_mag IS NOT NULL AND std_mag IS NOT NULL AND abbe IS NOT NULL
),
cls AS (SELECT * FROM labeled WHERE NOT is_test),
tst AS (SELECT * FROM labeled WHERE is_test),
{_lda_fit_ctes_sql(reg)},
scored AS (
  SELECT c.star_id, c.lbl,
{_LDA_LL_SQL}
  FROM tst c, inv, cm
),
preds AS (
  SELECT lbl,
         CASE WHEN round(1.0 / (1.0 + exp(ll0 - ll1)), 2) >= {threshold!r}
              THEN 1 ELSE 0 END AS pred
  FROM scored
)
SELECT count(*) AS n_test,
       CAST(sum(CASE WHEN pred = 1 AND lbl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(sum(CASE WHEN pred = 1 AND lbl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(sum(CASE WHEN pred = 0 AND lbl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       CAST(sum(CASE WHEN pred = 0 AND lbl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       round(CAST(sum(CASE WHEN pred = lbl THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS accuracy
FROM preds
"""
