"""ParamsEstimator — the one grid search over StarsFilter configurations,
used by the library and by ``lcc make_filter``.

Reference (lcc/stars_processing/tools/params_estim.py:15-326): shuffled
70/30 train/test split, one fresh StarsFilter per tuned-parameter combo,
fit + score on test, argmax of precision.

Spark: the split is drawn once over the distinct star ids of each
sample with a seeded ``randomSplit`` (seed 42) instead of the
reference's unseeded row shuffle (documented divergence — the
reference's split is nondeterministic, params_estim.py:80-86), so every
combo trains and scores on the same stars and a star's whole curve
lands on one side. Each combo's fit/score is itself distributed; the
combo loop is the driver-side outer dimension exactly like the
reference's process pool, with Spark supplying the inner parallelism.
"""

from __future__ import annotations

from typing import Any, Callable, Mapping, NamedTuple, Sequence

from pyspark.sql import DataFrame

from .stars_filter import StarsFilter


class Tuned(NamedTuple):
    """The winning combo, its precision (-inf when undefined), every
    combo's statistics in combo order, and the winner's frames; its test
    folds stay cached for the caller's ROC sweep."""

    filt: StarsFilter
    combo: Mapping[str, Any]
    score: float
    stats: list[dict]
    feats_s: DataFrame
    feats_o: DataFrame
    s_test: DataFrame
    o_test: DataFrame


class ParamsEstimator:
    """``build(combo)`` returns the combo's StarsFilter and its searched
    and others feature frames; every frame carries ``star_id``, and
    ``searched``/``others`` supply the star ids that are split."""

    def __init__(
        self,
        searched: DataFrame,
        others: DataFrame,
        build: Callable[
            [Mapping[str, Any]], tuple[StarsFilter, DataFrame, DataFrame]
        ],
        combos: Sequence[Mapping[str, Any]],
        train_ratio: float = 0.7,
    ):
        self.searched = searched
        self.others = others
        self.build = build
        self.combos = list(combos)
        self.train_ratio = train_ratio

    def _split_ids(self, df: DataFrame) -> list[DataFrame]:
        ids = df.select("star_id").distinct()
        return ids.randomSplit([self.train_ratio, 1 - self.train_ratio], seed=42)

    def fit(self) -> Tuned:
        s_train_ids, s_test_ids = self._split_ids(self.searched)
        o_train_ids, o_test_ids = self._split_ids(self.others)

        results, best = [], None
        for combo in self.combos:
            filt, feats_s, feats_o = self.build(combo)
            filt.learn(
                feats_s.join(s_train_ids, "star_id"),
                feats_o.join(o_train_ids, "star_id"),
            )
            s_test = feats_s.join(s_test_ids, "star_id").cache()
            o_test = feats_o.join(o_test_ids, "star_id").cache()
            stats = dict(filt.statistics(s_test, o_test))
            stats["params"] = dict(combo)
            results.append(stats)
            # a zero-denominator fold yields precision None — rank it
            # below every real score instead of raising on `None > float`
            score = stats["precision"]
            score = float("-inf") if score is None else score
            if best is None or score > best.score:
                if best is not None:
                    best.s_test.unpersist()
                    best.o_test.unpersist()
                best = Tuned(
                    filt, combo, score, results, feats_s, feats_o, s_test, o_test
                )
            else:
                s_test.unpersist()
                o_test.unpersist()
        return best
