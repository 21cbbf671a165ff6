"""``lcc make_filter`` — tune and persist a star filter.

Mirrors lcc/bin/make_filter.py:34-390: load searched + contamination
samples, expand the tuned-parameter combinations from the status file,
hand them to the one grid search, ``ml.params_estim.ParamsEstimator``
(split by star id, seed 42, best by precision), and write the winning
filter + stats/ROC/coords artifacts under ``FILTERS/<name>/``.

This module keeps only argument parsing, sample loading, the per-combo
``build`` (featurize with the combo's descriptor params, construct the
deciders with its decider params) and the artifact writes.
"""

from __future__ import annotations

import argparse
import os

from ..ml.deciders import make_decider
from ..ml.params_estim import ParamsEstimator
from ..ml.stars_filter import StarsFilter
from ..ml import persistence, stats_artifacts
from ..sources import files
from . import descriptors as descr_registry
from . import stars_io


def _parse_combo(row: dict) -> dict:
    """``{'VariogramSlopeDescr:bins': '9'}`` → nested typed dict
    (lcc/cli/input_parse.parse_tun_query analog)."""
    combo: dict = {}
    for key, value in row.items():
        if ":" in key:
            obj, param = key.split(":", 1)
        else:
            obj, param = "", key
        try:
            typed = int(value)
        except (TypeError, ValueError):
            try:
                typed = float(value)
            except (TypeError, ValueError):
                typed = value
        combo.setdefault(obj, {})[param] = typed
    return combo


def main(project_settings, argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="lcc make_filter",
        description="Tune a star filter (reference: bin/make_filter.py).",
    )
    p.add_argument("-i", "--input", required=True,
                   help="tuning-combination file under TUN_PARAMS")
    p.add_argument("-n", "--name", dest="filt_name", default="Unnamed")
    p.add_argument("-f", "--descriptor", action="append", default=[],
                   dest="descriptors")
    p.add_argument("-s", "--searched", action="append", default=[])
    p.add_argument("-c", "--contamination", action="append", default=[],
                   dest="cont")
    p.add_argument("-d", "--decider", action="append", default=[],
                   dest="deciders")
    p.add_argument("-p", "--split", dest="split_ratio", default="3:1")
    opts = p.parse_args(argv)

    if not opts.descriptors or not opts.deciders:
        raise ValueError("at least one descriptor (-f) and decider (-d) required")
    # both folds must be non-empty: with no test stars every precision
    # is None and the first combo wins unranked; with no train stars
    # the deciders learn nothing
    split = opts.split_ratio.split(":")
    if len(split) != 2 or not all(x.isdecimal() and int(x) > 0 for x in split):
        p.error(
            f"-p takes two positive integers TRAIN:TEST, not {opts.split_ratio!r}"
        )
    train, test = (int(x) for x in split)

    from ..session import get_spark

    spark = get_spark("lcc-make-filter")

    searched = stars_io.load_specs(
        spark, opts.searched, project_settings.INP_LCS, project_settings.QUERIES
    ).cache()
    others = stars_io.load_specs(
        spark, opts.cont, project_settings.INP_LCS, project_settings.QUERIES
    ).cache()

    best = None
    try:
        combos = [
            _parse_combo(r)
            for r in files.load_query_file(
                os.path.join(project_settings.TUN_PARAMS, opts.input)
            )
        ]
        if not combos:
            raise ValueError("Empty parameters file")

        def build(combo):
            feats_s, cols = descr_registry.featurize(searched, opts.descriptors, combo)
            feats_o, _ = descr_registry.featurize(others, opts.descriptors, combo)
            # the combo's decider params (e.g. 'NeuronDecider:alpha') reach
            # the constructors, so combos varying only them differ
            deciders = [make_decider(d, **combo.get(d, {})) for d in opts.deciders]
            return StarsFilter(deciders, cols), feats_s, feats_o

        best = ParamsEstimator(
            searched, others, build, combos, train_ratio=train / (train + test)
        ).fit()
        filt, combo = best.filt, best.combo

        filt_name = opts.filt_name.rsplit(".", 1)[0] if "." in opts.filt_name else opts.filt_name
        filter_dir = os.path.join(project_settings.FILTERS, filt_name)
        os.makedirs(filter_dir, exist_ok=True)

        persistence.save_filter(filt, os.path.join(filter_dir, filt_name + ".filter"))

        # descriptor configuration the winning filter was TRAINED with —
        # filter_stars must featurize with the same params or the deciders
        # score a differently-distributed feature (train/serve skew)
        import json

        with open(os.path.join(filter_dir, "descr_params.json"), "w") as f:
            json.dump(
                {"descriptors": opts.descriptors, "params": combo}, f, indent=2
            )

        roc = filt.roc(best.s_test, best.o_test, n_thresholds=30)
        roc_stats = [
            {"threshold": thr, "false_positive_rate": fpr, "true_positive_rate": tpr}
            for thr, fpr, tpr in roc
        ]
        stats_artifacts.save_roc_file(roc_stats, filter_dir, file_name="ROC_data.dat")
        stats_artifacts.save_stats(
            [{k: v for k, v in r.items() if k != "params"} for r in best.stats],
            filter_dir,
            file_name="stats.dat",
        )

        # searched/contam coords — the tuned feature vectors (make_filter.py:374-379)
        for df, fname in (
            (best.feats_s, "searched_coords.dat"),
            (best.feats_o, "contam_coords.dat"),
        ):
            pdf = df.select(*filt.feature_cols).toPandas()
            with open(os.path.join(filter_dir, fname), "w") as f:
                f.write("# " + "\t".join(filt.feature_cols) + "\n")
                for _, row in pdf.iterrows():
                    f.write("\t".join(f"{v:.3f}" for v in row.to_numpy()) + "\n")
    finally:
        # the samples and the winner's test folds are cached for the
        # tuning; none of them may outlive the run, also when it fails
        tuned = (best.s_test, best.o_test) if best is not None else ()
        for df in (searched, others, *tuned):
            df.unpersist()

    print(
        f"Done. Best combo {combo} (precision {best.score}); "
        f"filter saved to {filter_dir}"
    )
    return 0
