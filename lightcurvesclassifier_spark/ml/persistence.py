"""Trained-filter persistence — the FiltersSerializer analog.

The reference pickles whole StarsFilter objects
(lcc/data_manager/filter_serializer.py:35-62). Pickle doesn't survive
environment changes, so here a filter persists as a directory: a JSON
manifest (decider types, thresholds, feature columns) plus one subdir
per decider — MLlib models through their native writers, the
Gaussian, neural and SVC parameter arrays as one params.npz, and
AdaBoost stumps, ExtraTrees trees and CustomDecider ranges inline in
the manifest.
"""

from __future__ import annotations

import importlib
import json
import os

import numpy as np

from pyspark.sql import SparkSession

from .boosting import AdaBoostDecider, ExtraTreesDecider
from .deciders import (
    BaseDecider,
    CustomDecider,
    GaussianDecider,
    KMeansDecider,
    MLlibDecider,
)
from .neural import NeuronDecider
from .stars_filter import StarsFilter
from .svc import SVCDecider


MANIFEST = "filter.json"
# kinds whose ``dec.params`` dict of arrays persists as one params.npz
_NPZ_KINDS = ("gaussian", "neural", "svc")


def save_filter(filt: StarsFilter, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    entries = []
    for i, dec in enumerate(filt.deciders):
        sub = f"decider_{i}"
        entry: dict = {"threshold": dec.threshold, "dir": sub}
        if isinstance(dec, GaussianDecider):
            entry["kind"] = "gaussian"
            entry["gaussian_kind"] = dec.kind
        elif isinstance(dec, CustomDecider):
            entry["kind"] = "custom"
            entry["ranges"] = {
                k: [lo, hi] for k, (lo, hi) in dec.ranges.items()
            }
        elif isinstance(dec, AdaBoostDecider):
            entry["kind"] = "adaboost"
            entry["learning_rate"] = dec.learning_rate
            entry["stumps"] = dec.params
        elif isinstance(dec, ExtraTreesDecider):
            entry["kind"] = "extratrees"
            entry["seed"] = dec.seed
            entry["trees"] = dec.params
        elif isinstance(dec, NeuronDecider):
            entry["kind"] = "neural"
            entry["hidden_neurons"] = dec.hidden_neurons
        elif isinstance(dec, SVCDecider):
            entry["kind"] = "svc"
        elif isinstance(dec, KMeansDecider):
            # registry-supported decider, previously unpersistable: the
            # wrapped KMeansModel has a native MLlib writer like the
            # classifier models below
            entry["kind"] = "kmeans"
            entry["k"] = dec.k
            entry["seed"] = dec.seed
            dec.model.write().overwrite().save(os.path.join(path, sub))
        elif isinstance(dec, MLlibDecider):
            entry["kind"] = "mllib"
            entry["model_class"] = (
                type(dec.model).__module__ + "." + type(dec.model).__name__
            )
            entry["hard_predict"] = dec.hard_predict
            dec.model.write().overwrite().save(os.path.join(path, sub))
        else:
            raise ValueError(f"unsupported decider type: {type(dec).__name__}")
        if entry["kind"] in _NPZ_KINDS:
            os.makedirs(os.path.join(path, sub), exist_ok=True)
            np.savez(os.path.join(path, sub, "params.npz"), **dec.params)
        entries.append(entry)
    with open(os.path.join(path, MANIFEST), "w") as f:
        json.dump(
            {"feature_cols": filt.feature_cols, "deciders": entries}, f, indent=2
        )


def load_filter(spark: SparkSession, path: str) -> StarsFilter:
    with open(os.path.join(path, MANIFEST)) as f:
        manifest = json.load(f)
    deciders: list[BaseDecider] = []
    for entry in manifest["deciders"]:
        if entry["kind"] == "gaussian":
            dec = GaussianDecider(entry["gaussian_kind"], threshold=entry["threshold"])
        elif entry["kind"] == "custom":
            dec = CustomDecider(
                {k: tuple(v) for k, v in entry["ranges"].items()},
                threshold=entry["threshold"],
            )
        elif entry["kind"] == "adaboost":
            dec = AdaBoostDecider(
                n_estimators=len(entry["stumps"]),
                learning_rate=entry["learning_rate"],
                threshold=entry["threshold"],
            )
            dec.params = entry["stumps"]
        elif entry["kind"] == "extratrees":
            dec = ExtraTreesDecider(
                n_estimators=len(entry["trees"]),
                seed=entry["seed"],
                threshold=entry["threshold"],
            )
            dec.params = entry["trees"]
        elif entry["kind"] == "neural":
            dec = NeuronDecider(
                threshold=entry["threshold"],
                hidden_neurons=entry["hidden_neurons"],
            )
        elif entry["kind"] == "svc":
            dec = SVCDecider(threshold=entry["threshold"])
        elif entry["kind"] == "kmeans":
            from pyspark.ml.clustering import KMeansModel

            dec = KMeansDecider(k=entry["k"], seed=entry["seed"])
            dec.model = KMeansModel.load(os.path.join(path, entry["dir"]))
        else:
            mod, _, cls = entry["model_class"].rpartition(".")
            model_cls = getattr(importlib.import_module(mod), cls)
            dec = MLlibDecider(
                None,
                hard_predict=entry["hard_predict"],
                threshold=entry["threshold"],
            )
            dec.model = model_cls.load(os.path.join(path, entry["dir"]))
        if entry["kind"] in _NPZ_KINDS:
            with np.load(os.path.join(path, entry["dir"], "params.npz")) as z:
                dec.params = {k: z[k] for k in z.files}
        deciders.append(dec)
    filt = StarsFilter(deciders, manifest["feature_cols"])
    filt.learned = True
    return filt
