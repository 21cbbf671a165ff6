"""CLI descriptor registry: class name → distributed feature extractor.

The reference resolves descriptor classes by name through PackageReader
(lcc/data_manager/package_reader.py) and evaluates one star at a time;
here each descriptor name maps to a DataFrame transformation producing
its feature column(s) for ALL stars in one pass, so the CLI's
make_filter/filter_stars stay fully distributed.

Registered names mirror lcc/stars_processing/descriptors/__init__.py
for the self-contained (no-template) descriptors; the comparative
family needs template stars and lives in operators/comparative.py.

Descriptors that share an aggregation are grouped into FAMILIES and
computed in ONE pass: requesting Abbe+density+skewness+kurtosis runs
one aggregation (``curves.per_curve``) and no join, not four
aggregations and three joins (inside make_filter this multiplies by the
tuning-combo count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import curve_udfs, curves as curve_fns


def _one_band(obs: DataFrame) -> DataFrame:
    """Reference descriptors consume ``star.lc`` — ONE light curve per
    star (entities/star.py keeps a curve list and descriptors read the
    first). Featurizing over interleaved multi-band rows corrupts every
    sequential feature — abbe's successive-difference terms would
    measure B−R color, not variability — so keep each star's
    lexicographically-first band (deterministic stand-in for the
    reference's append order, which also puts Macho B before R).
    Single-band sources (no ``band`` column) pass through untouched."""
    if "band" not in obs.columns:
        return obs
    first = obs.groupBy("star_id").agg(F.min("band").alias("band"))
    return obs.join(first, ["star_id", "band"])


def _collect_curves(obs: DataFrame) -> DataFrame:
    pairs = F.array_sort(F.collect_list(F.struct(F.col("t"), F.col("mag"))))
    return obs.groupBy("star_id").agg(pairs.alias("pairs")).select(
        "star_id",
        F.col("pairs.t").alias("time"),
        F.col("pairs.mag").alias("mag"),
    )


def _curve_features(obs: DataFrame, params: dict) -> DataFrame:
    return curve_fns.per_curve(
        obs, ("curve_density", "abbe", "skewness", "kurtosis")
    )


def _variogram(obs: DataFrame, params: dict) -> DataFrame:
    bins = int(params.get("bins", 20))
    return curve_udfs.variogram_slope(_collect_curves(obs), bins=bins).select(
        "star_id", "variogram_slope"
    )


# family → extractor(obs, params) producing every column of the family
FAMILIES: dict[str, callable] = {
    "curve_features": _curve_features,
    "variogram": _variogram,
}

# name → (feature column(s), family)
REGISTRY: dict[str, tuple[list[str], str]] = {
    "AbbeValueDescr": (["abbe"], "curve_features"),
    "CurveDensityDescr": (["curve_density"], "curve_features"),
    "SkewnessDescr": (["skewness"], "curve_features"),
    "KurtosisDescr": (["kurtosis"], "curve_features"),
    "VariogramSlopeDescr": (["variogram_slope"], "variogram"),
}


def featurize(
    obs: DataFrame, descriptors: list[str], params: dict | None = None
) -> tuple[DataFrame, list[str]]:
    """One feature row per star with every requested descriptor's
    column(s), joined on star_id. ``params`` maps descriptor name →
    {param: value} (the tuned-parameter combo). Shared-aggregation
    descriptors run once per FAMILY, and multi-band observations are
    first reduced to one band per star (see :func:`_one_band`)."""
    params = params or {}
    unknown = [d for d in descriptors if d not in REGISTRY]
    if unknown:
        raise KeyError(
            f"Unknown descriptors {unknown}. Available: {sorted(REGISTRY)}"
        )
    obs = _one_band(obs)

    # family → requested columns (in request order) + merged params
    fam_cols: dict[str, list[str]] = {}
    fam_params: dict[str, dict] = {}
    feature_cols: list[str] = []
    for name in descriptors:
        cols, family = REGISTRY[name]
        fam_cols.setdefault(family, []).extend(
            c for c in cols if c not in fam_cols.get(family, [])
        )
        fam_params.setdefault(family, {}).update(params.get(name, {}))
        feature_cols += cols

    out = None
    for family, cols in fam_cols.items():
        feats = FAMILIES[family](obs, fam_params[family]).select(
            "star_id", *cols
        )
        out = feats if out is None else out.join(feats, "star_id")
    return out, feature_cols
