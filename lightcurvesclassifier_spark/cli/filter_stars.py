"""``lcc filter_stars`` — run saved filters over queried stars.

Mirrors lcc/bin/filter_stars.py:21-216: load the query file, load the
named filters, resolve the database, run the systematic search, and
write per-run artifacts under ``RESULTS/<run>/``:

- ``lcs/`` — passed stars' light curves as ``.dat`` files
- ``ledger/``, ``passed/`` — the status ledger and its passed rows
- ``query_status.txt`` — the ledger as text (one row per query/star)
- ``coords.dat`` — feature coordinates of found stars (``-s y``)

Databases: ``FileManager`` reads local dat folders named by each query
row's ``path`` column (the reference's file connector,
lcc/db_tier/connectors/file_manager.py); any registered remote
connector name (sources/remote.py) is the network path. The per-query
loop of the reference becomes one union + one distributed feature pass;
the filter applies to every star in a single scan.

The CLI attributes stars to queries, decides ``passed`` once per star
(``stars_filter.decide``) and commits through the searcher's
``status_ledger`` and ``write_results`` (operators/searcher.py). Curves
are written before the commit; the text files and the passed count come
from one collect of the published ledger. A rerun replaces its run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import functions as F

from ..ml import persistence
from ..ml.stars_filter import decide
from ..operators import searcher
from ..sources import files
from . import descriptors as descr_registry
from . import stars_io


def main(project_settings, argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="lcc filter_stars",
        description="Query a database and filter stars "
        "(reference: bin/filter_stars.py).",
    )
    p.add_argument("-r", "--run", required=True,
                   help="run name (folder under RESULTS)")
    p.add_argument("-q", "--query", required=True,
                   help="query file under QUERIES")
    p.add_argument("-d", "--database", required=True, dest="db")
    p.add_argument("-s", "--coords", dest="save_coords", default="y")
    p.add_argument("-f", "--filter", action="append", default=[], dest="filt")
    opts = p.parse_args(argv)

    from ..session import get_spark

    spark = get_spark("lcc-filter-stars")

    q_rows = files.load_query_file(
        os.path.join(project_settings.QUERIES, opts.query)
    )
    if not q_rows:
        raise ValueError("Query file is empty")

    def _filter_path(name: str) -> str:
        # accept 'Name', 'Name.filter' or 'Name/Name.filter' under FILTERS;
        # a saved filter is a directory artifact holding filter.json
        # (ml/persistence.py MANIFEST) plus per-decider weights
        bare = name.removesuffix(".filter")
        cands = [
            os.path.join(project_settings.FILTERS, name),
            os.path.join(project_settings.FILTERS, bare, bare + ".filter"),
        ]
        for c in cands:
            if os.path.isfile(os.path.join(c, "filter.json")):
                return c
        raise FileNotFoundError(f"filter {name!r} not found under FILTERS")

    filter_paths = [_filter_path(name) for name in opts.filt]
    filters = [persistence.load_filter(spark, path) for path in filter_paths]

    # descriptor params each filter was trained with (make_filter's
    # descr_params.json sidecar) — featurizing with defaults instead
    # would skew the served feature distribution vs training
    descr_params: dict = {}
    for path in filter_paths:
        sidecar = os.path.join(os.path.dirname(path), "descr_params.json")
        if not os.path.exists(sidecar):
            # pre-sidecar filter: params it was trained with are unknown —
            # featurization falls back to defaults/other filters' params.
            # Warn loudly rather than skew silently.
            print(
                f"warning: {path} has no descr_params.json — descriptor "
                "params it was trained with are unknown; featurizing "
                "with defaults (possible train/serve skew)",
                file=sys.stderr,
            )
            continue
        with open(sidecar) as f:
            saved = json.load(f).get("params", {})
        for dname, params in saved.items():
            if not dname:
                continue
            prev = descr_params.get(dname)
            if prev is not None and prev != params:
                raise ValueError(
                    f"filters disagree on {dname} params: {prev} vs {params}"
                )
            descr_params[dname] = params

    # features required by the loaded filters (default descriptor params)
    needed = {c for filt in filters for c in filt.feature_cols}
    col_to_descr = {
        c: name
        for name, (cols, _) in descr_registry.REGISTRY.items()
        for c in cols
    }
    descr_names = sorted({col_to_descr[c] for c in needed if c in col_to_descr})
    # EVERY needed feature must resolve — a partial match would pass
    # here and die later inside the Spark plan with an opaque
    # unresolved-column error on the missing ones
    unresolved = sorted(needed - col_to_descr.keys())
    if unresolved and filters:
        raise ValueError(
            f"Filters need features {unresolved} which no CLI "
            f"descriptor provides (available: "
            f"{sorted(descr_registry.REGISTRY)})"
        )

    run_dir = os.path.join(project_settings.RESULTS, opts.run)
    lcs_dir = os.path.join(run_dir, "lcs")
    os.makedirs(lcs_dir, exist_ok=True)

    # resolve the database → one observations DataFrame with query_id
    obs = None
    if opts.db == "FileManager":
        for qid, row in enumerate(q_rows):
            part = files.load_dat_curves(
                spark, os.path.join(project_settings.INP_LCS, row["path"])
            ).withColumn("query_id", F.lit(qid).cast("long"))
            obs = part if obs is None else obs.unionByName(part)
    else:
        from ..sources import remote

        config = remote.get_provider(opts.db)  # raises on unknown name
        stars = remote.fetch_stars(
            spark,
            config,
            stars_io.coerce_query_values(q_rows),
            stars_io._http_transport,
        )
        obs = remote.fetch_light_curves(
            stars, config, stars_io._http_transport, carry_cols=["query_id"]
        )

    # (star → query) attribution for the ledger, THEN collapse to one
    # copy of each observation: a star matched by several queries would
    # otherwise carry duplicated rows into featurize (doubling
    # curve_density, zeroing half the successive-diff terms of abbe)
    # and into the saved .dat curves
    star_queries = obs.select("star_id", "query_id").distinct().cache()
    dedup_key = [c for c in ("star_id", "band", "t", "mag") if c in obs.columns]
    obs = obs.drop("query_id").dropDuplicates(dedup_key).cache()

    if descr_names:
        feats, _ = descr_registry.featurize(obs, descr_names, descr_params)
    else:
        feats = star_queries.select("star_id").distinct()

    # one passed decision per star, scored before the star→query join
    decided = decide(filters, feats).cache()
    ledger_dir = os.path.join(run_dir, "ledger")
    try:
        files.save_dat_curves(
            obs.join(decided.filter("passed").select("star_id"), "star_id"),
            lcs_dir,
        )
        ledger = searcher.status_ledger(
            star_queries.join(decided, "star_id"),
            spark.range(len(q_rows)).toDF("query_id"),
        )
        searcher.write_results(ledger, ledger_dir, os.path.join(run_dir, "passed"))
    finally:
        # the run's cached frames go with it, also when it fails
        for df in (star_queries, obs, decided):
            df.unpersist()

    # text exports and the passed count from one read of the published
    # ledger, ordered as Spark's orderBy would (a NULL star_id first)
    published = spark.read.schema(ledger.schema).parquet(ledger_dir).collect()
    published.sort(key=lambda r: (r.query_id, r.star_id is not None, r.star_id))
    with open(os.path.join(run_dir, "query_status.txt"), "w") as f:
        f.write("#query_id;star_id;found;passed\n")
        for r in published:
            star = "" if r.star_id is None else r.star_id
            f.write(f"{r.query_id};{star};{r.found};{r.passed}\n")

    if opts.save_coords == "y" and descr_names:
        cols = sorted(needed & set(feats.columns))
        coords = {r.star_id: r for r in published if r.found}
        with open(os.path.join(run_dir, "coords.dat"), "w") as f:
            f.write("# star_id\t" + "\t".join(cols) + "\n")
            for sid, r in sorted(coords.items()):
                vals = (float("nan") if r[c] is None else r[c] for c in cols)
                f.write(f"{sid}\t" + "\t".join(f"{v:.3f}" for v in vals) + "\n")

    n_passed = len({r.star_id for r in published if r.passed})
    print(
        f"Done. {len(q_rows)} queries, {n_passed} stars passed; "
        f"results in {run_dir}"
    )
    return 0
