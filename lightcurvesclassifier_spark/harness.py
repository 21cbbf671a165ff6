"""Measurement (``open_session``, ``reclaim``, ``run``, ``best_of``) and
oracle check (``compare``) behind ``bench.py`` and the ``tools/`` CLIs.

Contention controls: three queries whose plans no round has changed
since r5, with quiet-box floors (best-of-3 at sf0.1, seconds) per core
count; a mean best/floor near 1.0x means quiet-box numbers. Re-baseline
a floor ONLY if its control's plan changes, with its provenance here:

* 32 cores: the local[32] box of rounds r5-r11.
* 4 cores: 2026-10-17, ``SPARK_GRAFT_CPUS=4 python tools/time_queries.py
  --json pricing_summary lc_smooth detrend`` at sf0.1 (best of 3), five
  invocations in three name orders, each control's lowest best;
  ``nproc`` 4, MemTotal 16456384 kB. The invocations' bests spread
  0.79-1.03 / 0.87-1.06 / 1.59-2.20 s, so ratios up to ~1.3 are noise.
"""

from __future__ import annotations

import gc
import os
import statistics
import time
import uuid

CONTROL_FLOORS = {
    32: {"pricing_summary": 0.37, "lc_smooth": 0.48, "detrend": 0.68},
    4: {"pricing_summary": 0.79, "lc_smooth": 0.87, "detrend": 1.59},
}


def control_floors() -> dict:
    """Floors for the core count ``get_spark`` runs on
    (``SPARK_GRAFT_CPUS``, else every core); empty if none recorded."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    return CONTROL_FLOORS.get(cores, {})


def contention_ratio(best_times: dict) -> float | None:
    """Mean best/floor over the controls present in ``best_times``;
    ``None`` when none is, or the core count has no floors."""
    floors = control_floors()
    ratios = [best_times[n] / floors[n] for n in floors if n in best_times]
    return round(sum(ratios) / len(ratios), 3) if ratios else None


def check_names(names, extra=()) -> None:
    """Exit the CLI with the names that are neither ``queries()``
    entries nor in ``extra``. Call it before any session starts, so a
    typo costs no session bring-up or table warm-up."""
    import __spark_entry__ as entry_mod

    unknown = sorted(set(names) - set(entry_mod.queries()) - set(extra))
    if unknown:
        raise SystemExit("unknown query name(s): " + ", ".join(unknown))


def open_session(app_name: str, sf_dir: str | None = None):
    """``get_spark(app_name)``, then every table at ``sf_dir`` counted
    once, so per-query timings measure the plans, not session bring-up
    (first-query listing, parquet footers, codegen)."""
    from lightcurvesclassifier_spark.session import get_spark
    from lightcurvesclassifier_spark.sources.testdata import TABLES, load_table

    spark = get_spark(app_name)
    for t in TABLES if sf_dir else ():
        load_table(spark, sf_dir, t).count()
    return spark


def reclaim(spark) -> None:
    """Drop the caches and checkpoints earlier runs pinned.

    localCheckpoint()ed RDDs are only released when the JVM object is
    garbage-collected AND the ContextCleaner runs: without the explicit
    GCs, repeated runs of a checkpoint-using query grow 2-3x within a
    session as dead checkpoint blocks pile up in executor storage.
    Reclaiming before EVERY timed run keeps a pending full GC from
    landing inside someone else's window; shuffle-heavy queries
    otherwise read 2-3x their isolated cost on some passes.
    """
    spark.catalog.clearCache()
    gc.collect()  # drop py4j refs to dead DataFrames/RDDs
    spark.sparkContext._jvm.System.gc()  # let ContextCleaner reap them


def run(spark, fn, sf_dir: str) -> dict:
    """Execute ``fn(spark, sf_dir)`` through the noop sink (the full
    physical plan, no driver-side collect) under its own job group.
    Returns ``{"wall", "construct", "jobs", "stages", "tasks"}`` for that
    group: ``construct`` is the share of ``wall`` spent in the
    ``fn(spark, sf_dir)`` call itself (driver-side plan building and any
    eager jobs it runs), the rest is the noop write."""
    sc = spark.sparkContext
    group = f"harness-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "harness run")
    try:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        construct = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are listener events
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    stages = [tracker.getStageInfo(s) for j in jobs if j for s in j.stageIds]
    stages = [s for s in stages if s]
    return {
        "wall": round(wall, 3),
        "construct": round(construct, 3),
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s.numTasks for s in stages),
    }


def best_of(spark, fn, sf_dir: str, runs: int, warm: bool = True) -> dict:
    """An untimed warm run (unless ``warm`` is false), then ``runs``
    times (``reclaim``, ``run``). Returns the best run's construction time
    and counts plus ``best`` (its wall), ``all`` (every wall) and
    ``median``.

    The best is the reproducible plan cost: single runs on a shared box
    carry multi-second GC/compile/contention noise (r4:
    stars_filter_pipeline read 6.8 s in-suite, 3.06 s in an exact-order
    replay). The median adds the contention tax (r5: 123 s clean vs 152 s
    contended), so a plan change (best moves) is told from noise (only
    the median moves).
    """
    if warm:
        reclaim(spark)
        run(spark, fn, sf_dir)
    recs = []
    for _ in range(max(1, runs)):
        reclaim(spark)
        recs.append(run(spark, fn, sf_dir))
    walls = [r["wall"] for r in recs]
    best = dict(min(recs, key=lambda r: r["wall"]))
    return {"best": best.pop("wall"), "all": walls,
            "median": statistics.median(walls), **best}


def compare(spark, fn, sf_dir: str, con, sql: str | None) -> dict:
    """Check ``fn(spark, sf_dir)`` against its DuckDB oracle ``sql`` on
    ``con``: row count, column set, order-insensitive values with the
    columns sorted by name at atol=0, and per-column NULL counts.

    Returns the ``CORRECTNESS_LOCAL.json`` record; ``err`` holds
    ``"no_oracle"`` without ``sql``, or an exception, which is recorded
    instead of raised so a sweep never aborts.
    """
    import numpy as np
    from pyspark.sql import functions as F

    rec = dict.fromkeys(
        ("rows_match", "schema_match", "hash_match", "spark_rows", "oracle_rows", "err")
    )
    try:
        sdf = fn(spark, sf_dir)
        s = sdf.toPandas()
        rec["spark_rows"] = int(len(s))
        if sql is None:
            rec["err"] = "no_oracle"
            return rec
        o = con.execute(sql).df()
        # engine-side NULL counts per column: pandas can't tell a Spark
        # NULL from a NaN in a float column, so this is the only check
        # that catches the NULL-vs-NaN divergence class
        s_nulls = sdf.select(
            *[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in sdf.columns]
        ).collect()[0].asDict()
        counts = ", ".join(
            f'count(*) FILTER (WHERE "{c}" IS NULL) AS "{c}"' for c in sdf.columns
        )
        o_nulls = con.execute(f"SELECT {counts} FROM ({sql})").df().iloc[0].to_dict()
        null_ok = all(int(s_nulls[c]) == int(o_nulls[c]) for c in sdf.columns)
        rec["oracle_rows"] = int(len(o))
        rec["rows_match"] = len(s) == len(o)
        rec["schema_match"] = sorted(s.columns) == sorted(o.columns)
        if rec["rows_match"] and rec["schema_match"]:
            cols = sorted(s.columns)
            s2 = s[cols].sort_values(by=cols).reset_index(drop=True)
            o2 = o[cols].sort_values(by=cols).reset_index(drop=True)
            ok = all(
                np.allclose(s2[c].astype(float), o2[c].astype(float),
                            rtol=0, atol=0, equal_nan=True)
                if "f" in (s2[c].dtype.kind, o2[c].dtype.kind)
                else (s2[c].to_numpy() == o2[c].to_numpy()).all()
                for c in cols
            )
            rec["hash_match"] = ok and null_ok
            if ok and not null_ok:
                rec["err"] = "null_count_mismatch"
        else:
            rec["hash_match"] = False
    except Exception as e:  # record, don't abort the sweep
        rec["err"] = f"{type(e).__name__}: {e}"[:300]
    return rec
