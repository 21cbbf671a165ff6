"""Systematic search — the reference's StarsSearcher re-expressed as one
declarative plan plus one staged commit.

Reference (lcc/systematic_search/stars_searcher.py:18-346): for each
query dict — fetch stars, keep those with curves, run the filter's
getAllPredictions, persist passed stars, append one status-ledger row
per (query, star) with the features, per-decider probabilities and
passed flags; ``getUnsearchedQuery`` (lcc/data_manager/
status_resolver.py:257-264) resumes by subtracting logged queries.

Spark shape: the per-query Python loop becomes two steps. Attribution
pairs queries with stars; for id-range queries ``run_search`` does it in
one broadcast range join of the (small) query table against the (huge)
feature table, one scan of the data. ``status_ledger`` turns attributed
rows into the ledger and ``write_results`` commits it, for the batch
driver, the Structured Streaming wrapper (``streaming/search_stream.py``,
the long-running feed shape) and ``lcc filter_stars``
(``cli/filter_stars.py``, which attributes through its connector fetch
and decides ``passed`` with the saved filters). The rq/redis work queue
of the reference is replaced by partition parallelism.

The path stays on the JVM and runs no job that writes nothing but the
resume's read of the ledger's query ids: the query table is a
driver-held ``LocalTableScan`` (``queries_df``; a resume filters the
plan's rows on the driver into the same kind of table), and the
commit takes its publish key from the staged files' parquet footers and
reads them back with the ledger's schema (``write_results``). The plan
builders are Spark SQL expression strings, so building a search costs
the driver a few Py4J round trips rather than several per Column node.

Features contract: ``search_and_resume`` calls ``features_fn()`` once
per run that has a query left, and the stream once per start (restart
it to refresh). Both search :func:`feature_snapshot` of that frame, the
one place the search path materializes features: a session writes the
features of one plan over unchanged inputs once, and every later run
and stream start reads that snapshot without a feature job.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
from typing import Callable, Mapping, Sequence
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.query_compiler import quote_ident as _q, range_predicate_sql

QUERY_SCHEMA = "query_id long, lo long, hi long"


def query_table(
    spark: SparkSession, rows: Sequence[tuple[int, int, int]]
) -> DataFrame:
    """(query_id, lo, hi) rows the driver holds as a ``QUERY_SCHEMA``
    table, built from a ``pyarrow.Table``: it plans as a
    ``LocalTableScan``, also when ``rows`` is empty, so the broadcast,
    the no-match stubs and the resume read it without starting a Python
    worker, which every scan of a table created from a Python list (a
    Python-RDD scan) does."""
    ids, los, his = zip(*rows) if rows else ((), (), ())
    table = pa.table(
        {
            "query_id": pa.array(ids, pa.int64()),
            "lo": pa.array(los, pa.int64()),
            "hi": pa.array(his, pa.int64()),
        }
    )
    return spark.createDataFrame(table, QUERY_SCHEMA)


def queries_df(
    spark: SparkSession, ranges: Sequence[tuple[int, int]]
) -> DataFrame:
    """Materialize [(lo, hi), …] id-range queries as a small dimension —
    the `list[dict]` query plan of the reference, tabular
    (a :func:`query_table`).

    CONTRACT: query_id is the list position, so a resumable plan must be
    APPEND-ONLY — inserting/reordering ranges renumbers them and the
    ledger's done-set silently mismatches (skipping new queries and
    re-running renumbered ones). Extend the list at the end, or supply
    your own stable query_id column instead of this helper."""
    return query_table(spark, [(i, lo, hi) for i, (lo, hi) in enumerate(ranges)])


def status_ledger(
    found: DataFrame, queries: DataFrame, key: str = "star_id"
) -> DataFrame:
    """The search ledger: one row per (query, found star), plus one
    found=false row per query that found no star (uploadStatus logs
    every query; without it resume re-runs empty-result queries forever).

    ``found`` holds the attributed rows: ``query_id``, ``key``, the
    feature columns and the ``passed`` flag; ``queries`` any table with a
    ``query_id`` column. Each query gets a NULL-feature stub, kept only
    when no row of its query_id is found: the plan is lazy and scans
    ``found`` once.
    """
    types = {f.name: f.dataType.simpleString() for f in found.schema.fields}
    cols = [key] + [c for c in types if c not in (key, "query_id", "passed")]
    matched = found.selectExpr(
        "query_id", *map(_q, cols), "TRUE AS found", "passed"
    )
    stubs = queries.selectExpr(
        "query_id",
        *[f"CAST(NULL AS {types[c]}) AS {_q(c)}" for c in cols],
        "FALSE AS found",
        "FALSE AS passed",
    )
    return (
        matched.unionByName(stubs)
        .withColumn("_any_found", F.expr("max(found) OVER (PARTITION BY query_id)"))
        .filter("found OR NOT _any_found")
        .drop("_any_found")
    )


def run_search(
    features: DataFrame,
    queries: DataFrame,
    passed_ranges: Mapping[str, tuple[float | None, float | None]],
    key: str = "star_id",
) -> DataFrame:
    """The status ledger of id-range queries: ``features`` is the
    descriptor output (one row per star); ``queries`` the (query_id, lo,
    hi) dimension; ``passed_ranges`` the CustomDecider boundary predicate
    deciding ``passed``.

    The attribution is a broadcast theta join on the range condition —
    the big side streams through untouched (no shuffle); at 100 TB this
    is the only viable shape (queries are few, stars are not).
    """
    k = _q(key)
    found = features.join(
        F.broadcast(queries), F.expr(f"{k} >= lo AND {k} <= hi"), "inner"
    ).selectExpr(
        "query_id",
        *map(_q, features.columns),
        f"{range_predicate_sql(passed_ranges)} AS passed",
    )
    return status_ledger(found, queries, key)


def _min_query_id(staging: str) -> int | None:
    """The smallest ``query_id`` of the staged part files, from their
    parquet footers: the min of the column chunk statistics over every
    row group (``None`` when no file holds a row). Spark's writer always
    writes min/max for INT64 columns; a row group without them raises
    instead of guessing a key."""
    lows = []
    for name in os.listdir(staging):
        if not name.endswith(".parquet"):
            continue
        meta = pq.read_metadata(os.path.join(staging, name))
        paths = [meta.schema.column(j).path for j in range(meta.num_columns)]
        col = paths.index("query_id")
        for rg in range(meta.num_row_groups):
            stats = meta.row_group(rg).column(col).statistics
            if stats is None or not stats.has_min_max:
                raise ValueError(
                    f"{name}: row group {rg} has no query_id min/max statistics"
                )
            lows.append(stats.min)
    return min(lows, default=None)


def _publish(staging: str, target: str, key: int | None) -> None:
    """Replace the files published under ``key`` in ``target`` by the
    staged part files, renamed ``q<key>-<name>``."""
    prefix = f"q{key}-"
    for name in os.listdir(target):
        if name.startswith(prefix):
            os.remove(os.path.join(target, name))
    for name in os.listdir(staging):
        if name.endswith(".parquet"):
            os.replace(os.path.join(staging, name), os.path.join(target, prefix + name))
    shutil.rmtree(staging)


def write_results(
    ledger: DataFrame,
    ledger_path: str,
    passed_path: str | None = None,
) -> None:
    """The one commit path of batch, stream and CLI: the status ledger
    (uploadStatus, stars_searcher.py:188-215) and the passed-star store
    (matchOccured, :46-61 — parquet instead of per-star FITS).

    The ledger is computed once, into ``<ledger_path>/_staging`` (which
    ``spark.read`` skips); the passed store is its staged ``passed``
    slice. Both publish under the smallest staged query_id, passed first
    and the ledger, the resume marker, last: a run that crashes before
    the ledger publish is redone, and the redo replaces what it left
    under that key (a crash inside the ledger's renames can publish the
    unrenamed queries' passed rows twice). Paths are local.

    The commit runs only the jobs of its writes: the key is read from the
    staged files' parquet footer statistics (``None`` for an empty
    ledger), and the staged files are read back with ``ledger.schema``,
    so neither a probe job nor a schema-inference job runs."""
    staging = os.path.join(ledger_path, "_staging")
    ledger.write.mode("overwrite").parquet(staging)
    key = _min_query_id(staging)
    if passed_path is not None:
        passed_staging = os.path.join(passed_path, "_staging")
        staged = ledger.sparkSession.read.schema(ledger.schema).parquet(staging)
        staged.filter(F.col("passed")).write.mode("overwrite").parquet(passed_staging)
        _publish(passed_staging, passed_path, key)
    _publish(staging, ledger_path, key)


def unsearched_queries(plan: DataFrame, ledger: DataFrame) -> DataFrame:
    """Resume semantics: planned queries minus already-logged ones
    (getUnsearchedQuery, status_resolver.py:257-264) — a left-anti join
    on the query key. ``search_and_resume`` applies the same filter on
    the driver to the plan's collected rows."""
    done = ledger.select("query_id").distinct()
    return plan.join(done, "query_id", "left_anti")


# (applicationId, semanticHash) -> (features, input stamp, snapshot dir)
_SNAPSHOTS: dict[tuple[str, int], tuple[DataFrame, tuple | None, str]] = {}


@functools.cache
def _snapshot_root() -> str:
    """The one local directory of this process's snapshots, removed at
    exit; never under a ledger, whose readers glob its part files."""
    root = tempfile.mkdtemp(prefix="lcc-features-")
    atexit.register(shutil.rmtree, root, True)
    return root


def _input_stamp(features: DataFrame) -> tuple | None:
    """``(uri, st_mtime_ns, st_size)`` of every input file of
    ``features``, or ``None`` when its snapshot must not be reused: a
    nondeterministic plan, or a leaf other than a local file scan or a
    driver-held ``LocalRelation`` (an RDD or Python-list frame, a
    connector, a non-``file:`` URI). The stamp sees what the plan cannot:
    a file index compares only its root paths, so a file rewritten in
    place leaves ``sameSemantics`` true."""
    plan = features._jdf.queryExecution().analyzed()
    if not plan.deterministic():
        return None
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind == "LocalRelation":
            continue
        if (
            kind != "LogicalRelation"
            or leaf.relation().getClass().getSimpleName() != "HadoopFsRelation"
        ):
            return None
    stamp = []
    for uri in sorted(features.inputFiles()):
        url = urlparse(uri)
        if url.scheme != "file":
            return None
        try:
            st = os.stat(unquote(url.path))
        except OSError:
            return None  # gone: the features job reports it
        stamp.append((uri, st.st_mtime_ns, st.st_size))
    return tuple(stamp)


def _snapshot(features: DataFrame) -> tuple[DataFrame, str | None]:
    """:func:`feature_snapshot` and, for a snapshot the memo does not
    keep, its directory: the caller's to remove once it is read."""
    spark = features.sparkSession
    stamp = _input_stamp(features)
    if stamp is None:
        path = tempfile.mkdtemp(dir=_snapshot_root())
        features.write.mode("overwrite").parquet(path)
        return spark.read.schema(features.schema).parquet(path), path
    key = (spark.sparkContext.applicationId, features.semanticHash())
    known = _SNAPSHOTS.get(key)
    if (
        known is not None
        and known[1] == stamp
        and os.path.isdir(known[2])
        and features.sameSemantics(known[0])
    ):
        path = known[2]
    else:
        path = tempfile.mkdtemp(dir=_snapshot_root())
        features.write.mode("overwrite").parquet(path)
        if known is not None:
            shutil.rmtree(known[2], ignore_errors=True)
        _SNAPSHOTS[key] = (features, stamp, path)
    return spark.read.schema(features.schema).parquet(path), None


def feature_snapshot(features: DataFrame) -> DataFrame:
    """``features`` written once to local parquet and read back with
    ``features.schema``: the only way the search path materializes
    features, for the batch search and the stream start alike.

    A session memo keeps one snapshot per ``(applicationId,
    features.semanticHash())``. A later call whose plan has the same
    semantics and whose input files keep their stamp reads the existing
    snapshot and runs no feature job. A stamp mismatch or a missing
    directory replaces the snapshot, and the replaced directory is
    deleted, so a frame read from it earlier stops reading. A plan that
    fails :func:`_input_stamp`'s rules is written afresh on every call
    and takes no memo slot; its directory stays until process exit
    (:func:`search_and_resume` removes the ones it makes once its commit
    returns). Paths are local, as in :func:`write_results`."""
    return _snapshot(features)[0]


def search_and_resume(
    spark: SparkSession,
    features_fn: Callable[[], DataFrame],
    plan: DataFrame,
    passed_ranges: Mapping[str, tuple[float | None, float | None]],
    ledger_path: str,
    passed_path: str | None = None,
) -> int:
    """End-to-end driver: resume-filter the plan, run, commit. Returns the
    number of queries actually executed this run.

    The resume filter runs on the driver: the plan's (query_id, lo, hi)
    rows are collected (no job for a driver-held :func:`query_table`),
    and so is the ledger's ``distinct query_id``; a ledger directory
    that does not exist yet is a first run, with no read of it at all.
    A ledger holding nothing published reads as empty (the schema is
    given); any other read failure propagates. ``features_fn()`` is
    called only when a query is left, the queries search its
    :func:`feature_snapshot` in a driver-held :func:`query_table`, and a
    snapshot the session memo does not keep is removed once the commit
    returns. Paths are local, as in :func:`write_results`."""
    rows = plan.select("query_id", "lo", "hi").collect()
    if rows and os.path.isdir(ledger_path):
        logged = spark.read.schema("query_id long").parquet(ledger_path)
        done = {r.query_id for r in logged.distinct().collect()}
        rows = [r for r in rows if r.query_id not in done]
    if not rows:
        return 0
    features, scratch = _snapshot(features_fn())
    try:
        ledger = run_search(features, query_table(spark, rows), passed_ranges)
        write_results(ledger, ledger_path, passed_path)
    finally:
        if scratch is not None:
            shutil.rmtree(scratch, ignore_errors=True)
    return len(rows)
