"""Systematic search — the reference's StarsSearcher re-expressed as one
declarative plan plus one staged commit.

Reference (lcc/systematic_search/stars_searcher.py:18-346): for each
query dict — fetch stars, keep those with curves, run the filter's
getAllPredictions, persist passed stars, append one status-ledger row
per (query, star) with the features, per-decider probabilities and
passed flags; ``getUnsearchedQuery`` (lcc/data_manager/
status_resolver.py:257-264) resumes by subtracting logged queries, which
``search_and_resume`` does on the driver (the only resume filter).

Spark shape: the per-query Python loop becomes two steps. Attribution
pairs queries with stars and builds the ledger in the same join: for
id-range queries ``run_search`` is one query-preserving broadcast range
join of the (small) query table against the (huge) feature table, with
no shuffle and no window (the features side is read twice: once for the
matches, once for the bitset of queries that matched nothing).
``status_ledger`` is the same projection over rows attributed
elsewhere, and ``write_results`` commits the ledger, for the batch
driver, the Structured Streaming wrapper (``streaming/search_stream.py``,
the long-running feed shape) and ``lcc filter_stars``
(``cli/filter_stars.py``, which attributes through its connector fetch
and decides ``passed`` once per star with ``stars_filter.decide``). A
commit with a passed store is one write job: the stage is partitioned
on the passed flag, and the passed files are hard-linked into the
store; a roll-forward journal finishes a commit that crashed while
publishing. It writes at most one file per feature partition that holds
a match (two with a passed store), plus one. The rq/redis work queue of
the reference is replaced by partition parallelism.

The path stays on the JVM and runs no job that writes nothing but the
resume's read of the ledger's query ids: the query table is a
driver-held ``LocalTableScan`` (``queries_df``; a resume filters the
plan's rows on the driver into the same kind of table), and the
commit takes its publish key from the staged files' parquet footers and
reads nothing back (``write_results``). The plan builders are Spark SQL
expression strings, so building a search costs the driver a few Py4J
round trips rather than several per Column node. ``query_id`` must be
unique within a query table.

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
import json
import os
import shutil
import tempfile
import uuid
from typing import Callable, Mapping, Sequence
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..plans.query_compiler import quote_ident as _q, range_predicate_sql

QUERY_SCHEMA = "query_id long, lo long, hi long"
# the footer key that holds the Spark schema of a parquet file
_SPARK_SCHEMA = "org.apache.spark.sql.parquet.row.metadata"


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


def _ledger(joined: DataFrame, cols: Sequence[str], key: str, passed: str) -> DataFrame:
    """The ledger projection of ``joined``, the queries left-joined to
    their attributed rows: ``query_id``, ``cols`` (the key first),
    ``found`` where the key matched and the ``passed`` SQL expression
    where it did. A query that matched nothing keeps its one row, with
    NULL columns, found and passed false."""
    k = _q(key)
    return joined.selectExpr(
        "query_id",
        *map(_q, cols),
        f"{k} IS NOT NULL AS found",
        f"IF({k} IS NULL, FALSE, {passed}) AS passed",
    )


def status_ledger(
    found: DataFrame, queries: DataFrame, key: str = "star_id"
) -> DataFrame:
    """The search ledger: one row per (query, found star), plus one
    found=false row per query that found no star (uploadStatus logs
    every query; without it resume re-runs empty-result queries forever).

    ``found`` holds the attributed rows: ``query_id``, a non-NULL
    ``key``, the feature columns and the ``passed`` flag; ``queries`` any
    table with a ``query_id`` column, unique per row. The ledger is
    ``queries LEFT JOIN found USING (query_id)``, projected as in
    :func:`run_search`.
    """
    cols = [key] + [c for c in found.columns if c not in (key, "query_id", "passed")]
    joined = queries.select("query_id").join(found, "query_id", "left")
    return _ledger(joined, cols, key, "passed")


def run_search(
    features: DataFrame,
    queries: DataFrame,
    passed_ranges: Mapping[str, tuple[float | None, float | None]],
    key: str = "star_id",
) -> DataFrame:
    """The status ledger of id-range queries: ``features`` is the
    descriptor output (one row per star); ``queries`` the (query_id, lo,
    hi) dimension, ``query_id`` unique per row; ``passed_ranges`` the
    CustomDecider boundary predicate deciding ``passed`` (NULL for a
    found star whose predicate reads a NULL feature).

    The attribution is one query-preserving broadcast range join,
    ``broadcast(queries) LEFT JOIN features ON key BETWEEN lo AND hi``:
    Spark plans it as ``BroadcastNestedLoopJoin BuildLeft, LeftOuter``.
    The big side streams through untouched, with no shuffle and no
    window (at 100 TB this is the only viable shape: queries are few,
    stars are not). The queries that match nothing come from a bitset of
    matched queries merged inside the consuming job, so that job reads
    the features side twice. Committed by :func:`write_results`, the
    ledger takes at most one file per feature partition that holds a
    match (two with a passed store), plus one for the queries that match
    nothing. ``query_id`` must be unique within ``queries``: duplicated
    ids each get their own rows (the union-and-window ledger this
    replaced merged their no-match rows into one).
    """
    k = _q(key)
    joined = F.broadcast(queries).join(
        features, F.expr(f"{k} >= lo AND {k} <= hi"), "left"
    )
    cols = [key] + [c for c in features.columns if c != key]
    return _ledger(joined, cols, key, range_predicate_sql(passed_ranges))


def _min_query_id(staging: str) -> int | None:
    """The smallest ``query_id`` of the staged part files, from their
    parquet footers: the min of the column chunk statistics over every
    row group (``None`` when no file holds a row). Spark's writer always
    writes min/max for INT64 columns; a row group without them raises
    instead of guessing a key."""
    lows = []
    for name in _staged_files(staging):
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


_PASSED_DIR = "_passed=true"


def _staged_files(staging: str) -> list[str]:
    """The staged part files, as paths relative to ``staging``: at its
    top for a plain stage, one ``_passed=<v>`` directory down for a
    stage partitioned on the passed flag."""
    out = []
    for top, _, names in os.walk(staging):
        rel = os.path.relpath(top, staging)
        out += [os.path.normpath(os.path.join(rel, n)) for n in names if n.endswith(".parquet")]
    return sorted(out)


def _schema_only(staging: str, schema) -> str:
    """A parquet file of no row with the ledger's ``schema`` (and Spark's
    schema metadata, so Spark reads the same types back), written under
    ``staging`` without a Spark job; returns its name. A partitioned
    stage of no row, or of no passed row, writes no file of its own."""
    name = f"empty-{uuid.uuid4().hex}.parquet"
    arrow = to_arrow_schema(schema).with_metadata({_SPARK_SCHEMA: schema.json()})
    pq.write_table(arrow.empty_table(), os.path.join(staging, name))
    return name


def _publish(ops: Sequence[Sequence[str]]) -> None:
    """Apply publish operations in order. Each one is idempotent, so a
    journal's list can be applied again after a crash anywhere in it:
    ``remove`` skips a file that is gone, ``link`` a target that exists
    (where ``os.link`` fails, as across devices, it copies to a hidden
    name and renames that), ``rename`` a source that is gone."""
    for verb, *paths in ops:
        if verb == "remove":
            if os.path.exists(paths[0]):
                os.remove(paths[0])
        elif verb == "link":
            src, dst = paths
            if not os.path.exists(dst):
                try:
                    os.link(src, dst)
                except OSError:
                    tmp = os.path.join(os.path.dirname(dst), "." + os.path.basename(dst))
                    shutil.copyfile(src, tmp)
                    os.replace(tmp, dst)
        elif os.path.exists(paths[0]):  # rename
            os.replace(*paths)


def _replace_ops(
    staging: str, names: Sequence[str], target: str, key: int | None, verb: str
) -> list[list[str]]:
    """The operations that replace the files ``target`` holds under
    ``key`` by the staged ``names``: remove each ``q<key>-*`` file, then
    ``verb`` (``link`` or ``rename``) each staged file to
    ``q<key>-<name>``, ``q<key>-passed-<name>`` for a ``_passed=true``
    file (both flag values may hold a part file of the same name).
    Paths are absolute."""
    staging, target, prefix = os.path.abspath(staging), os.path.abspath(target), f"q{key}-"
    ops = [
        ["remove", os.path.join(target, n)]
        for n in sorted(os.listdir(target))
        if n.startswith(prefix)
    ]
    for f in names:
        tag = "passed-" if os.path.dirname(f) == _PASSED_DIR else ""
        dst = prefix + tag + os.path.basename(f)
        ops.append([verb, os.path.join(staging, f), os.path.join(target, dst)])
    return ops


def _complete(journal: str) -> None:
    """Finish the commit that ``journal`` lists: the passed store's
    operations, then the ledger's, then remove the staging directory and
    the journal."""
    with open(journal) as fh:
        commit = json.load(fh)
    _publish(commit["passed"])
    _publish(commit["ledger"])
    shutil.rmtree(commit["staging"], ignore_errors=True)
    os.remove(journal)


def _roll_forward(ledger_path: str) -> None:
    """Complete every commit journal a crashed commit left in
    ``ledger_path``."""
    for name in sorted(os.listdir(ledger_path)):
        if name.startswith("_commit-") and name.endswith(".json"):
            _complete(os.path.join(ledger_path, name))


def write_results(
    ledger: DataFrame,
    ledger_path: str,
    passed_path: str | None = None,
) -> None:
    """The one commit path of batch, stream and CLI: the status ledger
    (uploadStatus, stars_searcher.py:188-215) and the passed-star store
    (matchOccured, :46-61 — parquet instead of per-star FITS).

    One write job computes the ledger once, into
    ``<ledger_path>/_staging`` (which ``spark.read`` skips). With a
    passed store the stage is partitioned on a copy of the flag,
    ``_passed = coalesce(passed, FALSE)``, so every file keeps its own
    ``passed`` column and a NULL ``passed`` stays out of the store. Each
    staged file is published to the ledger by rename, as
    ``q<key>-<name>``, and each ``_passed=true`` file is also published
    to the passed store by hard link (a copy where linking fails), as
    ``q<key>-passed-<name>``; ``<key>`` is the smallest staged query_id,
    read from the staged files' parquet footer statistics (``None`` for
    an empty ledger). A store that gets no row gets a file of no row,
    so it reads back with the ledger's schema. A commit writes at most
    one file per feature partition that holds a match (two with a
    passed store, one per flag value), plus one for the queries that
    match nothing; the write job reads the features side of a
    :func:`run_search` ledger twice, and that ledger's query table must
    hold each ``query_id`` once.

    Before its first link or rename the commit writes the roll-forward
    journal ``<ledger_path>/_commit-q<key>.json`` (atomically, by
    ``os.replace``), listing every publish operation: the removal of
    what was published under that key, the passed store's links, then
    the ledger's renames (the ledger, the resume marker, last). The
    next ``write_results`` into this ledger, and
    :func:`search_and_resume` before it reads the done set, first
    complete any journal they find. A commit that crashes before its
    journal exists is redone by the rerun, which replaces what it left
    under that key; once the journal exists, the commit is finished
    rather than redone. Paths are local.

    The commit runs only the jobs of its write: the key comes from the
    footers and nothing is read back, so neither a probe job nor a
    schema-inference job runs."""
    if os.path.isdir(ledger_path):
        _roll_forward(ledger_path)
    staging = os.path.join(ledger_path, "_staging")
    if passed_path is None:
        ledger.write.mode("overwrite").parquet(staging)
    else:
        ledger.withColumn("_passed", F.expr("coalesce(passed, FALSE)")).write.mode(
            "overwrite"
        ).partitionBy("_passed").parquet(staging)
    key = _min_query_id(staging)
    staged = _staged_files(staging)
    passed = [f for f in staged if os.path.dirname(f) == _PASSED_DIR]
    if not staged or (passed_path is not None and not passed):
        empty = _schema_only(staging, ledger.schema)
        staged, passed = staged or [empty], [empty]
    commit = {"staging": os.path.abspath(staging), "passed": [], "ledger": []}
    if passed_path is not None:
        os.makedirs(passed_path, exist_ok=True)
        commit["passed"] = _replace_ops(staging, passed, passed_path, key, "link")
    commit["ledger"] = _replace_ops(staging, staged, ledger_path, key, "rename")
    journal = os.path.join(ledger_path, f"_commit-q{key}.json")
    with open(journal + ".tmp", "w") as fh:
        json.dump(commit, fh)
    os.replace(journal + ".tmp", journal)
    _complete(journal)


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
        _roll_forward(ledger_path)
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
