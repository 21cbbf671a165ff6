"""Systematic search: ledger grain, staged commit, crash and resume
semantics, and the Structured Streaming work-queue analog (mirrors the
reference's integration test shape, test/intergation/test_searcher.py:13-40 —
N queries in, ledger rows per query out, passed stars > 0)."""

import errno
import os
import re
import shutil
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameReader, functions as F

from lightcurvesclassifier_spark.functions.curves import curve_features
from lightcurvesclassifier_spark.operators import searcher
from lightcurvesclassifier_spark.plans.query_compiler import range_predicate_sql
from lightcurvesclassifier_spark.sources import testdata
from lightcurvesclassifier_spark.streaming.search_stream import start_search_stream
from tests.conftest import SF_SMOKE, job_count

RANGES = {"abbe": (None, 0.95), "std_mag": (35.0, None)}


def _features(spark):
    return curve_features(testdata.observations(spark, SF_SMOKE))


def _rows(df):
    """The rows of ``df`` as a multiset."""
    return Counter(tuple(r) for r in df.collect())


def test_ledger_grain_and_flags(spark):
    qdf = searcher.queries_df(spark, [(0, 7), (5, 14)])
    ledger = searcher.run_search(_features(spark), qdf, RANGES)
    rows = ledger.collect()
    # overlap 5..7 matched by both queries → per-(query, star) grain
    per_star = {}
    for r in rows:
        per_star.setdefault(r["star_id"], set()).add(r["query_id"])
    for sid in (5, 6, 7):
        assert per_star[sid] == {0, 1}
    assert all(r["found"] for r in rows)
    assert any(r["passed"] for r in rows)
    assert not all(r["passed"] for r in rows)


def test_append_and_resume(spark, tmp_path):
    ledger_path = str(tmp_path / "ledger")
    passed_path = str(tmp_path / "passed")
    plan = searcher.queries_df(spark, [(0, 4), (5, 9), (10, 14)])

    n1 = searcher.search_and_resume(
        spark, lambda: _features(spark), plan, RANGES, ledger_path, passed_path
    )
    assert n1 == 3
    first = spark.read.parquet(ledger_path)
    assert first.select("query_id").distinct().count() == 3
    passed = spark.read.parquet(passed_path)
    assert passed.count() == first.filter(F.col("passed")).count() > 0

    # resume: same plan + one new query → only the new one runs
    plan2 = searcher.queries_df(spark, [(0, 4), (5, 9), (10, 14), (0, 14)]).withColumn(
        "query_id", F.col("query_id")
    )
    n2 = searcher.search_and_resume(
        spark, lambda: _features(spark), plan2, RANGES, ledger_path
    )
    assert n2 == 1
    after = spark.read.parquet(ledger_path)
    assert after.select("query_id").distinct().count() == 4
    # idempotent: running again does nothing
    n3 = searcher.search_and_resume(
        spark, lambda: _features(spark), plan2, RANGES, ledger_path
    )
    assert n3 == 0


def test_streaming_search(spark, tmp_path):
    qdir = tmp_path / "queries_in"
    qdir.mkdir()
    ledger_path = str(tmp_path / "stream_ledger")
    ckpt = str(tmp_path / "ckpt")
    starts = []

    def features():
        starts.append(1)
        return _features(spark)

    (qdir / "batch1.csv").write_text("0,0,4\n1,5,9\n")
    (qdir / "batch2.csv").write_text("2,10,14\n")

    q = start_search_stream(
        spark,
        str(qdir),
        features,
        RANGES,
        ledger_path,
        ckpt,
    )
    q.awaitTermination(120)
    ledger = spark.read.parquet(ledger_path)
    assert ledger.select("query_id").distinct().count() == 3
    assert ledger.filter(F.col("passed")).count() > 0
    # the ledger holds only batch directories, and the feature snapshot
    # sits in the session's snapshot directory, under neither the ledger
    # nor the checkpoint
    assert all(n.startswith("batch_id=") for n in os.listdir(ledger_path))
    for _, _, snap in searcher._SNAPSHOTS.values():
        for d in (ledger_path, ckpt):
            assert os.path.commonpath([d, snap]) != d
    assert not [
        f for _, _, files in os.walk(ckpt) for f in files if f.endswith(".parquet")
    ]

    # the start drained its two-file backlog in one batch
    assert os.listdir(ledger_path) == ["batch_id=0"]

    # restart with two more files: checkpoint resumes, old batches not
    # rerun, and both new files form one batch
    (qdir / "batch3.csv").write_text("3,0,14\n")
    (qdir / "batch4.csv").write_text("4,5,9\n")
    q2 = start_search_stream(
        spark, str(qdir), features, RANGES, ledger_path, ckpt
    )
    q2.awaitTermination(120)
    after = spark.read.parquet(ledger_path)
    assert after.select("query_id").distinct().count() == 5
    assert after.filter(F.col("query_id") == 0).count() == ledger.filter(
        F.col("query_id") == 0
    ).count()
    assert sorted(os.listdir(ledger_path)) == ["batch_id=0", "batch_id=1"]

    # crash after the two-file batch's commit but before its checkpoint
    # commit, then one more file arrives: the restart replays exactly the
    # batch's logged files, replacing its copy, and the new file goes to
    # the next batch
    last = max(int(n) for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit())
    assert last == 1
    bdir = os.path.join(ledger_path, f"batch_id={last}")
    before_files = sorted(os.listdir(bdir))
    before = _rows(spark.read.parquet(bdir))
    assert {r[0] for r in before} == {3, 4}
    for name in (str(last), f".{last}.crc"):
        os.remove(os.path.join(ckpt, "commits", name))
    (qdir / "batch5.csv").write_text("5,10,14\n")
    q3 = start_search_stream(
        spark, str(qdir), features, RANGES, ledger_path, ckpt
    )
    q3.awaitTermination(120)
    replayed_files = sorted(os.listdir(bdir))
    assert not set(replayed_files) & set(before_files)  # the batch did run again
    assert len(replayed_files) == len(before_files)
    assert _rows(spark.read.parquet(bdir)) == before
    nxt = spark.read.parquet(os.path.join(ledger_path, f"batch_id={last + 1}"))
    assert {r["query_id"] for r in nxt.select("query_id").collect()} == {5}
    assert sorted(os.listdir(ledger_path)) == [
        "batch_id=0", "batch_id=1", "batch_id=2"
    ]
    # every start took its own feature snapshot
    assert len(starts) == 3


def test_stream_backlog_costs_one_batch(spark, tmp_path):
    """With a warm feature snapshot, a start over a three-file backlog
    runs one micro-batch and launches as many jobs as a start over one
    file. Stream execution runs its batches under the run id as job
    group."""
    sc = spark.sparkContext
    searcher.feature_snapshot(_features(spark))  # warm the session snapshot
    jobs = {}
    for n_files in (1, 3):
        qdir = tmp_path / f"queries_{n_files}"
        qdir.mkdir()
        for i in range(n_files):
            (qdir / f"batch{i}.csv").write_text(f"{i},{5 * i},{5 * i + 4}\n")
        ledger_path = str(tmp_path / f"ledger_{n_files}")
        q = start_search_stream(
            spark, str(qdir), lambda: _features(spark), RANGES, ledger_path,
            str(tmp_path / f"ckpt_{n_files}"),
        )
        q.awaitTermination(120)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[n_files] = len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
        assert os.listdir(ledger_path) == ["batch_id=0"]
        got = spark.read.parquet(ledger_path).select("query_id").distinct().count()
        assert got == n_files
    assert jobs[1] > 0 and jobs[3] == jobs[1], jobs


def test_zero_match_query_gets_ledger_row_and_resume_stops(spark, tmp_path):
    """A query matching no star must still log one found=false row so
    resume marks it done (it previously re-executed forever) — also when
    the features frame is empty and no query matches."""
    ranges = {"abbe": (None, 0.9)}
    plan = searcher.queries_df(spark, [(1, 2), (1000, 2000)])
    schema = "star_id long, abbe double"
    inputs = {
        "two_stars": spark.createDataFrame([(1, 0.5), (2, 0.8)], schema),
        "no_stars": spark.createDataFrame([], schema),
    }
    for name, feats in inputs.items():
        ledger_path = str(tmp_path / name)
        n1 = searcher.search_and_resume(
            spark, lambda: feats, plan, ranges, ledger_path
        )
        assert n1 == 2
        got = spark.read.parquet(ledger_path).toPandas()
        empty_qs = [1] if name == "two_stars" else [0, 1]
        stubs = got[~got.found]
        assert sorted(stubs.query_id) == empty_qs
        assert not stubs.passed.any() and stubs.star_id.isna().all()
        assert got[got.query_id.isin(empty_qs)].found.sum() == 0
        # second run: nothing to do — including the zero-match queries
        n2 = searcher.search_and_resume(
            spark, lambda: feats, plan, ranges, ledger_path
        )
        assert n2 == 0


def test_query_dsl_two_char_operators(spark):
    """'>=' / '<=' / '!=' parse as operators, not '>' with a string
    literal (which ANSI mode failed to cast at runtime)."""
    from lightcurvesclassifier_spark.plans.query_compiler import apply_queries

    df = spark.createDataFrame([(i,) for i in range(10)], "v long")
    assert apply_queries(df, [{"v": ">=7"}]).count() == 3
    assert apply_queries(df, [{"v": "<=2"}]).count() == 3
    assert apply_queries(df, [{"v": "!=5"}]).count() == 9
    # empty disjunction matches nothing (was: full table)
    assert apply_queries(df, []).count() == 0


def test_ledger_crash_replay_is_idempotent(spark, tmp_path):
    """Exactly-once under crash-replay. A driver that crashes between
    write_results' commit and its own bookkeeping will REPLAY the same
    batch — commit the identical ledger batch twice and pin that the
    replay publishes under the same key, replacing the first copy, and
    that (a) the resume filter still schedules nothing and (b) the
    ledger's logical content — its distinct (query_id, star_id,
    found, passed) grain — is unchanged by the replay."""
    ledger_path = str(tmp_path / "ledger")
    plan = searcher.queries_df(spark, [(0, 4), (5, 9)])

    n1 = searcher.search_and_resume(
        spark, lambda: _features(spark), plan, RANGES, ledger_path
    )
    assert n1 == 2
    once = spark.read.parquet(ledger_path)
    grain_cols = ["query_id", "star_id", "found", "passed"]
    want = {tuple(r) for r in once.select(*grain_cols).collect()}
    once_count = once.count()

    # crash replay: the exact same batch is committed a second time
    batch = searcher.run_search(_features(spark), plan, RANGES)
    searcher.write_results(batch, ledger_path)
    replayed = spark.read.parquet(ledger_path)
    assert replayed.count() == once_count  # replaced, not duplicated

    # (a) resume sees every planned query as done → zero re-runs
    n2 = searcher.search_and_resume(
        spark, lambda: _features(spark), plan, RANGES, ledger_path
    )
    assert n2 == 0
    # ...including for a superset plan: only the genuinely-new query runs
    plan2 = searcher.queries_df(spark, [(0, 4), (5, 9), (10, 14)])
    n3 = searcher.search_and_resume(
        spark, lambda: _features(spark), plan2, RANGES, ledger_path
    )
    assert n3 == 1

    # (b) the replay added no new logical fact for the replayed queries
    got = {
        tuple(r)
        for r in spark.read.parquet(ledger_path)
        .filter(F.col("query_id").isin(0, 1))
        .select(*grain_cols)
        .collect()
    }
    assert got == want


def test_run_search_builds_without_jobs(spark):
    """Building the ledger plan is lazy: no Spark job until an action."""
    sc = spark.sparkContext
    feats = _features(spark)
    plan = searcher.queries_df(spark, [(0, 4), (5, 9), (2000, 3000)])
    group = "run-search-build"
    sc.setJobGroup(group, "run_search construction")
    try:
        ledger = searcher.run_search(feats, plan, RANGES)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        ledger.count()  # the group does see the jobs of an action
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)


def test_search_and_stream_batch_compute_features_once(spark, tmp_path):
    """One search_and_resume, and one stream start over two query files,
    evaluate each feature row once: a test-only UDF over the key counts
    evaluations. The stream calls ``features_fn`` once per start and its
    batches search the snapshot."""
    acc = spark.sparkContext.accumulator(0)
    calls = []

    def tick(v):
        acc.add(1)
        return v

    tick_udf = F.udf(tick, "long").asNondeterministic()

    def counted():
        calls.append(1)
        return _features(spark).withColumn("star_id", tick_udf("star_id"))

    n_stars = _features(spark).count()
    plan = searcher.queries_df(spark, [(0, 4), (5, 9), (2000, 3000)])
    n = searcher.search_and_resume(
        spark, counted, plan, RANGES,
        str(tmp_path / "ledger"), str(tmp_path / "passed"),
    )
    assert n == 3 and acc.value == n_stars and len(calls) == 1

    qdir = tmp_path / "queries_in"
    qdir.mkdir()
    (qdir / "batch1.csv").write_text("0,0,4\n1,2000,3000\n")
    (qdir / "batch2.csv").write_text("2,5,9\n")
    acc.value = 0
    calls.clear()
    ledger_path = str(tmp_path / "stream_ledger")
    q = start_search_stream(
        spark, str(qdir), counted, RANGES, ledger_path, str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert len(os.listdir(ledger_path)) == 1  # one batch per start's backlog
    assert len(calls) == 1 and acc.value == n_stars


def test_resume_when_ledger_has_nothing_published(spark, tmp_path):
    """A first run that crashed before its first publish leaves a ledger
    directory holding only the hidden staging directory; resume must
    read it as empty and run every query."""
    feats = spark.createDataFrame([(1, 0.5), (2, 0.8)], "star_id long, abbe double")
    plan = searcher.queries_df(spark, [(1, 2), (1000, 2000)])
    ledger_path = str(tmp_path / "ledger")
    feats.write.parquet(os.path.join(ledger_path, "_staging"))
    n = searcher.search_and_resume(
        spark, lambda: feats, plan, {"abbe": (None, 0.9)}, ledger_path
    )
    assert n == 2
    assert spark.read.parquet(ledger_path).select("query_id").distinct().count() == 2


@pytest.mark.parametrize("crash_at", ["staged", "passed_published"])
def test_search_crash_resumes_to_same_ledger_and_passed(
    spark, tmp_path, monkeypatch, crash_at
):
    """Fault injection at each publish step: the run crashes after
    staging and its journal (before the passed publish) or after the
    passed publish (before the ledger publish). The rerun completes the
    journal instead of searching again, and leaves ledger and passed rows
    equal, as multisets, to those of a run that did not crash."""
    plan = searcher.queries_df(spark, [(0, 4), (5, 9), (2000, 3000)])
    feats = lambda: _features(spark)  # noqa: E731
    paths = {k: str(tmp_path / k) for k in ("ledger", "passed", "want_l", "want_p")}
    searcher.search_and_resume(
        spark, feats, plan, RANGES, paths["want_l"], paths["want_p"]
    )

    publish, calls = searcher._publish, []

    def crashing(ops):
        calls.append(ops)
        if len(calls) == {"staged": 1, "passed_published": 2}[crash_at]:
            raise RuntimeError("injected crash")
        publish(ops)

    monkeypatch.setattr(searcher, "_publish", crashing)
    with pytest.raises(RuntimeError, match="injected crash"):
        searcher.search_and_resume(
            spark, feats, plan, RANGES, paths["ledger"], paths["passed"]
        )
    monkeypatch.setattr(searcher, "_publish", publish)
    assert _journals(paths["ledger"])
    n = searcher.search_and_resume(
        spark, feats, plan, RANGES, paths["ledger"], paths["passed"]
    )
    assert n == 0
    read = lambda k: _rows(spark.read.parquet(paths[k]))  # noqa: E731
    assert read("ledger") == read("want_l")
    assert read("passed") == read("want_p") and read("passed")
    for k in ("ledger", "passed"):
        assert not os.path.exists(os.path.join(paths[k], "_staging"))
    assert not _journals(paths["ledger"])


def _journals(ledger_path):
    return [n for n in os.listdir(ledger_path) if n.startswith("_commit-")]


class _Crashing:
    """A stand-in for a module whose ``names`` count their calls in a
    shared ``counter`` and raise at call number ``counter["at"]``."""

    def __init__(self, module, names, counter):
        self._module, self._names, self._counter = module, names, counter

    def __getattr__(self, name):
        attr = getattr(self._module, name)
        if name not in self._names:
            return attr

        def counted(*args, **kwargs):
            self._counter["calls"] += 1
            if self._counter["calls"] == self._counter["at"]:
                raise RuntimeError("injected crash")
            return attr(*args, **kwargs)

        return counted


def _crash_searcher_at(monkeypatch, at):
    """Make the searcher's ``os.link``, ``os.replace``, ``os.remove`` and
    ``shutil.rmtree`` crash at call number ``at`` (never for 0); returns
    the call counter."""
    counter = {"calls": 0, "at": at}
    monkeypatch.setattr(searcher, "os", _Crashing(os, {"link", "replace", "remove"}, counter))
    monkeypatch.setattr(searcher, "shutil", _Crashing(shutil, {"rmtree"}, counter))
    return counter


@pytest.mark.parametrize("commit", ["search", "replay"])
def test_commit_crash_at_every_operation_rolls_forward(
    spark, tmp_path, monkeypatch, commit
):
    """Crash one commit at each of its links, renames and removals in
    turn, then rerun: the ledger and the passed store equal a clean
    run's as multisets, with no staging directory or journal left. The
    search commit is a resumable run over features in three partitions,
    so a crash inside the ledger's renames leaves some of its queries
    unpublished: a rerun that searched them again, rather than
    completing the journal, would publish their passed rows twice. The
    replay commit publishes over an earlier copy of the same batch, so
    it also removes what that copy published."""
    plan = searcher.queries_df(spark, [(0, 4), (5, 9), (40, 44), (2000, 3000)])
    feats = lambda: _features(spark).repartitionByRange(3, "star_id")  # noqa: E731
    batch = searcher.run_search(searcher.feature_snapshot(feats()), plan, RANGES)

    def paths(name):
        return str(tmp_path / name / "ledger"), str(tmp_path / name / "passed")

    def earlier(name):  # what the commit publishes over
        if commit == "replay":
            searcher.write_results(batch, *paths(name))

    def run(name):
        if commit == "search":
            searcher.search_and_resume(spark, feats, plan, RANGES, *paths(name))
        else:
            searcher.write_results(batch, *paths(name))
        return paths(name)

    read = lambda path: _rows(spark.read.parquet(path))  # noqa: E731
    earlier("clean")
    counter = _crash_searcher_at(monkeypatch, 0)
    want = [read(p) for p in run("clean")]
    n_ops = counter["calls"]
    monkeypatch.undo()
    names = os.listdir(str(tmp_path / "clean" / "ledger"))
    assert len([n for n in names if n.endswith(".parquet")]) >= 4, names
    assert want[1] and n_ops >= 8, n_ops
    for at in range(1, n_ops + 1):
        earlier(f"crash{at}")
        _crash_searcher_at(monkeypatch, at)
        with pytest.raises(RuntimeError, match="injected crash"):
            run(f"crash{at}")
        monkeypatch.undo()
        ledger, passed = run(f"crash{at}")
        assert [read(ledger), read(passed)] == want, at
        assert not _journals(ledger)
        for path in (ledger, passed):
            assert not os.path.exists(os.path.join(path, "_staging"))


def test_queries_df_is_driver_local(spark, tmp_path):
    """The query table is a LocalTableScan of rows the driver holds, not
    a Python-RDD scan that starts Python workers on every read; an empty
    plan keeps the schema, and searching it publishes nothing."""
    plan = searcher.queries_df(spark, [(0, 4), (5, 9)])
    for df in (plan, searcher.run_search(_features(spark), plan, RANGES)):
        physical = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in physical and "ExistingRDD" not in physical
    empty = searcher.queries_df(spark, [])
    assert empty.count() == 0
    assert empty.schema.simpleString() == "struct<query_id:bigint,lo:bigint,hi:bigint>"
    paths = [str(tmp_path / k) for k in ("ledger", "passed")]
    n = searcher.search_and_resume(
        spark, lambda: _features(spark), empty, RANGES, *paths
    )
    assert n == 0
    assert not any(os.path.exists(p) for p in paths)


def test_write_results_runs_only_its_writes(spark, tmp_path):
    """The commit launches the jobs of its write and nothing else: no
    publish-key probe, no read-back of the staged ledger, and the passed
    store costs no job of its own, so a commit with a passed store runs
    as many jobs as a plain write of the ledger."""
    plan = searcher.queries_df(spark, [(0, 4), (5, 9), (2000, 3000)])
    ledger = searcher.run_search(_features(spark), plan, RANGES)
    p = lambda k: str(tmp_path / k)  # noqa: E731
    plain = job_count(spark, "plain-write", lambda: ledger.write.parquet(p("plain")))
    assert plain > 0
    commit = job_count(spark, "commit", lambda: searcher.write_results(ledger, p("ledger")))
    assert commit == plain
    commit_passed = job_count(
        spark,
        "commit-passed",
        lambda: searcher.write_results(ledger, p("ledger2"), p("passed")),
    )
    assert commit_passed == plain
    assert _rows(spark.read.parquet(p("passed"))) == _rows(
        spark.read.parquet(p("plain")).filter("passed")
    )


def test_publish_key_is_min_over_all_part_files(spark, tmp_path):
    """The publish key is the smallest staged query_id over every part
    file and row group, also when it sits in neither the first file nor
    the first row group; a row group without statistics raises."""
    plan = searcher.queries_df(spark, [(0, 4), (5, 9), (10, 14), (2000, 3000)])
    # descending ranges put the smallest query_id in the last part file
    ledger = searcher.run_search(_features(spark), plan, RANGES).repartitionByRange(
        3, F.col("query_id").desc()
    )
    ledger_path, passed_path = str(tmp_path / "ledger"), str(tmp_path / "passed")
    searcher.write_results(ledger, ledger_path, passed_path)
    for path in (ledger_path, passed_path):
        names = [n for n in os.listdir(path) if n.endswith(".parquet")]
        assert names and all(n.startswith("q0-") for n in names), names
    published = spark.read.parquet(ledger_path)
    assert published.agg(F.min("query_id")).first()[0] == 0
    assert _rows(published) == _rows(ledger)
    # the passed store's files are links of the ledger's passed-flag files
    in_ledger, in_passed = (
        {n for n in os.listdir(path) if n.endswith(".parquet")}
        for path in (ledger_path, passed_path)
    )
    assert in_passed and in_passed < in_ledger
    assert all(n.startswith("q0-passed-") for n in in_passed)

    rows = pa.table({"query_id": pa.array([9, 8, 7, 3, 5, 6], pa.int64())})
    staging = tmp_path / "staging"
    staging.mkdir()
    pq.write_table(rows, staging / "part-0.parquet", row_group_size=2)
    assert searcher._min_query_id(str(staging)) == 3
    pq.write_table(rows, staging / "part-1.parquet", write_statistics=False)
    with pytest.raises(ValueError, match="no query_id min/max statistics"):
        searcher._min_query_id(str(staging))


def test_feature_snapshot_reused_until_inputs_change(spark, tmp_path):
    """Over unchanged inputs, a second search into a fresh ledger and a
    stream start read the session snapshot and evaluate no feature row
    (a deterministic counting UDF over the key); a touched, then a
    rewritten, events file makes the next search recompute them."""
    src = os.path.join(SF_SMOKE, "events.parquet")
    sf = tmp_path / "sf"
    sf.mkdir()
    events = sf / "events.parquet"
    shutil.copyfile(src, events)
    acc = spark.sparkContext.accumulator(0)

    def tick(v):
        acc.add(1)
        return v

    tick_udf = F.udf(tick, "long")

    def counted():
        feats = curve_features(testdata.observations(spark, str(sf)))
        return feats.withColumn("star_id", tick_udf("star_id"))

    plan = searcher.queries_df(spark, [(0, 4), (5, 9)])

    def evaluated(run):
        acc.value = 0
        run()
        return acc.value

    def search(name):
        return evaluated(lambda: searcher.search_and_resume(
            spark, counted, plan, RANGES, str(tmp_path / name)
        ))

    n_stars = _features(spark).count()
    assert search("l1") == n_stars
    assert search("l2") == 0
    snapshot = lambda: searcher.feature_snapshot(counted())  # noqa: E731
    assert job_count(spark, "snapshot-hit", snapshot) == 0

    qdir = tmp_path / "queries_in"
    qdir.mkdir()
    (qdir / "batch1.csv").write_text("0,0,4\n")
    ledger_path = str(tmp_path / "stream_ledger")

    def stream():
        start_search_stream(
            spark, str(qdir), counted, RANGES, ledger_path, str(tmp_path / "ckpt")
        ).awaitTermination(120)

    assert evaluated(stream) == 0
    assert spark.read.parquet(ledger_path).count() > 0

    st = os.stat(events)
    os.utime(events, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert search("l3") == n_stars
    assert search("l4") == 0
    events.unlink()
    shutil.copyfile(src, events)
    assert search("l5") == n_stars
    want = _rows(spark.read.parquet(str(tmp_path / "l1")))
    for name in ("l2", "l3", "l4", "l5"):
        assert _rows(spark.read.parquet(str(tmp_path / name))) == want


@pytest.mark.parametrize("leaf", ["rdd", "nondeterministic_udf"])
def test_feature_snapshot_never_reuses_unsafe_plans(spark, leaf):
    """A plan over an RDD leaf (a Python-list frame) or with a
    nondeterministic UDF is written afresh on every call: each call runs
    a write job into a new directory and reads back the same rows."""
    if leaf == "rdd":
        make = lambda: spark.createDataFrame(  # noqa: E731
            [(1, 0.5), (2, 0.8)], "star_id long, abbe double"
        )
    else:
        same = F.udf(lambda v: v, "long").asNondeterministic()
        make = lambda: _features(spark).withColumn(  # noqa: E731
            "star_id", same("star_id")
        )
    assert searcher._input_stamp(make()) is None
    snaps = []
    for i in range(2):
        assert job_count(
            spark, f"unsafe-{leaf}-{i}",
            lambda: snaps.append(searcher.feature_snapshot(make())),
        ) > 0
    first, second = (set(s.inputFiles()) for s in snaps)
    assert first.isdisjoint(second)
    assert _rows(snaps[1]) == _rows(make())


def test_zero_query_resume_runs_two_jobs(spark, tmp_path, monkeypatch):
    """A resume with nothing left reads the ledger's query ids once: two
    jobs (the distinct's shuffle and its collect), no anti-join and no
    feature job. A first run into a ledger directory that does not
    exist yet reads no ledger."""
    plan = searcher.queries_df(spark, [(0, 4), (5, 9), (2000, 3000)])
    ledger_path = str(tmp_path / "ledger")
    run = lambda: searcher.search_and_resume(  # noqa: E731
        spark, lambda: _features(spark), plan, RANGES, ledger_path
    )
    parquet = DataFrameReader.parquet

    def no_ledger_read(self, *paths, **options):
        assert ledger_path not in paths, "a first run read the ledger"
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", no_ledger_read)
    assert run() == 3
    monkeypatch.undo()
    n = []
    assert job_count(spark, "zero-query-resume", lambda: n.append(run())) == 2
    assert n == [0]


def test_resume_propagates_ledger_read_errors(spark, tmp_path):
    """A ledger that cannot be read is an error, not a first run: a run
    that read it as empty would re-run and re-publish every query."""
    plan = searcher.queries_df(spark, [(0, 4)])
    ledger_path = tmp_path / "ledger"
    ledger_path.mkdir()
    (ledger_path / "q0-part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        searcher.search_and_resume(
            spark, lambda: _features(spark), plan, RANGES, str(ledger_path)
        )


def test_unsafe_snapshots_leave_nothing_behind(spark, tmp_path):
    """Searches over a Python-list frame (an RDD leaf: a new
    ``semanticHash`` on every call) take no memo slot, and each removes
    its snapshot directory once its commit returns."""
    root = searcher._snapshot_root()
    before, memo = set(os.listdir(root)), dict(searcher._SNAPSHOTS)
    plan = searcher.queries_df(spark, [(1, 2), (1000, 2000)])
    for i in range(3):
        feats = spark.createDataFrame(
            [(1, 0.5), (2, 0.8)], "star_id long, abbe double"
        )
        assert searcher.search_and_resume(
            spark, lambda: feats, plan, {"abbe": (None, 0.9)},
            str(tmp_path / f"ledger{i}"),
        ) == 2
    assert set(os.listdir(root)) == before
    assert searcher._SNAPSHOTS == memo


def _union_window_ledger(found, queries, key="star_id"):
    """The status ledger as it was built before the query-preserving
    join: the found rows, unioned with one found=false stub per query,
    and a ``max(found)`` window over query_id that keeps a stub only for
    a query with no found row."""
    types = {f.name: f.dataType.simpleString() for f in found.schema.fields}
    cols = [key] + [c for c in types if c not in (key, "query_id", "passed")]
    matched = found.selectExpr("query_id", *cols, "TRUE AS found", "passed")
    stubs = queries.selectExpr(
        "query_id",
        *[f"CAST(NULL AS {types[c]}) AS {c}" for c in cols],
        "FALSE AS found",
        "FALSE AS passed",
    )
    return (
        matched.unionByName(stubs)
        .withColumn("_any_found", F.expr("max(found) OVER (PARTITION BY query_id)"))
        .filter("found OR NOT _any_found")
        .drop("_any_found")
    )


def _union_window_search(features, queries, ranges):
    """``run_search`` as it was: an inner broadcast range join, then the
    union-and-window ledger."""
    found = features.join(
        F.broadcast(queries), F.expr("star_id >= lo AND star_id <= hi"), "inner"
    ).selectExpr("query_id", *features.columns, f"{range_predicate_sql(ranges)} AS passed")
    return _union_window_ledger(found, queries)


def _small_features(spark):
    return spark.createDataFrame(
        [(1, None, 40.0), (2, 0.5, 40.0), (3, 0.5, None), (4, 0.99, 40.0)],
        "star_id long, abbe double, std_mag double",
    )


SEARCH_CASES = {
    "overlapping_ranges": (None, [(0, 7), (5, 14), (3, 3)]),
    "ranges_past_the_last_star": (None, [(0, 4), (995, 1010), (10**6, 2 * 10**6)]),
    "empty_features": ("empty", [(0, 4), (5, 9)]),
    "null_feature_star": ("small", [(1, 3), (2, 9), (7, 8)]),
    "equal_ranges": (None, [(0, 4), (0, 4), (2000, 3000)]),
}


@pytest.mark.parametrize("case", sorted(SEARCH_CASES))
def test_run_search_matches_union_window_ledger(spark, case):
    """The query-preserving range join gives the rows, column names and
    types of the union-and-window ledger it replaced."""
    kind, ranges = SEARCH_CASES[case]
    feats = _features(spark)
    if kind == "empty":
        feats = feats.limit(0)
    elif kind == "small":
        feats = _small_features(spark)
    plan = searcher.queries_df(spark, ranges)
    new = searcher.run_search(feats, plan, RANGES)
    old = _union_window_search(feats, plan, RANGES)
    assert new.schema.simpleString() == old.schema.simpleString()
    assert _rows(new) == _rows(old)
    assert {r.query_id for r in new.select("query_id").collect()} == set(range(len(ranges)))


def test_status_ledger_matches_union_window_ledger(spark):
    """The CLI's attribution (query, star) rows joined to per-star flags,
    some queries finding no star: ``queries LEFT JOIN found`` gives the
    rows of the union-and-window ledger."""
    flags = spark.createDataFrame(
        [(1, 0.5, True), (2, None, False), (3, 0.9, False)],
        "star_id long, abbe double, passed boolean",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (2, 2), (2, 3), (4, 1)], "query_id long, star_id long"
    )
    found = pairs.join(flags, "star_id")
    queries = spark.range(6).toDF("query_id")
    new = searcher.status_ledger(found, queries)
    old = _union_window_ledger(found, queries)
    assert new.schema.simpleString() == old.schema.simpleString()
    assert _rows(new) == _rows(old)
    assert sorted(r.query_id for r in new.filter("NOT found").collect()) == [1, 3, 5]


def test_run_search_plans_one_broadcast_range_join(spark):
    """The ledger plan is one ``BroadcastNestedLoopJoin BuildLeft,
    LeftOuter``: no shuffle exchange and no window, which the
    union-and-window form needs. The features are a snapshot, whose plan
    is one scan."""
    feats = searcher.feature_snapshot(_features(spark))
    plan = searcher.queries_df(spark, [(0, 4), (5, 9), (2000, 3000)])

    def physical(df):
        return df._jdf.queryExecution().executedPlan().toString()

    new = physical(searcher.run_search(feats, plan, RANGES))
    assert re.search(r"BroadcastNestedLoopJoin BuildLeft, LeftOuter", new), new
    assert "BroadcastExchange" in new
    assert not re.search(r"(?<!Broadcast)Exchange|Window", new), new
    old = physical(_union_window_search(feats, plan, RANGES))
    assert re.search(r"(?<!Broadcast)Exchange", old) and "Window" in old


def _staged_dirs(monkeypatch, ledger_path):
    """Record the entries of the staging directory at each commit's
    publish."""
    seen, complete = [], searcher._complete

    def spy(journal):
        seen.append(sorted(os.listdir(os.path.join(ledger_path, "_staging"))))
        complete(journal)

    monkeypatch.setattr(searcher, "_complete", spy)
    return seen


def test_null_passed_star_stays_in_ledger_not_in_passed(spark, tmp_path):
    """A found star whose predicate reads a NULL feature has ``passed``
    NULL: it is a ledger row, and the passed store does not hold it."""
    ledger_path, passed_path = str(tmp_path / "ledger"), str(tmp_path / "passed")
    plan = searcher.queries_df(spark, [(1, 4)])
    searcher.write_results(
        searcher.run_search(_small_features(spark), plan, RANGES), ledger_path, passed_path
    )
    ledger = {r.star_id: r.passed for r in spark.read.parquet(ledger_path).collect()}
    assert ledger == {1: None, 2: True, 3: None, 4: False}
    assert [r.star_id for r in spark.read.parquet(passed_path).collect()] == [2]


def test_commit_without_passed_rows(spark, tmp_path, monkeypatch):
    """A commit with no passed row stages no ``_passed=true`` directory;
    the passed store gets a file of no row and reads back with the
    ledger's schema."""
    ledger_path, passed_path = str(tmp_path / "ledger"), str(tmp_path / "passed")
    seen = _staged_dirs(monkeypatch, ledger_path)
    ledger = searcher.run_search(
        _features(spark), searcher.queries_df(spark, [(0, 4), (2000, 3000)]),
        {"abbe": (None, -1.0)},
    )
    searcher.write_results(ledger, ledger_path, passed_path)
    assert "_passed=false" in seen[0] and "_passed=true" not in seen[0]
    passed = spark.read.parquet(passed_path)
    assert passed.count() == 0
    assert passed.schema.simpleString() == ledger.schema.simpleString()
    assert spark.read.parquet(ledger_path).count() == ledger.count() > 1
    assert not os.path.exists(os.path.join(ledger_path, "_staging"))


@pytest.mark.parametrize("with_passed", [False, True])
def test_empty_ledger_commit(spark, tmp_path, with_passed):
    """An empty ledger publishes one file of no row under key ``None``
    to the ledger (and to the passed store), readable with the ledger's
    schema, and leaves no staging directory or journal."""
    ledger = searcher.run_search(_features(spark), searcher.queries_df(spark, []), RANGES)
    paths = [str(tmp_path / "ledger")] + ([str(tmp_path / "passed")] if with_passed else [])
    searcher.write_results(ledger, *paths)
    for path in paths:
        names = os.listdir(path)
        assert len(names) == 1 and names[0].startswith("qNone-"), names
        back = spark.read.parquet(path)
        assert back.count() == 0
        assert back.schema.simpleString() == ledger.schema.simpleString()


def test_passed_link_falls_back_to_copy(spark, tmp_path, monkeypatch):
    """The passed store holds hard links of the ledger's passed files;
    where ``os.link`` raises ``EXDEV`` (another device), a copy."""
    plan = searcher.queries_df(spark, [(0, 4), (5, 9)])
    ledger = searcher.run_search(_features(spark), plan, RANGES)

    def commit(name):
        ledger_path, passed_path = str(tmp_path / name / "l"), str(tmp_path / name / "p")
        searcher.write_results(ledger, ledger_path, passed_path)
        (linked,) = os.listdir(passed_path)
        return os.stat(os.path.join(ledger_path, linked)), os.stat(
            os.path.join(passed_path, linked)
        ), _rows(spark.read.parquet(passed_path))

    in_ledger, in_passed, want = commit("linked")
    assert in_ledger.st_ino == in_passed.st_ino and in_passed.st_nlink == 2

    def cross_device(src, dst):
        raise OSError(errno.EXDEV, os.strerror(errno.EXDEV), src, None, dst)

    monkeypatch.setattr(os, "link", cross_device)
    in_ledger, in_passed, got = commit("copied")
    assert in_ledger.st_ino != in_passed.st_ino and in_passed.st_nlink == 1
    assert got == want
    assert not [n for n in os.listdir(tmp_path / "copied" / "p") if n.startswith(".")]
