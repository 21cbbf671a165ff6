"""Structured Streaming analog of the reference's distributed search.

The reference drains a long-running feed of queries through an rq/redis
work queue (lcc/systematic_search/stars_searcher.py:262-346,
systematic_search/worker.py:14-26), appending results to the status
ledger as workers finish. The reference defines no event-time semantics
— the stream is a work queue — so the natural Spark mapping is a
file-source stream of query batches drained by ``foreachBatch``
(SURVEY.md §2.6): each micro-batch runs the same declarative search
plan and the same commit as the batch path (operators/searcher.py),
giving exactly-once per-batch semantics via the checkpoint instead of
redis bookkeeping. The reference defines no batch boundaries either, so
a start drains its whole backlog of query files in one micro-batch and
pays the per-batch jobs (collect, commit, offset and commit logs) once,
not once per file. The features are taken once per start, as the
search's session snapshot (``searcher.feature_snapshot``), so a start
over unchanged inputs runs no feature job; restart the stream to refresh
them.
"""

from __future__ import annotations

import os
from typing import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession

from ..operators import searcher


def query_stream(spark: SparkSession, queries_dir: str) -> DataFrame:
    """File-source stream: each CSV dropped into ``queries_dir`` holds
    (query_id, lo, hi) queries — the enqueue side of the reference's
    work queue. No rate limit is set, so one micro-batch takes every file
    present when it is planned."""
    return spark.readStream.schema(searcher.QUERY_SCHEMA).csv(queries_dir)


def start_search_stream(
    spark: SparkSession,
    queries_dir: str,
    features_fn: Callable[[], DataFrame],
    passed_ranges: Mapping[str, tuple[float | None, float | None]],
    ledger_path: str,
    checkpoint_dir: str,
):
    """Drain the query stream through the batch search plan.

    Features contract: ``features_fn()`` is called once per start, and
    every batch of this start searches its
    ``searcher.feature_snapshot``, the same session snapshot the batch
    search reads, so restart the stream to refresh the features. The
    snapshot sits in the process's snapshot directory, under neither the
    ledger nor the checkpoint, so a glob over the ledger's batch
    directories reads ledger rows only.

    A start drains its backlog in one micro-batch: every query file
    present when it plans the batch. ``foreachBatch`` collects the
    batch's (small, broadcast) query rows into a driver-held table, then
    runs the batch plan and its commit, ``searcher.write_results``, into
    ``<ledger_path>/batch_id=N``; read the ledger with
    ``spark.read.parquet(ledger_path)``. The checkpoint makes restarts
    resume from the last committed batch (the reference's redis status
    ledger role). The file source logs each batch's file list under
    ``<checkpoint>/sources/0/N`` before the batch runs, so a batch
    replayed after a crash before its checkpoint commit covers exactly
    its logged files and replaces its earlier copy; files dropped since
    go to the next batch.
    """
    snapshot = searcher.feature_snapshot(features_fn())
    stream = query_stream(spark, queries_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.collect()
        if not rows:
            return
        ledger = searcher.run_search(
            snapshot, searcher.query_table(spark, rows), passed_ranges
        )
        searcher.write_results(ledger, os.path.join(ledger_path, f"batch_id={batch_id}"))

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
