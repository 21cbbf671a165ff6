"""Streaming continuous aggregate — per-star curve-stats state
maintained by an unbounded observation stream.

The batch incremental pattern (``operators/rollup.lc_stats_state`` +
``merge_lc_states``) becomes a plain built-in streaming aggregation in
update mode: Structured Streaming's state store IS the state table, one
row per star forever (bounded by |stars|, no watermark needed — the
same "unbounded stream, bounded state" shape as the sketch trio).

Exactness across stream/batch/engine: float sums accumulate in
arrival order, so a streaming fold would drift ulps from a batch sum.
This state therefore keeps INTEGER micro-magnitudes (the per-row
``floor(mag·1e6 + 0.5)`` is deterministic) and sums them as BIGINT /
DECIMAL(38,0) — associative arithmetic, so after any partitioning of
the input into micro-batches the state equals the batch fold over the
concatenated input bit-for-bit (pinned in tests/test_stats_stream.py).

t extrema use min/max — idempotent, order-free. Deriving mean/std at
read time divides the exact integer sums once (``finalize_um_state``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import curves

OBS_STREAM_SCHEMA = (
    "star_id long, t double, mag double, event_time timestamp"
)


def obs_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source observation stream (one JSON object per line)."""
    return spark.readStream.schema(OBS_STREAM_SCHEMA).json(path)


def um_stats_state(obs: DataFrame) -> DataFrame:
    """Per-star mergeable integer state: (n, Σum, Σum², min t, max t)
    with um = micro-magnitudes. Works identically on a static or a
    streaming DataFrame — the streaming form is a stateful aggregation
    whose state is one row per star.

    Σum² is DECIMAL(38,0): um ≈ 2·10⁷, um² ≈ 4·10¹⁴ — a BIGINT sum
    would overflow past ~2·10⁴ points per star, a 100 TB feed exceeds
    that; decimal addition stays exact to 38 digits."""
    um = F.floor(F.col("mag") * 1e6 + 0.5).cast("long")
    rows = obs.select(
        "star_id",
        F.col("t"),
        um.alias("_um"),
        (um.cast("decimal(38,0)") * um.cast("decimal(38,0)")).alias("_um2"),
    )
    return rows.groupBy("star_id").agg(
        F.count("_um").alias("n"),
        F.sum("_um").alias("s1_um"),
        F.sum("_um2").alias("s2_um"),
        F.min("t").alias("tmin"),
        F.max("t").alias("tmax"),
    )


def finalize_um_state(state: DataFrame) -> DataFrame:
    """Derive the curve-stats surface from the integer state: divide the
    exact sums once into the per-curve aggregate's names, then
    ``curves.finalize_sums`` (the formulas of rollup.finalize_lc_stats)."""
    return curves.finalize_sums(
        state.selectExpr(
            "star_id",
            "n AS _n",
            "CAST(s1_um AS DOUBLE) / 1000000.0D AS _s1",
            "CAST(s2_um AS DOUBLE) / 1000000000000.0D AS _s2",
            "tmin AS _tmin",
            "tmax AS _tmax",
        )
    )
