"""Time-series rollups over the observations stream: gap-based
sessionization (observing runs) and fixed-width time-bucket downsampling
(the hypertable/continuous-aggregate shape).

The reference's per-star processing always consumes whole curves
(lcc/entities/light_curve.py); these operators add the two rollups a
large time-series store runs *before* whole-curve work at 100 TB —
splitting a curve into observing nights and pre-aggregating onto a
coarse time grid — as single-shuffle window/aggregate plans.

Scale shape
-----------
Both operators shuffle once, on ``star_id``.  ``observing_sessions``
runs its two windows and the session aggregate under the same
``HashPartitioning(star_id)`` — the groupBy keys ``(star_id,
session_id)`` are clustered by the window partitioning, so Catalyst
inserts no second exchange.  ``downsample`` is a plain partial-agg →
final-agg on ``(star_id, band, bucket)`` with map-side combine.  No
Python anywhere; both plans are whole-stage-codegen end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import curves
from ..sources import testdata


def observing_sessions(obs: DataFrame, gap_days: float = 1.0) -> DataFrame:
    """Split each star's time series into sessions separated by gaps
    longer than ``gap_days``; one row per (star, session) with its
    span and magnitude summary.

    The classic sessionization pair: a lag window marks session starts,
    a running sum numbers them, then a per-session aggregate.  Rows are
    ordered by ``(t, mag)`` within a star — the same deterministic
    tie-break as the detrend operator — so session boundaries are
    reproducible across engines and runs.
    """
    w = Window.partitionBy("star_id").orderBy("t", "mag")
    is_new = F.when(
        F.lag("t").over(w).isNull()
        | (F.col("t") - F.lag("t").over(w) > gap_days),
        1,
    ).otherwise(0)
    run = Window.partitionBy("star_id").orderBy("t", "mag").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = obs.withColumn("session_id", F.sum(is_new).over(run))
    return (
        sess.groupBy("star_id", "session_id")
        .agg(
            F.count("*").alias("n_obs"),
            F.round(F.min("t"), 6).alias("t_start"),
            F.round(F.max("t"), 6).alias("t_end"),
            F.round(F.avg("mag"), 6).alias("mean_mag"),
        )
    )


def observing_sessions_sql(gap_days: float = 1.0) -> str:
    """DuckDB mirror: same lag/running-sum windows, same (t, mag)
    tie-break, same rounding."""
    return f"""
WITH obs AS ({testdata.OBS_SQL}),
marked AS (
  SELECT star_id, t, mag,
         CASE WHEN lag(t) OVER w IS NULL
                   OR t - lag(t) OVER w > {gap_days} THEN 1 ELSE 0 END AS is_new
  FROM obs
  WINDOW w AS (PARTITION BY star_id ORDER BY t, mag)
),
sessions AS (
  SELECT star_id, mag, t,
         sum(is_new) OVER (PARTITION BY star_id ORDER BY t, mag
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT star_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_obs,
       round(min(t), 6) AS t_start,
       round(max(t), 6) AS t_end,
       round(avg(mag), 6) AS mean_mag
FROM sessions GROUP BY star_id, session_id
"""


def downsample(obs: DataFrame, width_days: float = 10.0) -> DataFrame:
    """Fixed-width time-bucket rollup per (star, band): the continuous-
    aggregate / hypertable downsample.  ``bucket`` is the integer floor
    of ``t / width`` so bucket boundaries are engine-independent.

    At 100 TB this is the materialize-once rollup the interactive tier
    reads instead of raw points — a single partial+final aggregate,
    ~``width``× smaller output, partition-prunable if written with
    ``bucket`` as a partition column (operators/layout.py pattern).
    """
    bucket = F.floor(F.col("t") / F.lit(width_days)).cast("long")
    return (
        obs.groupBy("star_id", "band", bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_obs"),
            F.round(F.avg("mag"), 6).alias("mean_mag"),
            F.round(F.min("mag"), 6).alias("min_mag"),
            F.round(F.max("mag"), 6).alias("max_mag"),
        )
    )


def downsample_sql(width_days: float = 10.0) -> str:
    """DuckDB mirror: same floor bucketing and rounding."""
    return f"""
WITH obs AS ({testdata.OBS_SQL})
SELECT star_id, band,
       CAST(floor(t / {width_days}) AS BIGINT) AS bucket,
       count(*) AS n_obs,
       round(avg(mag), 6) AS mean_mag,
       round(min(mag), 6) AS min_mag,
       round(max(mag), 6) AS max_mag
FROM obs GROUP BY star_id, band, bucket
"""


def revenue_cube(li: DataFrame) -> DataFrame:
    """CUBE aggregate over (returnflag, linestatus) — the OLAP
    subtotal/grand-total shape (Spark's ``Expand`` operator: each input
    row is replicated once per grouping set BEFORE the single hash
    aggregate, so the whole cube is still one shuffle with map-side
    combine; 4 grouping sets × |groups| output rows).

    Revenue sums are EXACT and engine-portable: the per-row double
    product is identical in both engines, ``floor(x·100 + 0.5)`` makes
    it an integer number of cents deterministically (no half-even vs
    half-up divergence), and BIGINT addition is associative — so the
    order-insensitive value hash matches without any float rounding
    leeway. ``grp_id`` is the standard GROUPING bitmask; NULL group
    keys (subtotal rows) are folded to 'ALL' on both engines."""
    cents = F.floor(
        F.col("l_extendedprice") * (1.0 - F.col("l_discount")) * 100.0 + 0.5
    ).cast("long")
    cube = (
        li.select("l_returnflag", "l_linestatus", cents.alias("_cents"))
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("grp_id"),
            F.count(F.lit(1)).alias("n_items"),
            F.sum("_cents").alias("revenue_cents"),
        )
    )
    return cube.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
        "grp_id",
        "n_items",
        "revenue_cents",
    )


def revenue_cube_sql() -> str:
    """DuckDB mirror of :func:`revenue_cube` (same cents arithmetic,
    same GROUPING bit order: returnflag is the high bit)."""
    return """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
         AS grp_id,
       count(*) AS n_items,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0
                           + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def moving_average(
    obs: DataFrame, half_width_days: float = 2.0
) -> DataFrame:
    """Centered moving average of each star's light curve over a ±Δt
    time window (RANGE frame — neighbors by TIME, not by row count:
    uneven sampling means a row-count frame would smooth over gaps).
    The residual against the local mean is the transient/flare signal.

    Exact cross-engine arithmetic: magnitudes are converted per-row to
    integer micro-mags (identical doubles → identical ``floor``), the
    frame sum is BIGINT (associative — no float summation-order skew
    between Spark's sliding-frame accumulation and DuckDB's segment
    tree), and the mean divides once at the end.  One Exchange on
    star_id; the RANGE frame sorts within partitions.
    """
    # pyspark's Window.rangeBetween only accepts long offsets; a
    # fractional-day RANGE frame needs the SQL form (same plan).
    hw = repr(float(half_width_days))
    frame = (
        "OVER (PARTITION BY star_id ORDER BY t "
        f"RANGE BETWEEN {hw} PRECEDING AND {hw} FOLLOWING)"
    )
    micro = F.floor(F.col("mag") * 1e6 + 0.5).cast("long")
    rows = obs.select("star_id", "t", "mag", micro.alias("_um"))
    wsum = F.expr(f"sum(_um) {frame}")
    wcnt = F.expr(f"count(_um) {frame}")
    smooth = wsum / (wcnt * 1e6)
    return rows.select(
        "star_id",
        F.round("t", 6).alias("t"),
        F.round("mag", 6).alias("mag"),
        F.round(smooth, 6).alias("mag_smooth"),
        F.round(F.col("mag") - smooth, 6).alias("resid"),
        wcnt.alias("n_window"),
    )


def moving_average_sql(obs_sql: str, half_width_days: float = 2.0) -> str:
    """DuckDB mirror of :func:`moving_average` (same micro-mag ints,
    same RANGE frame bounds)."""
    hw = repr(half_width_days)
    return f"""
WITH obs AS ({obs_sql}),
um AS (
  SELECT star_id, t, mag,
         CAST(floor(mag * 1e6 + 0.5) AS BIGINT) AS _um
  FROM obs
)
SELECT star_id,
       round(t, 6) AS t,
       round(mag, 6) AS mag,
       round(sum(_um) OVER w / (count(_um) OVER w * 1e6), 6) AS mag_smooth,
       round(mag - sum(_um) OVER w / (count(_um) OVER w * 1e6), 6) AS resid,
       count(_um) OVER w AS n_window
FROM um
WINDOW w AS (PARTITION BY star_id ORDER BY t
             RANGE BETWEEN {hw} PRECEDING AND {hw} FOLLOWING)
"""


# --- incremental aggregation maintenance (mergeable power-sum state) ---
#
# The 100 TB pattern behind every "continuous aggregate": keep per-key
# POWER SUMS (n, Σm, Σm², min t, max t) as the stored state, fold new
# partitions in by pure addition (associative, re-aggregation is a tiny
# |keys|-sized shuffle), and derive the human stats only at read time.
# A day's ingest then costs one pass over the DELTA, never a recompute
# over the full history.

def lc_stats_state(obs: DataFrame) -> DataFrame:
    """Per-star mergeable state for :func:`~..functions.curves.lc_stats`."""
    m = F.col("mag")
    return obs.groupBy("star_id").agg(
        F.count(m).alias("n"),
        F.sum(m).alias("s1"),
        F.sum(m * m).alias("s2"),
        F.min("t").alias("tmin"),
        F.max("t").alias("tmax"),
    )


def merge_lc_states(*states: DataFrame) -> DataFrame:
    """Fold any number of state tables into one (sum/sum/sum/min/max).

    Bit-determinism contract: a TWO-way merge is exact (adding two
    doubles is order-insensitive by commutativity). With k >= 3 states
    the partial-aggregate summation order is shuffle-dependent and IEEE
    addition is not associative — callers needing bit-for-bit
    reproducibility (the oracle-parity discipline) must chain two-way
    merges; k-way merges are still correct to float accumulation
    noise."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy("star_id").agg(
        F.sum("n").alias("n"),
        F.sum("s1").alias("s1"),
        F.sum("s2").alias("s2"),
        F.min("tmin").alias("tmin"),
        F.max("tmax").alias("tmax"),
    )


def finalize_lc_stats(state: DataFrame) -> DataFrame:
    """Derive the curve_stats surface from the state: the sums renamed to
    the per-curve aggregate's names, then ``curves.finalize_sums``."""
    return curves.finalize_sums(
        state.selectExpr(
            "star_id", "n AS _n", "s1 AS _s1", "s2 AS _s2",
            "tmin AS _tmin", "tmax AS _tmax",
        )
    )


def incremental_stats_sql(obs_sql: str) -> str:
    """DuckDB mirror of the split → state → merge → finalize pipeline
    (same even/odd-day split, same two-term merge, same finalize)."""
    # coalesce mirrors the Spark side: the even/odd split must PARTITION
    # obs — a NULL t fails both `% 2 = 0` and `% 2 <> 0` predicates and
    # would silently vanish from the "incremental" stats
    state = (
        "SELECT star_id, count(mag) AS n, sum(mag) AS s1, "
        "sum(mag * mag) AS s2, min(t) AS tmin, max(t) AS tmax "
        "FROM obs WHERE coalesce(CAST(floor(t) AS BIGINT), 0) % 2 {op} 0 "
        "GROUP BY star_id"
    )
    return f"""
WITH obs AS ({obs_sql}),
se AS ({state.format(op='=')}),
so AS ({state.format(op='<>')}),
merged AS (
  SELECT star_id, CAST(sum(n) AS BIGINT) AS n, sum(s1) AS s1,
         sum(s2) AS s2, min(tmin) AS tmin, max(tmax) AS tmax
  FROM (SELECT * FROM se UNION ALL SELECT * FROM so) GROUP BY star_id
)
SELECT star_id, n AS n_obs,
       round(s1 / n, 6) AS mean_mag,
       round(sqrt(greatest(s2 - s1 * s1 / n, 0.0e0) / n), 6) AS std_mag,
       round(tmax - tmin, 6) AS timespan,
       round(CASE WHEN tmax - tmin <> 0 THEN n / (tmax - tmin) END, 6)
         AS curve_density
FROM merged
"""
