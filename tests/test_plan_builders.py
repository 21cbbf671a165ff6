"""The search lifecycle's driver-side plan builders: ``load_table`` reads a
known file with its remembered schema (no schema-inference job), and
``curve_features``, built from Spark SQL strings, keeps the values of the
DuckDB oracle and the bits of the Column-API expression it replaced,
also on degenerate curves."""

import math

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Window, functions as F

import __spark_entry__ as entry
from lightcurvesclassifier_spark.functions.curves import curve_features
from lightcurvesclassifier_spark.sources import testdata
from tests.conftest import job_count

EPOCH_US = 1_704_067_200_000_000
US_PER_DAY = 86_400_000_000
FEATURES = ("mean_mag", "std_mag", "timespan", "curve_density", "abbe")


def _write_events(path, rows, extra=False):
    """``events.parquet`` in the testdata layout from (star, t_us, mag)."""
    stars, t_us, mags = zip(*rows) if rows else ((), (), ())
    cols = {
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array([EPOCH_US + t for t in t_us], pa.timestamp("us")),
        "user_id": pa.array(stars, pa.int64()),
        "event_type": pa.array(["V"] * len(rows), pa.string()),
        "value": pa.array(mags, pa.float64()),
    }
    if extra:
        cols["extra"] = pa.array([1] * len(rows), pa.int64())
    pq.write_table(pa.table(cols), path / "events.parquet")


def test_repeat_load_reuses_the_inferred_schema(spark, tmp_path):
    _write_events(tmp_path, [(1, 0, 10.0), (1, US_PER_DAY, 11.0)])
    loads = []
    load = lambda: loads.append(testdata.observations(spark, str(tmp_path)))  # noqa: E731
    inferred = job_count(spark, "memo-first", load)
    repeat = job_count(spark, "memo-repeat", load)
    first, again = loads
    assert inferred >= 1 and repeat == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())

    # rewritten in place with one more column: a new stamp, a new schema
    _write_events(tmp_path, [(1, 0, 10.0), (2, US_PER_DAY, 11.0)], extra=True)
    events = testdata.load_table(spark, str(tmp_path), "events")
    assert "extra" in events.columns
    assert events.select("user_id").distinct().count() == 2


def _degenerate_curves():
    """(star, t_us, mag): one observation, a constant magnitude, every
    observation at one t, a NaN magnitude, then ordinary curves of 2 to
    31 points (the stars whose Abbe quotient a DECIMAL literal moves)."""
    rows = [(1, 3 * US_PER_DAY, 12.5)]
    rows += [(2, k * US_PER_DAY // 3, 12.3) for k in range(14)]
    rows += [(3, 2 * US_PER_DAY, m) for m in (11.0, 13.5, 12.25, 11.0)]
    rows += [
        (4, k * US_PER_DAY, m)
        for k, m in enumerate((10.0, float("nan"), 10.5, 11.0))
    ]
    rng = np.random.default_rng(5)
    for sid in range(10, 40):
        n = sid - 8
        t = rng.integers(0, 30 * US_PER_DAY, n).tolist()
        rows += [(sid, ti, mi) for ti, mi in zip(t, rng.normal(20.0, 3.0, n).tolist())]
    return rows


def _column_api_curve_features(obs):
    """The Column-API expression curve_features replaced: the reference
    for bit parity."""
    w = Window.partitionBy("star_id").orderBy("t", "mag")
    d = F.col("mag") - F.lag("mag").over(w)
    agg = (
        obs.withColumn("_d", d)
        .groupBy("star_id")
        .agg(
            F.count("mag").alias("_n"),
            F.sum(F.col("_d") * F.col("_d")).alias("_sum_sq_diff"),
            F.sum("mag").alias("_s1"),
            F.sum(F.col("mag") * F.col("mag")).alias("_s2"),
            F.min("t").alias("_tmin"),
            F.max("t").alias("_tmax"),
        )
    )
    n = F.col("_n")
    mean = F.col("_s1") / n
    ss = F.col("_s2") - F.col("_s1") * F.col("_s1") / n
    span = F.col("_tmax") - F.col("_tmin")
    return agg.select(
        "star_id",
        n.alias("n_obs"),
        mean.alias("mean_mag"),
        F.when(n > 0, F.sqrt(F.greatest(ss, F.lit(0.0)) / n)).alias("std_mag"),
        span.alias("timespan"),
        F.when(span != 0.0, n / span).alias("curve_density"),
        F.when(
            (n > 1) & (ss != 0.0),
            n / (2.0 * (n - 1.0)) * F.col("_sum_sq_diff") / ss,
        ).alias("abbe"),
    )


def _hex_rows(df):
    return sorted(
        tuple(v.hex() if isinstance(v, float) else v for v in r) for r in df.collect()
    )


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def test_curve_features_on_degenerate_curves(spark, tmp_path):
    _write_events(tmp_path, _degenerate_curves())
    obs = testdata.observations(spark, str(tmp_path))
    feats = curve_features(obs)

    # no DECIMAL anywhere: a bare 2.0 in the SQL strings parses as one
    analyzed = feats._jdf.queryExecution().analyzed().toJSON()
    assert "decimal" not in analyzed.lower()

    assert _hex_rows(feats) == _hex_rows(_column_api_curve_features(obs))

    rounded = feats.select(
        "star_id", "n_obs", *[F.round(c, 6).alias(c) for c in FEATURES]
    )
    got = {r[0]: tuple(r) for r in rounded.collect()}
    cols = ", ".join(("star_id", "n_obs") + FEATURES)
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
        oracle = con.execute(f"SELECT {cols} FROM ({entry._CURVE_FEATURES_SQL})")
        want = {r[0]: r for r in oracle.fetchall()}
    assert got.keys() == want.keys() and len(got) == 34
    for sid, row in got.items():
        assert all(_same(a, b) for a, b in zip(row, want[sid])), (sid, row, want[sid])
    # the degenerate stars take the NULL / NaN branches
    assert got[1][2:] == (12.5, 0.0, 0.0, None, None)
    assert got[3][5] is None and got[3][6] is not None
    assert math.isnan(got[4][2])
