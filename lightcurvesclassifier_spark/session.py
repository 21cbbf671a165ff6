"""SparkSession factory with scale-appropriate defaults.

Local tests run on ``local[N]``; the same settings are what we would ship
on a real cluster (AQE on, Arrow on, UTC session timezone so results are
comparable with the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """``SPARK_DRIVER_MEM`` if set, else half of the machine's MemTotal
    (``/proc/meminfo``), at least 1g and at most 48g; 48g where
    ``/proc/meminfo`` is missing. A fixed large heap on a small machine
    lets a heavy query be OOM-killed before GC pressure forces a spill."""
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if mem:
        return mem
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration):
        return "48g"
    return f"{min(48, max(1, kb // (2 * 1024 * 1024)))}g"


def get_spark(
    app_name: str = "lightcurvesclassifier_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores);
    ``SPARK_DRIVER_MEM`` the driver heap (default: half of MemTotal,
    1g..48g).
    Shuffle partitions default to the core count — right for local/test
    scale; on a real cluster this would be sized to ~2-3x total cores or
    left to AQE coalescing.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        shuffle_partitions = os.cpu_count() or 8 if cpus == "*" else int(cpus)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.parquet stores TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read as raw long nanos instead (the
        # observations view derives float days from integer nanos anyway).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
