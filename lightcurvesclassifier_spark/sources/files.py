"""File-based sources/sinks: dat light curves and query files.

Dat scan — re-expresses FileManager's text loader
(lcc/db_tier/connectors/file_manager.py:108-233) Spark-first: one
distributed ``spark.read.text`` over a glob, star identity from
``input_file_name()`` (the reference derives it from the filename,
file_manager.py:168-180), sentinel/bad-value policy and rounding
applied as column expressions so the whole scan stays in codegen.

Query-file scan/sink — the ``#a;b;c`` header + ``;``-delimited format of
StatusResolver (lcc/data_manager/status_resolver.py:101-167).
"""

from __future__ import annotations

import csv
import itertools
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import BAD_VALUES


def load_dat_curves(
    spark: SparkSession,
    path: str,
    suffix: str = ".dat",
    files_limit: int | None = None,
    star_class: str | None = None,
    round_decimals: int = 3,
) -> DataFrame:
    """Whitespace ``time mag [err]`` text files → long observations.

    Returns (star_id: string from file name, t, mag, err, star_class).
    Values are rounded to ``round_decimals`` (FileManager rounds dat
    input to 3, file_manager.py:73) and rows with sentinels or
    non-finite values are dropped (file_manager.py:226-233).

    ``files_limit`` takes the first N files sorted by name — the
    reference's head-N on the directory listing (file_manager.py:99-103).
    Listing happens driver-side on the glob only; the data read is fully
    distributed.
    """
    if files_limit is not None:
        import glob as _glob

        paths = sorted(_glob.glob(os.path.join(path, f"*{suffix}")))[:files_limit]
        if not paths:
            raise FileNotFoundError(f"no *{suffix} files under {path}")
        reader_path = paths
    else:
        reader_path = [os.path.join(path, f"*{suffix}")]

    raw = spark.read.text(reader_path)
    star = F.regexp_replace(
        F.element_at(F.split(F.input_file_name(), "/"), -1),
        f"{suffix.replace('.', chr(92) + '.')}$",
        "",
    )
    parts = F.split(F.trim(F.col("value")), r"\s+")
    # F.get → NULL for missing columns (err is optional in dat files;
    # plain [] indexing throws under ANSI mode on 2-column rows)
    t_s, mag_s, err_s = F.get(parts, 0), F.get(parts, 1), F.get(parts, 2)
    df = raw.filter(
        (F.trim(F.col("value")) != "") & ~F.trim(F.col("value")).startswith("#")
    ).select(
        star.alias("star_id"),
        t_s.alias("_t"),
        mag_s.alias("_mag"),
        err_s.alias("_err"),
    )
    bad = list(BAD_VALUES)
    t = F.round(F.col("_t").cast("double"), round_decimals)
    mag = F.round(F.col("_mag").cast("double"), round_decimals)
    err = F.round(F.col("_err").cast("double"), round_decimals)
    out = (
        df.filter(~F.col("_t").isin(bad) & ~F.col("_mag").isin(bad))
        .select(
            "star_id",
            t.alias("t"),
            mag.alias("mag"),
            F.when(F.col("_err").isin(bad), None).otherwise(err).alias("err"),
        )
        .filter(
            F.col("t").isNotNull()
            & F.col("mag").isNotNull()
            & ~F.isnan("t")
            & ~F.isnan("mag")
        )
    )
    if star_class is not None:
        out = out.withColumn("star_class", F.lit(star_class))
    return out


def save_dat_curves(obs: DataFrame, path: str, round_decimals: int = 3) -> None:
    """Write one ``<star_id>.dat`` per star (FileManager's inverse).
    Partitioned by star so each task writes its own stars' files —
    executor-side, no driver collect."""

    def write_partition(rows) -> None:
        handles: dict[str, list[str]] = {}
        for r in rows:
            handles.setdefault(str(r["star_id"]), []).append(
                f"{round(r['t'], round_decimals)} {round(r['mag'], round_decimals)}"
                + (
                    f" {round(r['err'], round_decimals)}"
                    if r["err"] is not None
                    else ""
                )
            )
        for sid, lines in handles.items():
            with open(os.path.join(path, f"{sid}.dat"), "w") as f:
                f.write("\n".join(lines) + "\n")

    os.makedirs(path, exist_ok=True)
    obs.repartition("star_id").sortWithinPartitions("star_id", "t").foreachPartition(
        write_partition
    )


def load_query_file(path: str) -> list[dict]:
    """``#a;b;c`` + ``;``-rows → one dict per query row
    (StatusResolver.getQueries, status_resolver.py:101-110), read on the
    driver: a query file is a small local artifact every caller needs as
    rows. The ``#`` marks the header line; every value comes back as a
    string and an empty cell as None (the reference evals types
    downstream — we leave casting to the caller). Blank lines are
    skipped.

    The delimiter is sniffed from the header line (``;`` default):
    prepare_query honors a custom ``-d``, so a fixed ``;`` read would
    collapse a ``,``-written file into one unusable column."""
    with open(path, newline="") as f:
        lines = [line for line in f if line.strip()]
    if not lines:
        return []
    counts = {c: lines[0].count(c) for c in (";", ",", "\t", "|")}
    best = max(counts, key=counts.get)
    reader = csv.reader(lines, delimiter=best if counts[best] else ";")
    names = next(reader)
    if names[0].startswith("#"):
        names[0] = names[0].lstrip("#").strip()
    return [
        {k: v or None for k, v in itertools.zip_longest(names, row[: len(names)])}
        for row in reader
    ]


def save_query_file(queries: list[dict], path: str) -> None:
    """Inverse of :func:`load_query_file` (status_resolver.py:139-167):
    the header from the first row's keys, an empty cell for None.
    Query plans are small driver-side artifacts (they parameterize
    searches); written directly, not through a distributed sink."""

    def _cell(v) -> str:
        if v is None:
            return ""
        out = str(v)
        if ";" in out:
            raise ValueError(
                f"query value {out!r} contains the ';' delimiter"
            )
        return out

    with open(path, "w") as f:
        f.write("#" + ";".join(queries[0]) + "\n")
        for row in queries:
            f.write(";".join(_cell(v) for v in row.values()) + "\n")
