"""Canonical schemas for the engine's data model.

The reference's fundamental abstraction is the ``Star`` object
(``/root/reference/lcc/entities/star.py:10-270``): identifiers per source
database, sky coordinates, an open dict of scalar properties, a class
label, and a list of per-band ``LightCurve`` objects (three parallel
arrays ``time/mag/err`` — ``lcc/entities/light_curve.py:10-208``).

Spark-first mapping (SURVEY.md §1.2): long, columnar tables instead of
nested objects —

- ``STARS``: one row per star; nested ident map, open ``more`` map.
- ``OBSERVATIONS``: one row per photometric sample — the scale-bearing
  table (100 TB lives here); partitioned/bucketed by ``star_id``.
- ``CURVES``: collected per-(star, band) array view for per-curve kernels
  (built with ``sort_array(collect_list(struct(t, ...)))``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Sentinel values dropped on ingest — lcc/entities/light_curve.py:42 and
# lcc/db_tier/connectors/file_manager.py:69. Kept as strings: matching
# happens before the cast.
BAD_VALUES = ["-99", "-99.0", "99", "N/A", ""]

# Crossmatch tolerance: star equality if angular separation < 0.5 arcsec
# (lcc/entities/star.py:57: EPS = 0.000138 deg).
CROSSMATCH_EPS_DEG = 0.000138

STARS = T.StructType(
    [
        T.StructField("star_id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("ra_deg", T.DoubleType(), True),
        T.StructField("dec_deg", T.DoubleType(), True),
        T.StructField("star_class", T.StringType(), True),
        # Star.ident (star.py:18-32): {db: {"name":…, "db_ident": {...}}}
        T.StructField(
            "ident",
            T.MapType(
                T.StringType(),
                T.StructType(
                    [
                        T.StructField("name", T.StringType(), True),
                        T.StructField(
                            "db_ident",
                            T.MapType(T.StringType(), T.StringType()),
                            True,
                        ),
                    ]
                ),
            ),
            True,
        ),
        # Star.more (star.py:40-45): open scalar-property dict.
        T.StructField("more", T.MapType(T.StringType(), T.DoubleType()), True),
        T.StructField("origin", T.StringType(), True),
    ]
)

OBSERVATIONS = T.StructType(
    [
        T.StructField("star_id", T.LongType(), False),
        T.StructField("band", T.StringType(), True),
        T.StructField("t", T.DoubleType(), False),
        T.StructField("mag", T.DoubleType(), False),
        T.StructField("err", T.DoubleType(), True),
    ]
)

CURVES = T.StructType(
    [
        T.StructField("star_id", T.LongType(), False),
        T.StructField("band", T.StringType(), True),
        T.StructField("time", T.ArrayType(T.DoubleType()), False),
        T.StructField("mag", T.ArrayType(T.DoubleType()), False),
        T.StructField("err", T.ArrayType(T.DoubleType()), True),
        # LightCurve.meta (light_curve.py:35-40): units/labels/origin.
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)
