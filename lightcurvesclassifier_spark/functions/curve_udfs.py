"""Arrow-vectorized pandas UDFs over the array-typed ``curves`` view.

The declarative fast path lives in ``functions/curves.py`` /
``functions/descriptors.py``; the UDFs here carry the kernels whose exact
reference semantics don't decompose into SQL aggregates:

- VariogramSlopeDescr (lcc/stars_processing/descriptors/
  variogram_slope_descr.py:5-53): O(bins²) pair enumeration after PAA,
  log-log, least-squares slope — per-curve work bounded by bins², done
  inside one Arrow batch.
- exact to_ekvi_PAA with fix_missing interpolation
  (lcc/utils/data_analysis.py:54-140, :354-412): the sequential
  left-to-right NaN fill uses just-filled neighbours, which is
  imperative by nature.

Each UDF evaluates the shared numpy kernel library
(``functions/kernels.py``) — the same code the invariant tests treat as
ground truth, so the UDF surface and the oracle can't drift apart.

Scale shape: curves are one row per star (arrays bounded by per-star
sample counts, not table size); a batch of B curves crosses the
JVM↔Python boundary once via Arrow, and the work is embarrassingly
parallel across partitions — no shuffle beyond the groupBy that built
the curves view.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from . import kernels


def variogram_slope(curves: DataFrame, bins: int = 20, absolute: bool = False) -> DataFrame:
    """VariogramSlopeDescr: slope of the log-log variogram per star."""

    @F.pandas_udf(T.DoubleType())
    def slope(time: pd.Series, mag: pd.Series) -> pd.Series:
        out = np.empty(len(time))
        for i in range(len(time)):
            try:
                out[i] = kernels.variogram_slope(
                    np.asarray(time[i], dtype=float),
                    np.asarray(mag[i], dtype=float),
                    bins=bins,
                )
            except Exception:
                out[i] = np.nan
        vals = np.abs(out) if absolute else out
        # degenerate stars (constant mag, zero lags) must surface as
        # Spark NULL, not NaN: the SQL oracle's no-null gate emits NULL
        # for them, and NULL-count parity is part of the value check
        return pd.Series(vals).where(np.isfinite(vals), None)

    return curves.select(
        "star_id", slope(F.col("time"), F.col("mag")).alias("variogram_slope")
    )


def ekvi_paa_exact(curves: DataFrame, bins: int) -> DataFrame:
    """Exact-parity to_ekvi_PAA: per-star reduced (t, mag) series with the
    reference's NaN interpolation (fix_missing) applied — long format,
    one row per (star, bin)."""

    schema = T.StructType(
        [
            T.StructField("star_id", T.LongType()),
            T.StructField("bin", T.IntegerType()),
            T.StructField("t_red", T.DoubleType()),
            T.StructField("mag_red", T.DoubleType()),
        ]
    )

    def reduce_one(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for _, row in pdf.iterrows():
            x, y = kernels.to_ekvi_paa(
                np.asarray(row["time"], dtype=float),
                np.asarray(row["mag"], dtype=float),
                bins=bins,
            )
            for b in range(len(x)):
                rows.append(
                    {
                        "star_id": row["star_id"],
                        "bin": b,
                        "t_red": x[b],
                        "mag_red": y[b],
                    }
                )
        return pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return curves.mapInPandas(
        lambda it: (reduce_one(pdf) for pdf in it), schema=schema
    )
