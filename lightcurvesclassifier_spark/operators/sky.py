"""Spherical-geometry primitives shared by cone search and crossmatch.

The reference measures star separation with astropy's
``SkyCoord.separation`` (lcc/entities/star.py:202-216). We use the
haversine great-circle formula — numerically equivalent for any
non-antipodal separation (and crossmatch tolerances are arcseconds).

The formula is written once, as SQL text: the engine evaluates it through
``F.expr``/``selectExpr`` and the DuckDB oracle runs the same text, so
both evaluate the identical expression tree (bit-for-bit parity modulo
rounding).
"""

from __future__ import annotations


def sql_double(v: float) -> str:
    """``v`` as a DOUBLE literal that Spark and DuckDB both read exactly.
    A bare ``2.5`` is DECIMAL in both: DuckDB 1.0 casts some such
    literals to the neighbouring double, and Spark reads ``-0.0`` as 0."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def separation_sql(ra1: str, dec1: str, ra2: str, dec2: str) -> str:
    """Great-circle separation in degrees (haversine) of two SQL
    positions."""
    dlat = f"radians(({dec2}) - ({dec1})) / 2.0"
    dlon = f"radians(({ra2}) - ({ra1})) / 2.0"
    a = (
        f"sin({dlat}) * sin({dlat}) + cos(radians({dec1})) * "
        f"cos(radians({dec2})) * sin({dlon}) * sin({dlon})"
    )
    # clamp: near-antipodal rounding can push a one ulp past 1.0, where
    # asin(sqrt(a)) goes NaN instead of ~180°
    return f"degrees(2.0 * asin(sqrt(least({a}, 1.0))))"
