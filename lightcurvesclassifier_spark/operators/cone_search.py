"""Cone search: box prefilter + exact great-circle refine (+ nearest-1).

Reference semantics (lcc/db_tier/base_query.py:38-91):

- the coarse *box* is pushed to the scan. DIVERGENCE from the
  reference's naive ``[ra±δ]×[dec±δ]`` (_getRanges, base_query.py:85-91):
  here the RA side is wrap-aware and widened to the exact spherical
  bound, because our prefilter is an internal optimization that must be
  a SUPERSET of the refine — the reference's box silently drops stars
  at the 0/360 seam and at high declination;
- the exact refine keeps stars with ``separation(center) < delta_deg``
  (strict), stars with no coordinates pass with distance ∞;
- ``nearest=True`` returns only the argmin-separation star.

Spark-first: the box is a pair of BETWEEN predicates Catalyst pushes into
the parquet scan (partition/row-group pruning at scale); the refine is a
deterministic expression; nearest is a global ``ORDER BY sep
LIMIT 1`` (TakeOrderedAndProject — no full sort at scale), with
``star_id`` as the tie-break (the reference's np.argmin first-index rule
is list-order-dependent; documented divergence for determinism).

The box and the separation are SQL text shared with the DuckDB mirror
:func:`cone_search_sql`, so both engines prefilter the same superset and
compute the same doubles.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .sky import separation_sql, sql_double


def _ra_box(ra: float, dec: float, delta_deg: float):
    """Driver-side RA prefilter interval(s), guaranteed a SUPERSET of
    the exact refine (the reference's naive ``ra±δ`` box is not: it
    misses the 0/360 wraparound seam and narrows with cos(dec), both of
    which would make ``prefilter_box`` change results). Returns a list
    of (lo, hi) BETWEEN bounds — one interval, or two when the band
    crosses the seam — so the predicate stays parquet-pushable; None
    means RA is unconstrained (band reaches a pole)."""
    half = math.radians(delta_deg) / 2.0
    max_abs_dec = min(abs(dec) + delta_deg, 90.0)
    cosm = math.cos(math.radians(max_abs_dec))
    if cosm <= math.sin(half):
        return None
    band = math.degrees(2.0 * math.asin(min(1.0, math.sin(half) / cosm)))
    if band >= 180.0:
        return None
    lo, hi = (ra - band) % 360.0, (ra + band) % 360.0
    if lo <= hi:
        return [(lo, hi)]
    return [(0.0, hi), (lo, 360.0)]


def _box_sql(ra: float, dec: float, delta_deg: float) -> str:
    """The prefilter box: dec within ±delta and RA within the band(s) of
    :func:`_ra_box`."""
    box = (
        f"dec_deg BETWEEN {sql_double(dec - delta_deg)} "
        f"AND {sql_double(dec + delta_deg)}"
    )
    ra_ranges = _ra_box(ra, dec, delta_deg)
    if ra_ranges is None:
        return box
    return box + " AND (" + " OR ".join(
        f"ra_deg BETWEEN {sql_double(lo)} AND {sql_double(hi)}"
        for lo, hi in ra_ranges
    ) + ")"


def cone_search(
    stars: DataFrame,
    ra: float,
    dec: float,
    delta_deg: float,
    nearest: bool = False,
    prefilter_box: bool = True,
) -> DataFrame:
    """Stars within ``delta_deg`` of (ra, dec), with a ``sep_deg`` column.

    Coordinate-less stars (null ra/dec) pass with null separation,
    mirroring the reference's dist=∞ passthrough (base_query.py:73-75) —
    and never win ``nearest``.
    """
    out = stars
    coordless = "ra_deg IS NULL OR dec_deg IS NULL"
    if prefilter_box:
        out = out.filter(f"{coordless} OR ({_box_sql(ra, dec, delta_deg)})")
    sep = separation_sql(sql_double(ra), sql_double(dec), "ra_deg", "dec_deg")
    out = out.withColumn(
        "sep_deg", F.expr(f"CASE WHEN {coordless} THEN NULL ELSE {sep} END")
    )
    out = out.filter(f"{coordless} OR sep_deg < {sql_double(delta_deg)}")
    if nearest:
        out = out.filter(f"NOT ({coordless})").orderBy("sep_deg", "star_id").limit(1)
    return out


def cone_search_sql(
    table_sql: str,
    ra: float,
    dec: float,
    delta_deg: float,
    nearest: bool = False,
    extra_cols: str = "*",
) -> str:
    """DuckDB mirror of :func:`cone_search` (non-null-coordinate path)."""
    sep = separation_sql(sql_double(ra), sql_double(dec), "ra_deg", "dec_deg")
    base = (
        f"SELECT {extra_cols}, {sep} AS sep_deg FROM ({table_sql}) "
        f"WHERE {_box_sql(ra, dec, delta_deg)}"
    )
    q = f"SELECT * FROM ({base}) WHERE sep_deg < {sql_double(delta_deg)}"
    if nearest:
        q += " ORDER BY sep_deg, star_id LIMIT 1"
    return q
