"""Spherical crossmatch join — the reference's ``Star.__eq__`` at scale.

Reference semantics (lcc/entities/star.py:107-119): two stars match if
any shared database key has an identical ident dict, OR their angular
separation is below ``EPS = 0.000138`` deg ≈ 0.5″ (star.py:57). The
README's crossmatch workflow (README.md:259-266) is a nested loop over
catalogs — O(n·m) driver-side. That dies at 100 TB.

Spark-first strategy (zone join, the classic sky-join decomposition):

1. bucket both sides into declination *zones* of height ``zone_deg``
   (≥ eps);
2. explode the RIGHT side into its zone ±1 so any pair within eps
   shares a zone key — callers pass the SMALLER catalog as ``right``
   (the reference catalog in a detections-vs-reference match), since
   the exploded side pays a 3× row fan-out through the shuffle;
3. shuffle equi-join on the zone key — Catalyst picks broadcast when one
   side is small, sort-merge otherwise; zones are dense and uniformly
   loaded for realistic catalogs, so no skew salt is needed;
4. cheap RA band prefilter (conservative, wrap-aware) before
5. the exact haversine refine ``sep < eps``.

The candidate set per pair is O(1), so total work is O(n + m + matches)
after the shuffle — no cross join anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..plans.query_compiler import quote_ident
from ..schemas import CROSSMATCH_EPS_DEG
from .sky import separation_sql, sql_double


def crossmatch(
    left: DataFrame,
    right: DataFrame,
    eps_deg: float = CROSSMATCH_EPS_DEG,
    zone_deg: float | None = None,
    left_cols: list[str] | None = None,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """Pairs (left × right) with angular separation < ``eps_deg``.

    Pass the SMALLER catalog as ``right``: it is the side exploded into
    zone ±1 (3× row fan-out through the shuffle — see module docstring).

    Returns left_cols + right_cols + ``sep_deg``. Columns must be
    disambiguated by the caller (e.g. pre-aliased ``a_star_id`` /
    ``b_star_id``); defaults keep ``<side>.star_id`` only.
    """
    # zones narrower than eps would break the ±1-zone coverage claim
    # (a sub-eps pair could span 3+ zones and never share a key)
    zone_deg = max(zone_deg or eps_deg, eps_deg)
    left_cols = left_cols or ["star_id"]
    right_cols = right_cols or ["star_id"]

    zone = f"floor(dec_deg / {sql_double(zone_deg)})"
    l = left.selectExpr(
        *[f"{quote_ident(c)} AS {quote_ident('l_' + c)}" for c in left_cols],
        "ra_deg AS l_ra",
        "dec_deg AS l_dec",
        f"{zone} AS _zone",
    )
    r = right.selectExpr(
        *[f"{quote_ident(c)} AS {quote_ident('r_' + c)}" for c in right_cols],
        "ra_deg AS r_ra",
        "dec_deg AS r_dec",
        f"explode(array({zone} - 1, {zone}, {zone} + 1)) AS _zone",
    )

    # Exact wrap-aware RA band (prefilter only — exactness comes from
    # the haversine refine): for a pair with separation < eps whose
    # larger |dec| is m, the haversine identity bounds the RA spread by
    # |ΔRA| ≤ 2·asin(sin(eps/2)/cos(m)). The previous eps/cos(m)
    # approximation undershot that bound near the pole and dropped
    # genuine matches. When sin(eps/2) ≥ cos(m) the asin argument
    # saturates (least 1.0) and the band degenerates to 180° = no RA
    # pruning — the correct near-pole behavior.
    eps = sql_double(eps_deg)
    dra = "abs(l_ra - r_ra)"
    cosm = "cos(radians(greatest(abs(l_dec), abs(r_dec))))"
    sin_half_eps = f"sin(radians({eps}) / 2.0)"
    # cos(m) ≤ sin(eps/2) — within eps/2 of a pole (including the
    # nonphysical |dec| ≥ 90 rows synthetic jitter can produce, where
    # cos goes non-positive): every RA is reachable, skip the prefilter
    ra_ok = (
        f"{cosm} <= {sin_half_eps} OR least({dra}, 360.0 - {dra}) <= "
        f"degrees(2.0 * asin(least(1.0, {sin_half_eps} / {cosm})))"
    )
    sep = separation_sql("l_ra", "l_dec", "r_ra", "r_dec")

    return (
        l.join(r, "_zone")
        .filter(ra_ok)
        .withColumn("sep_deg", F.expr(sep))
        .filter(f"sep_deg < {eps}")
        .drop("_zone", "l_ra", "l_dec", "r_ra", "r_dec")
    )


def crossmatch_ident(
    left: DataFrame,
    right: DataFrame,
    left_cols: list[str] | None = None,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """The ident half of ``Star.__eq__`` (star.py:107-113): two stars
    match when any shared database key carries the same identifier.

    MapType ``ident`` columns explode to (db, value) rows; the match is
    a plain equi-join on that pair — hash-partitioned, broadcastable,
    no geometry involved. Complex ident values (the canonical STARS
    schema nests a struct per db, schemas.py) are not joinable keys in
    Spark (MAP has no ordering), so they are canonicalized to their
    JSON rendering before the join — equal structs render identically
    (field order is fixed by the schema).
    """
    from pyspark.sql import types as T

    left_cols = left_cols or ["star_id"]
    right_cols = right_cols or ["star_id"]

    def _rows(df, side, cols):
        exploded = df.select(
            *[F.col(c).alias(f"{side}_{c}") for c in cols],
            F.explode(F.col("ident")).alias("_db", "_val"),
        )
        val_type = df.schema["ident"].dataType.valueType
        name = (
            F.col("_val")
            if isinstance(val_type, T.StringType)
            else F.to_json(F.col("_val"))
        )
        return exploded.select(
            *[f"{side}_{c}" for c in cols], "_db", name.alias("_name")
        )

    l = _rows(left, "l", left_cols)
    r = _rows(right, "r", right_cols)
    return l.join(r, ["_db", "_name"]).drop("_db", "_name").distinct()


def crossmatch_full(
    left: DataFrame,
    right: DataFrame,
    eps_deg: float = CROSSMATCH_EPS_DEG,
    left_cols: list[str] | None = None,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """Complete ``Star.__eq__``: ident match OR separation < eps
    (star.py:107-119). Distinct matched key pairs from the union of the
    ident equi-join and the zone-bucketed coordinate join."""
    left_cols = left_cols or ["star_id"]
    right_cols = right_cols or ["star_id"]
    ident = crossmatch_ident(left, right, left_cols, right_cols)
    coords = crossmatch(left, right, eps_deg, None, left_cols, right_cols).select(
        *[f"l_{c}" for c in left_cols], *[f"r_{c}" for c in right_cols]
    )
    return ident.unionByName(coords).distinct()


def crossmatch_sql(
    left_sql: str,
    right_sql: str,
    eps_deg: float = CROSSMATCH_EPS_DEG,
    left_cols: list[str] | None = None,
    right_cols: list[str] | None = None,
) -> str:
    """DuckDB oracle: brute-force distance join with the identical
    haversine expression (fine at oracle scale; the zone join is the
    scale path, this is the semantics definition)."""
    left_cols = left_cols or ["star_id"]
    right_cols = right_cols or ["star_id"]
    sel_l = ", ".join(f"l.{c} AS l_{c}" for c in left_cols)
    sel_r = ", ".join(f"r.{c} AS r_{c}" for c in right_cols)
    sep = separation_sql("l.ra_deg", "l.dec_deg", "r.ra_deg", "r.dec_deg")
    return (
        f"SELECT {sel_l}, {sel_r}, {sep} AS sep_deg "
        f"FROM ({left_sql}) l, ({right_sql}) r "
        f"WHERE {sep} < {sql_double(eps_deg)}"
    )
