"""Compile the reference's dict-based query language to Catalyst predicates.

The reference expresses queries as ``list[dict]`` — one dict per query,
with three predicate forms (lcc/db_tier/TAP_query.py:116-171,
README.md:238-241):

- ``{"col": value}``          → equality
- ``{"col": (lo, hi)}``       → BETWEEN (inclusive)
- ``{"col": "<5"}`` / ``">…"`` / ``"=…"`` → raw comparison
- ``{"ra": .., "dec": .., "delta": ..[, "nearest": True]}`` → cone search
  (handled by ``operators/cone_search.py``, not here)

Compiling these to ``Column`` expressions makes every predicate visible
to Catalyst — pushed into the parquet scan, used for partition pruning —
instead of being applied per-object in Python like the reference.
A query *list* is a disjunction of its per-dict conjunctions.
"""

from __future__ import annotations

import math
import numbers
from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F

CONE_KEYS = {"ra", "dec", "delta", "nearest"}


def compile_condition(col: str, value: Any) -> Column:
    """One predicate: the three forms of TAP_query.py:116-171, plus the
    Kepler connector's ``"lo..hi"`` range token (kepler.py:111-146)."""
    c = F.col(col)
    if isinstance(value, (tuple, list)) and len(value) == 2:
        return c.between(F.lit(value[0]), F.lit(value[1]))
    if isinstance(value, str) and ".." in value:
        lo, _, hi = value.partition("..")
        try:
            return c.between(F.lit(float(lo)), F.lit(float(hi)))
        except ValueError:
            pass  # not numeric — fall through to the comparison forms
    if isinstance(value, str) and value[:1] in ("<", ">", "=", "!"):
        # two-char operators first: '>=5' must not parse as '>' '=5'
        # (a string literal that ANSI mode fails to cast at runtime)
        if value[:2] in (">=", "<=", "!="):
            op, raw = value[:2], value[2:].strip()
        elif value[:1] == "!":
            return c == F.lit(value)  # bare '!' is not an operator
        else:
            op, raw = value[0], value[1:].strip()
        try:
            lit: Any = float(raw) if "." in raw or "e" in raw.lower() else int(raw)
        except ValueError:
            lit = raw
        if op == "<":
            return c < F.lit(lit)
        if op == ">":
            return c > F.lit(lit)
        if op == "<=":
            return c <= F.lit(lit)
        if op == ">=":
            return c >= F.lit(lit)
        if op == "!=":
            return c != F.lit(lit)
        return c == F.lit(lit)
    return c == F.lit(value)


def compile_query(query: Mapping[str, Any]) -> Column | None:
    """Conjunction of one query dict's predicates (cone keys excluded)."""
    cond: Column | None = None
    for col, value in query.items():
        if col in CONE_KEYS:
            continue
        p = compile_condition(col, value)
        cond = p if cond is None else (cond & p)
    return cond


def apply_queries(df: DataFrame, queries: Sequence[Mapping[str, Any]]) -> DataFrame:
    """Disjunction across query dicts — the reference's per-query loop
    (lcc/db_tier/base_query.py:33-36) collapsed into a single scan with an
    OR-of-ANDs predicate Catalyst can push down."""
    if not queries:
        # an empty DISJUNCTION matches nothing (the reference's loop
        # over zero queries yields zero results) — returning the full
        # table here silently processed the entire corpus
        return df.filter(F.lit(False))
    disj: Column | None = None
    for q in queries:
        c = compile_query(q)
        if c is None:
            return df  # an unconstrained query matches everything
        disj = c if disj is None else (disj | c)
    return df if disj is None else df.filter(disj)


def quote_ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def missing_sql(names) -> str:
    """Spark SQL that is true where any of the columns ``names`` is
    missing: NULL or NaN. Never NULL itself (``isnan(NULL)`` is false)."""
    return " OR ".join(
        f"{x} IS NULL OR isnan({x})" for x in map(quote_ident, names)
    )


def sql_number(v: float) -> str:
    """A Spark SQL literal of the type ``F.lit(v)`` gives: an integer as
    INT (BIGINT beyond 32 bits), a float as DOUBLE — the D suffix, since
    a bare ``0.95`` parses as DECIMAL."""
    if isinstance(v, numbers.Integral):
        return str(int(v))
    v = float(v)
    return f"{v!r}D" if math.isfinite(v) else f"CAST('{v!r}' AS DOUBLE)"


def range_predicate_sql(
    ranges: Mapping[str, tuple[float | None, float | None]]
) -> str:
    """CustomDecider's boundary filter
    (lcc/stars_processing/deciders/custom_decider.py:43-78) as a Spark SQL
    expression: conjunction of per-column open/half-open ranges; ``None``
    bound = unbounded side, no bound at all = ``TRUE``."""
    terms = []
    for col, (lo, hi) in ranges.items():
        c = quote_ident(col)
        sides = [f"{c} > {sql_number(lo)}"] if lo is not None else []
        sides += [f"{c} < {sql_number(hi)}"] if hi is not None else []
        if sides:
            terms.append("(" + " AND ".join(sides) + ")")
    return " AND ".join(terms) or "TRUE"


def range_predicate(ranges: Mapping[str, tuple[float | None, float | None]]) -> Column:
    """:func:`range_predicate_sql` as a Column (one Py4J round trip)."""
    return F.expr(range_predicate_sql(ranges))
