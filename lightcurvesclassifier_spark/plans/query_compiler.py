"""Compile the reference's dict-based query language to Spark SQL.

The reference expresses queries as ``list[dict]`` — one dict per query,
with three predicate forms (lcc/db_tier/TAP_query.py:116-171,
README.md:238-241):

- ``{"col": value}``          → equality
- ``{"col": (lo, hi)}``       → BETWEEN (inclusive)
- ``{"col": "<5"}`` / ``">…"`` / ``"=…"`` / ``"<=…"`` / ``">=…"`` /
  ``"!=…"`` → raw comparison
- ``{"ra": .., "dec": .., "delta": ..[, "nearest": True]}`` → cone search
  (handled by ``operators/cone_search.py``, not here)

:func:`parse_condition` reads a value once; :func:`compile_condition`
renders it as Spark SQL and ``sources.remote.adql_condition`` as ADQL.
Compiling to one SQL predicate makes every condition visible to Catalyst
— pushed into the parquet scan, used for partition pruning — instead of
being applied per-object in Python like the reference. A query *list* is
a disjunction of its per-dict conjunctions.
"""

from __future__ import annotations

import math
import numbers
from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F

CONE_KEYS = {"ra", "dec", "delta", "nearest"}


def parse_condition(value: Any) -> tuple[str, tuple]:
    """One DSL value as (operator, operands): ``BETWEEN`` with (lo, hi),
    else one of ``= < > <= >= <>`` with one operand; a renderer joins
    the operands with ``AND``. The three forms of TAP_query.py:116-171,
    plus the Kepler connector's ``"lo..hi"`` range token
    (kepler.py:111-146)."""
    if isinstance(value, (tuple, list)) and len(value) == 2:
        return "BETWEEN", tuple(value)
    if not isinstance(value, str):
        return "=", (value,)
    if ".." in value:
        lo, _, hi = value.partition("..")
        try:
            return "BETWEEN", (float(lo), float(hi))
        except ValueError:
            pass  # not numeric — fall through to the comparison forms
    # two-char operators first: '>=5' must not parse as '>' '=5'; a bare
    # '!' is not an operator, so '!x' is an equality with the string
    op = next((o for o in (">=", "<=", "!=", "<", ">", "=") if value.startswith(o)), None)
    if op is None:
        return "=", (value,)
    raw = value[len(op):].strip()
    try:
        lit: Any = float(raw) if "." in raw or "e" in raw.lower() else int(raw)
    except ValueError:
        lit = raw
    return ("<>" if op == "!=" else op), (lit,)


def sql_literal(v: Any) -> str:
    """``v`` as a Spark SQL literal of the type ``F.lit(v)`` gives."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, numbers.Real):
        return sql_number(v)
    raise TypeError(f"no Spark SQL literal for {v!r}")


def compile_condition(col: str, value: Any) -> str:
    """One predicate as Spark SQL."""
    op, operands = parse_condition(value)
    return f"({quote_ident(col)} {op} {' AND '.join(map(sql_literal, operands))})"


def compile_query(query: Mapping[str, Any]) -> str | None:
    """Conjunction of one query dict's predicates (cone keys excluded);
    None when it constrains nothing."""
    conds = [compile_condition(c, v) for c, v in query.items() if c not in CONE_KEYS]
    return " AND ".join(conds) or None


def apply_queries(df: DataFrame, queries: Sequence[Mapping[str, Any]]) -> DataFrame:
    """Disjunction across query dicts — the reference's per-query loop
    (lcc/db_tier/base_query.py:33-36) collapsed into a single scan with an
    OR-of-ANDs predicate Catalyst can push down."""
    if not queries:
        # an empty DISJUNCTION matches nothing (the reference's loop
        # over zero queries yields zero results) — returning the full
        # table here silently processed the entire corpus
        return df.filter("FALSE")
    conds = [compile_query(q) for q in queries]
    if None in conds:
        return df  # an unconstrained query matches everything
    return df.filter(" OR ".join(f"({c})" for c in conds))


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
