"""The per-curve aggregate's queries against their DuckDB oracles on
inputs the fixture SFs never contain: a star with one observation, one
with a constant magnitude, one whose every magnitude is NULL, one with
two observations at one timestamp, and an empty events table. Compared
through ``harness.compare``: atol=0 plus per-column NULL counts."""

import duckdb
import pytest

import __spark_entry__ as em
from lightcurvesclassifier_spark import harness
from tests.test_plan_builders import US_PER_DAY, _write_events

QUERIES = (
    "curve_stats", "curve_stats_band", "skew_kurtosis", "abbe_value",
    "incremental_stats",
)
DEGENERATE = (
    [(1, 3 * US_PER_DAY, 12.5)]
    + [(2, k * US_PER_DAY // 3, 12.3) for k in range(14)]
    + [(3, k * US_PER_DAY, None) for k in range(3)]
    + [(4, US_PER_DAY, 11.0), (4, US_PER_DAY, 13.5)]
    + [(5, k * US_PER_DAY // 2, 10.0 + k % 3) for k in range(9)]
)


@pytest.mark.parametrize("rows", [DEGENERATE, []], ids=["degenerate", "empty"])
def test_curve_queries_match_oracle_on_degenerate_stars(spark, tmp_path, rows):
    _write_events(tmp_path, rows)
    queries, oracle = em.queries(), em.oracle_sql()
    with duckdb.connect() as con:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
        )
        recs = {
            q: harness.compare(spark, queries[q], str(tmp_path), con, oracle[q])
            for q in QUERIES
        }
    bad = {q: r for q, r in recs.items() if not r["hash_match"] or r["err"]}
    assert not bad, bad
    assert {r["spark_rows"] for q, r in recs.items()} == {5 if rows else 0}
