"""The measurement and oracle-check harness the tool CLIs share: the
oracle compare flags each divergence class, a timed run reports its
job counts, name checks need no session, and the contention ratio has
no meaning on a core count without floors."""

import duckdb
import pytest

import __spark_entry__ as entry_mod
from lightcurvesclassifier_spark import harness

from tests.conftest import SF_SMOKE

ROWS = "(1, 0.5), (2, 1.5), (3, 2.5)"


def _compare(spark, spark_rows, oracle_sql):
    frame = spark.createDataFrame(spark_rows, "id long, x double")
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW v AS {oracle_sql}")
        return harness.compare(
            spark, lambda s, sf: frame, SF_SMOKE, con, "SELECT * FROM v"
        )


def _green(rec):
    return bool(rec["rows_match"] and rec["schema_match"] and rec["hash_match"])


def test_compare_passes_equal_frames(spark):
    rec = _compare(
        spark, [(1, 0.5), (2, 1.5), (3, 2.5)],
        f"SELECT * FROM (VALUES {ROWS}) t(id, x)",
    )
    assert _green(rec) and rec["err"] is None
    assert rec["spark_rows"] == rec["oracle_rows"] == 3


def test_compare_flags_row_count(spark):
    rec = _compare(
        spark, [(1, 0.5), (2, 1.5)], f"SELECT * FROM (VALUES {ROWS}) t(id, x)"
    )
    assert rec["rows_match"] is False and rec["hash_match"] is False


def test_compare_flags_column_set(spark):
    rec = _compare(
        spark, [(1, 0.5), (2, 1.5), (3, 2.5)],
        f"SELECT *, 0 AS y FROM (VALUES {ROWS}) t(id, x)",
    )
    assert rec["schema_match"] is False and rec["hash_match"] is False


def test_compare_flags_one_changed_float(spark):
    rec = _compare(
        spark, [(1, 0.5), (2, 1.5), (3, 2.5000001)],
        f"SELECT * FROM (VALUES {ROWS}) t(id, x)",
    )
    assert rec["rows_match"] and rec["schema_match"]
    assert rec["hash_match"] is False


def test_compare_flags_spark_null_against_duckdb_nan(spark):
    # both arrive in pandas as NaN, so only the NULL counts tell them apart
    rec = _compare(
        spark, [(1, 0.5), (2, None)],
        "SELECT * FROM (VALUES (1, 0.5), (2, 'nan'::DOUBLE)) t(id, x)",
    )
    assert rec["rows_match"] and rec["schema_match"]
    assert rec["hash_match"] is False
    assert rec["err"] == "null_count_mismatch"


def test_run_reports_wall_and_jobs(spark):
    rec = harness.run(spark, entry_mod.queries()["pricing_summary"], SF_SMOKE)
    assert rec["wall"] > 0
    assert 0 <= rec["construct"] <= rec["wall"]
    assert rec["jobs"] >= 1
    assert rec["stages"] >= rec["jobs"] and rec["tasks"] >= rec["stages"]


def test_check_names_rejects_unknown_without_a_session():
    with pytest.raises(SystemExit, match="no_such_query"):
        harness.check_names(["no_such_query"])
    harness.check_names(["pricing_summary", "probe_only"], extra=["probe_only"])


def test_contention_ratio_none_without_floors(monkeypatch):
    best = {"pricing_summary": 1.0, "lc_smooth": 1.0, "detrend": 1.0}
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert 3 not in harness.CONTROL_FLOORS
    assert harness.control_floors() == {}
    assert harness.contention_ratio(best) is None
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert harness.contention_ratio(best) == round(
        (1 / 0.37 + 1 / 0.48 + 1 / 0.68) / 3, 3
    )
