"""The derived testdata views against the DuckDB oracle's texts at
sf0.001: each view's Spark rows and its oracle text's DuckDB rows are
float.hex-identical, and each view written once is built by
``spark.sql`` of the very text the oracle runs, so no second
definition can come back."""

import duckdb
import pytest

from lightcurvesclassifier_spark.sources import testdata
from tests.conftest import SF_SMOKE

# view → its oracle constant; the Spark builder runs the same text
SHARED = {
    "stars": "STARS_SQL",
    "detections": "DETECTIONS_SQL",
    "periods": "PERIODS_SQL",
    "dedup_corpus": "DEDUP_CORPUS_SQL",
    "dedup_corpus_lang": "DEDUP_CORPUS_LANG_SQL",
    "calibrations": "CALIB_SQL",
    "pii_corpus": "PII_CORPUS_SQL",
    "url_corpus": "URL_CORPUS_SQL",
    "noisy_corpus": "NOISY_CORPUS_SQL",
    "lines_corpus": "LINES_CORPUS_SQL",
}

# views with a Spark-only text: (the columns of the view compared, the
# oracle's SQL for them)
SPARK_FORM = {
    "contamination_eval": (["*"], testdata.CONTAM_EVAL_SQL),
    "c4_corpus": (["*"], testdata.C4_CORPUS_SQL),
    "stars_more": (
        ["star_id", "more['b_mag']", "more['v_mag']", "more['period']"],
        f"SELECT c_custkey, {testdata.B_MAG_SQL}, {testdata.V_MAG_SQL}, "
        f"{testdata.PERIOD_SQL} FROM customer",
    ),
    "stars_ident": (
        ["star_id", "ident['main']"],
        f"SELECT star_id, ident_name FROM ({testdata.STARS_IDENT_SQL})",
    ),
    "detections_ident": (
        ["det_id", "ident['main']"],
        f"SELECT det_id, ident_name FROM ({testdata.DETECTIONS_IDENT_SQL})",
    ),
}


@pytest.fixture(scope="module")
def duck_smoke():
    con = duckdb.connect()
    for t in testdata.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    yield con
    con.close()


def _rows(rows):
    return sorted(
        (tuple(v.hex() if isinstance(v, float) else v for v in r) for r in rows),
        key=repr,
    )


@pytest.mark.parametrize("name", SHARED)
def test_shared_view_is_the_oracle_text(spark, duck_smoke, monkeypatch, name):
    texts = []
    run = type(spark).sql

    def recording(self, query, *args, **kwargs):
        texts.append(query)
        return run(self, query, *args, **kwargs)

    monkeypatch.setattr(type(spark), "sql", recording)
    df = getattr(testdata, name)(spark, SF_SMOKE)
    monkeypatch.undo()
    oracle = getattr(testdata, SHARED[name])
    bare = {t: t for t in testdata.TABLES}
    assert [t.format(**bare) for t in texts] == [oracle]
    want = _rows(duck_smoke.execute(oracle).fetchall())
    assert want and _rows(df.collect()) == want


@pytest.mark.parametrize("name", SPARK_FORM)
def test_spark_form_view_matches_the_oracle(spark, duck_smoke, name):
    cols, oracle = SPARK_FORM[name]
    got = getattr(testdata, name)(spark, SF_SMOKE).selectExpr(*cols).collect()
    want = _rows(duck_smoke.execute(oracle).fetchall())
    assert want and _rows(got) == want
