"""Remote-source layer, fully offline: ADQL building (the TapClient
query forms, lcc/db_tier/TAP_query.py:116-171), cone-box prefilter,
connector registry, and the driver/executor fetch stages against fake
transports."""

import pytest

from pyspark.sql import functions as F

from lightcurvesclassifier_spark.operators.cone_search import cone_search
from lightcurvesclassifier_spark.sources import remote


def test_adql_predicate_forms():
    assert remote.adql_condition("a", 5) == '("a" = 5)'
    assert remote.adql_condition("a", "x") == "(\"a\" = 'x')"
    assert remote.adql_condition("a", (1, 2)) == '("a" BETWEEN 1 AND 2)'
    assert remote.adql_condition("a", "<905") == '("a" < 905)'
    assert remote.adql_condition("a", ">1.5") == '("a" > 1.5)'
    assert remote.adql_condition("a", "=7") == '("a" = 7)'


@pytest.mark.parametrize(
    "value, adql, spark_sql",
    [
        (">=12", '("vmag" >= 12)', "(`vmag` >= 12)"),
        ("<=3.5", '("vmag" <= 3.5)', "(`vmag` <= 3.5D)"),
        ("!=4", '("vmag" <> 4)', "(`vmag` <> 4)"),
        ("!x", "(\"vmag\" = '!x')", "(`vmag` = '!x')"),
        ("a..b", "(\"vmag\" = 'a..b')", "(`vmag` = 'a..b')"),
        ("it's a\\b", "(\"vmag\" = 'it''s a\\b')", "(`vmag` = 'it\\'s a\\\\b')"),
    ],
)
def test_dsl_renderers_share_one_parse(value, adql, spark_sql):
    """ADQL and Spark SQL render the same parse: two-character
    operators stay operators on both (ADQL read '>=12' as '>' '=12')."""
    from lightcurvesclassifier_spark.plans.query_compiler import compile_condition

    assert remote.adql_condition("vmag", value) == adql
    assert compile_condition("vmag", value) == spark_sql


def test_dsl_string_literals_round_trip_in_spark(spark):
    from lightcurvesclassifier_spark.plans.query_compiler import apply_queries

    values = ["!x", "a..b", "it's a\\b", "plain"]
    df = spark.createDataFrame([(v,) for v in values], "s string")
    for v in values[:3]:
        assert [r.s for r in apply_queries(df, [{"s": v}]).collect()] == [v]


def test_build_adql_shape():
    sql = remote.build_adql(
        '"II/247/machovar"',
        ["RAJ2000", "DEJ2000", "MACHO"],
        {"Vmag": (10, 15), "Class": "QSO"},
    )
    assert sql == (
        'SELECT "RAJ2000","DEJ2000","MACHO" FROM "II/247/machovar" '
        'WHERE ("Vmag" BETWEEN 10 AND 15) AND ("Class" = \'QSO\')'
    )


def test_cone_box_prefilter():
    conds = remote.cone_box_conditions(180.0, -30.0, 36.0, "ra", "de")
    assert conds["ra"] == (180.0 - 0.01, 180.0 + 0.01)
    assert conds["de"] == (-30.0 - 0.01, -30.0 + 0.01)


def test_registry_and_plugin():
    macho = remote.get_provider("Macho")
    assert macho.bands == ("B", "R")
    with pytest.raises(ValueError, match="unknown connector"):
        remote.get_provider("NoSuchDb")
    remote.register_connector(
        remote.ConnectorConfig(
            name="UserDb", url="http://example.org/tap", table="t",
            ra_col="ra", dec_col="de",
        )
    )
    assert remote.get_provider("UserDb").table == "t"


def _catalog_transport(url, adql):
    # fake TAP server: three stars, one outside the test cone
    assert adql.startswith("SELECT ")
    return [
        {"RAJ2000": 180.001, "DEJ2000": -30.001, "MACHO": "1.1.1", "Vmag": 15.0},
        {"RAJ2000": 180.002, "DEJ2000": -29.999, "MACHO": "1.1.2", "Vmag": "bad"},
        {"RAJ2000": 180.009, "DEJ2000": -30.009, "MACHO": "1.1.3", "Rmag": 14.0},
    ]


def test_fetch_stars_and_cone_refine(spark):
    cfg = remote.get_provider("Macho")
    stars = remote.fetch_stars(
        spark, cfg,
        [{"ra": 180.0, "dec": -30.0, "delta": 40.0, "Vmag": (10, 20)}],
        transport=_catalog_transport,
    )
    rows = {r["name"]: r for r in stars.collect()}
    assert set(rows) == {"1.1.1", "1.1.2", "1.1.3"}
    assert rows["1.1.1"]["more"] == {"v_mag": 15.0}
    assert rows["1.1.2"]["more"] == {}  # unparseable value skipped
    assert rows["1.1.1"]["origin"] == "Macho"
    # engine-side exact refine keeps only true cone members
    # (12″ cone: 1.1.1 at ~4.8″, 1.1.2 at ~7.2″ pass; 1.1.3 at ~43″ out)
    refined = cone_search(stars, 180.0, -30.0, 12.0 / 3600.0)
    assert {r["name"] for r in refined.collect()} == {"1.1.1", "1.1.2"}


def test_fetch_light_curves_distributed(spark):
    # the transport ships to executors — defined as a closure so
    # cloudpickle serializes it by value (no test-module import needed)
    def lc_transport(url, ident_url):
        ident = ident_url.rsplit("?", 1)[-1].split(",")[0].split("/")[-1]
        return [
            {"t": 1.0, "mag": 10.0, "err": 0.1, "band": "B"},
            {"t": 2.0, "mag": 10.5, "err": None, "band": "B"},
        ] if ident else []

    cfg = remote.get_provider("Macho")
    stars = remote.fetch_stars(
        spark, cfg, [{"Vmag": (10, 20)}], transport=_catalog_transport
    )
    obs = remote.fetch_light_curves(stars, cfg, transport=lc_transport)
    pdf = obs.toPandas()
    assert len(pdf) == 6  # 3 stars × 2 samples
    assert set(pdf["star_id"]) == {"1.1.1", "1.1.2", "1.1.3"}
    assert pdf["err"].isna().sum() == 3


def test_query_fanout_adql_per_query():
    cfg = remote.get_provider("Asas")
    sqls = remote.star_queries_adql(
        cfg, [{"Vmag": (8, 12)}, {"Per": ">100"}]
    )
    assert len(sqls) == 2
    assert '"Vmag" BETWEEN 8 AND 12' in sqls[0]
    assert '"Per" > 100' in sqls[1]


def test_range_token_form():
    # Kepler's "lo..hi" range token (kepler.py:111-146)
    assert remote.adql_condition("kic_num", "100..200") == (
        '("kic_num" BETWEEN 100.0 AND 200.0)'
    )


def test_range_token_spark(spark):
    from lightcurvesclassifier_spark.plans.query_compiler import apply_queries

    df = spark.range(500).withColumnRenamed("id", "kic_num")
    out = apply_queries(df, [{"kic_num": "100..200"}])
    assert out.count() == 101
