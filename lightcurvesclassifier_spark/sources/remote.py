"""Remote catalog sources: ADQL/TAP query building, connector registry,
distributed light-curve fetch.

Re-expresses the reference's ``db_tier`` (lcc/db_tier/TAP_query.py,
vizier_tap_base.py, stars_provider.py) Spark-first:

- the *query building* — dict conditions → ADQL — is pure string logic,
  identical semantics to TapClient (TAP_query.py:116-171);
- the *catalog fetch* is a driver-side POST (result sets are star
  catalogs: thousands of rows, not data-plane scale) materialized into a
  unified ``stars`` DataFrame;
- the *per-star light-curve fetch* — the reference's sequential HTTP
  loop (vizier_tap_base.py:268-326) — is the data-plane step and runs
  distributed: ``mapInPandas`` over star rows, one session per
  partition, so a 10⁶-star sweep fans out across executors.

Network transport is injectable (``transport=``) — tests run fully
offline against fakes; production wires urllib/requests here. No
proprietary endpoints: connector configs carry the public archive URLs
from the reference.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Iterator, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..plans.query_compiler import parse_condition

# ---------------------------------------------------------------------------
# ADQL building — TapClient semantics (lcc/db_tier/TAP_query.py:116-171)


def _quote_ident(col: str) -> str:
    return '"' + col + '"'


def _fmt_val(v: Any) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def adql_condition(col: str, value: Any) -> str:
    """One WHERE clause, from the query DSL's one value parse
    (``plans.query_compiler.parse_condition``)."""
    op, operands = parse_condition(value)
    return f"({_quote_ident(col)} {op} {' AND '.join(map(_fmt_val, operands))})"


def cone_box_conditions(
    ra: float, dec: float, delta_arcsec: float, ra_col: str, dec_col: str
) -> dict[str, tuple[float, float]]:
    """Cone search → coarse box prefilter pushed to the remote source
    (base_query.py:85-91): ``[ra±δ] × [dec±δ]`` with δ in degrees; the
    exact great-circle refine happens engine-side afterwards
    (operators/cone_search.py)."""
    d = delta_arcsec / 3600.0
    return {ra_col: (ra - d, ra + d), dec_col: (dec - d, dec + d)}


def build_adql(
    table: str,
    select: Sequence[str],
    conditions: Mapping[str, Any] | None = None,
) -> str:
    """``SELECT "c1","c2" FROM t WHERE (…) AND (…)`` — the exact query
    shape TapClient posts (TAP_query.py:84-115)."""
    cols = ",".join(_quote_ident(c) for c in select) if select else "*"
    sql = f"SELECT {cols} FROM {table}"
    if conditions:
        preds = " AND ".join(
            adql_condition(c, v) for c, v in conditions.items()
        )
        sql += f" WHERE {preds}"
    return sql


# ---------------------------------------------------------------------------
# Connector configs + registry (stars_provider.py:15-44, macho.py:7-41)


@dataclass(frozen=True)
class ConnectorConfig:
    """Declarative per-archive config — the VizierTapBase class-attribute
    pattern (vizier_tap_base.py:75-96, macho.py:25-34) as data."""

    name: str
    url: str
    table: str
    ra_col: str
    dec_col: str
    ident_map: Mapping[str, str] = field(default_factory=dict)  # unified → remote
    more_map: Mapping[str, str] = field(default_factory=dict)  # remote → more key
    lc_url: str | None = None  # template with {ident}
    bands: Sequence[str] = ("V",)
    ra_unit_hours: bool = False  # OGLE serves RA in hours (ogleII.py:109-111)


# Public archive endpoints carried over from the reference's configs.
BUILTIN_CONNECTORS: dict[str, ConnectorConfig] = {
    "Macho": ConnectorConfig(
        name="Macho",
        url="http://tapvizier.u-strasbg.fr/TAPVizieR/tap",
        table='"II/247/machovar"',
        ra_col="RAJ2000",
        dec_col="DEJ2000",
        ident_map={"Macho": "MACHO"},
        more_map={"Vmag": "v_mag", "Rmag": "r_mag", "Class": "star_class"},
        lc_url="http://cdsarc.u-strasbg.fr/viz-bin/vizExec/Vgraph?II/247/{ident}",
        bands=("B", "R"),
    ),
    "Asas": ConnectorConfig(
        name="Asas",
        url="http://tapvizier.u-strasbg.fr/TAPVizieR/tap",
        table='"II/264/asas3"',
        ra_col="RAJ2000",
        dec_col="DEJ2000",
        ident_map={"Asas": "ASAS"},
        more_map={"Vmag": "v_mag", "Per": "period"},
        lc_url="http://www.astrouw.edu.pl/cgi-asas/asas_cgi_get_data?{ident},asas3",
    ),
    "Corot": ConnectorConfig(
        name="Corot",
        url="http://tapvizier.u-strasbg.fr/TAPVizieR/tap",
        table='"B/corot/corot"',
        ra_col="RAJ2000",
        dec_col="DEJ2000",
        ident_map={"Corot": "CoRoT"},
        more_map={"Vmag": "v_mag"},
    ),
}

_REGISTRY: dict[str, ConnectorConfig] = dict(BUILTIN_CONNECTORS)


def register_connector(config: ConnectorConfig) -> None:
    """User-plugin registration — the package-scan discovery of the
    reference (data_manager/package_reader.py:143-166) replaced by an
    explicit registry call."""
    _REGISTRY[config.name] = config


def get_provider(name: str) -> ConnectorConfig:
    """StarsProvider.getProvider analog (stars_provider.py:17-44)."""
    try:
        return _REGISTRY[name]
    except KeyError:
        raise ValueError(
            f"unknown connector {name!r}; registered: {sorted(_REGISTRY)}"
        ) from None


# ---------------------------------------------------------------------------
# Fetch stages

Transport = Callable[[str, str], list[dict]]
"""(url, adql_or_ident) → rows; injectable for tests / real HTTP in prod."""


def star_queries_adql(
    config: ConnectorConfig, queries: Sequence[Mapping[str, Any]]
) -> list[str]:
    """One ADQL string per query dict; cone params become the box
    prefilter; the SELECT list is the pruned union of coordinate, ident
    and ``more`` columns (vizier_tap_base.py:170-179)."""
    select = (
        [config.ra_col, config.dec_col]
        + list(config.ident_map.values())
        + list(config.more_map.keys())
    )
    out = []
    for q in queries:
        conds: dict[str, Any] = {}
        if "ra" in q and "dec" in q:
            if "delta" not in q:
                # silently dropping the cone would emit an UNBOUNDED
                # full-catalog query
                raise ValueError(
                    "cone query needs 'delta' alongside 'ra'/'dec'"
                )
            conds.update(
                cone_box_conditions(
                    q["ra"], q["dec"], q["delta"], config.ra_col, config.dec_col
                )
            )
        for k, v in q.items():
            if k in ("ra", "dec", "delta", "nearest"):
                continue
            conds[k] = v
        out.append(build_adql(config.table, select, conds))
    return out


def fetch_stars(
    spark: SparkSession,
    config: ConnectorConfig,
    queries: Sequence[Mapping[str, Any]],
    transport: Transport,
) -> DataFrame:
    """Catalog fetch → unified stars DataFrame (star_id, name, ra_deg,
    dec_deg, ident, more, origin, query_id). Control-plane step: result
    sets are catalog rows; the driver materializes and parallelizes."""
    from pyspark.sql import functions as F, types as T

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("ra_deg", T.DoubleType()),
            T.StructField("dec_deg", T.DoubleType()),
            T.StructField("ident", T.MapType(T.StringType(), T.StringType())),
            T.StructField("more", T.MapType(T.StringType(), T.DoubleType())),
        ]
    )
    rows = []
    for qid, adql in enumerate(star_queries_adql(config, queries)):
        for r in transport(config.url, adql):
            # null/missing ident columns are SKIPPED — str(None) gave
            # every such star the name 'None' and a bogus LC URL
            ident = {
                db: str(r[col])
                for db, col in config.ident_map.items()
                if r.get(col) is not None
            }
            more = {}
            for col, key in config.more_map.items():
                try:
                    more[key] = float(r[col])
                except (KeyError, TypeError, ValueError):
                    pass
            ra = float(r[config.ra_col])
            if config.ra_unit_hours:
                ra *= 15.0  # hours → degrees (ogleII.py:109-111)
            rows.append(
                (
                    qid,
                    next(iter(ident.values()), None),
                    ra,
                    float(r[config.dec_col]),
                    ident,
                    more,
                )
            )
    df = spark.createDataFrame(rows, schema)
    return df.withColumn("origin", F.lit(config.name))


def fetch_light_curves(
    stars: DataFrame,
    config: ConnectorConfig,
    transport: Transport,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Distributed per-star light-curve fetch — the data-plane stage.

    ``mapInPandas`` over star rows: each Arrow batch resolves its stars'
    LC URLs and emits long-format observations. The transport must be
    picklable (a module-level function or functools.partial) — it ships
    to executors. Retry/backoff policy belongs inside the transport
    (the reference's proxy-rotating session, utils/commons.py:261-317).
    """
    import pandas as pd

    if config.lc_url is None:
        raise ValueError(f"{config.name} has no light-curve endpoint")
    lc_url = config.lc_url
    url_base = config.url
    db_name = config.name

    carry = list(carry_cols)

    def fetch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {"star_id": [], "band": [], "t": [], "mag": [], "err": []}
            for c in carry:
                out[c] = []
            for _, row in pdf.iterrows():
                ident = row["ident"].get(db_name) if row["ident"] else None
                if ident is None:
                    continue
                for obs in transport(url_base, lc_url.format(ident=ident)):
                    out["star_id"].append(ident)
                    out["band"].append(obs.get("band", "V"))
                    out["t"].append(float(obs["t"]))
                    out["mag"].append(float(obs["mag"]))
                    err = obs.get("err")
                    out["err"].append(float(err) if err is not None else None)
                    for c in carry:
                        out[c].append(row[c])
            yield pd.DataFrame(out)

    carry_schema = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in stars.schema.fields
        if f.name in carry
    )
    return stars.select("ident", *carry).mapInPandas(
        fetch,
        schema="star_id string, band string, t double, mag double, err double"
        + carry_schema,
    )
