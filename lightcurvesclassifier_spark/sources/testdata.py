"""Loaders for the driver's synthetic parquet testdata (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under ``{sf_dir}/``.

The derived views are deterministic functions of those tables, so the
DuckDB oracle reproduces them with plain SQL:

- ``observations``: the ``events`` table as a photometric time series
  (user → star, ts → t in days since 2024-01-01, value → mag). The
  reference's analog is one light curve per star
  (lcc/entities/light_curve.py).
- ``stars``: the ``customer`` table as a star catalog with synthetic
  sky coordinates derived from the key (golden-angle spiral — evenly
  spreads points over the sphere, deterministic in both engines).
- ``detections``, ``periods``, ``calibrations`` and the planted text
  corpora, each described where it is defined.

Each view is one SQL text whose tables are ``{table}`` placeholders.
Spark runs it through ``spark.sql`` with each placeholder bound to that
table's parquet; the exported ``*_SQL`` constant is the same text with
bare table names, which the oracle runs. The text keeps to what Spark
4.1 and DuckDB 1.0 both read alike: ``%`` for fmod, ``CAST(… AS
STRING)``, ``CROSS JOIN (VALUES …)`` for a row series, ``e0`` literals
for DOUBLE. Three views keep a Spark-only form: ``observations``,
because its timestamp reader differs by Spark build, and
``contamination_eval`` and ``c4_corpus``, because the two engines spell
array slice, join and reverse differently and the oracle's connection
carries no macros; ``c4_corpus`` still shares every line but the first
with its oracle text. ``stars_more`` is Spark-only as well (DuckDB 1.0
has no ``map(k, v, …)``), built from the fragments the oracle mirrors.
"""

from __future__ import annotations

import os
import stat
import string

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Nano-epoch of 2024-01-01 UTC; events ts → float days since then.
# events.ts is parquet TIMESTAMP(NANOS). Depending on the Spark build it
# resolves either as long nanos (spark.sql.legacy.parquet.nanosAsLong,
# honored through 4.0) or as timestamp_ntz (4.1+, where the legacy conf
# no longer takes effect). DuckDB reads it as TIMESTAMP_NS. observations()
# branches on the loaded dtype so both reader behaviors yield the same t;
# the testdata generator emits whole-microsecond stamps (ns % 1000 == 0,
# asserted in tests), so the microsecond path is bit-exact vs epoch_ns.
_EPOCH_NS = 1_704_067_200_000_000_000
_NS_PER_DAY = 86_400_000_000_000.0
_EPOCH_US = 1_704_067_200_000_000
_US_PER_DAY = 86_400_000_000.0

# SQL fragment the DuckDB oracle uses for the same observations view.
OBS_SQL = (
    "SELECT user_id AS star_id, event_type AS band, "
    f"(epoch_ns(ts) - {_EPOCH_NS}) / {_NS_PER_DAY} AS t, "
    "value AS mag FROM events"
)


def _duckdb_sql(template: str) -> str:
    """A view's text with bare table names: what the DuckDB oracle runs,
    with one view per table of ``TABLES``."""
    return template.format(**{t: t for t in TABLES})


def _sql_view(spark: SparkSession, sf_dir: str, template: str) -> DataFrame:
    """``spark.sql`` of a view's text, each ``{table}`` bound to that
    table's parquet under ``sf_dir``."""
    tables = {t for _, t, _, _ in string.Formatter().parse(template) if t}
    return spark.sql(template, **{t: load_table(spark, sf_dir, t) for t in tables})


# Synthetic star catalog from `customer`: golden-angle RA, key-spread dec.
# `e0` suffixes make DOUBLE literals in both engines (each parses a bare
# decimal literal as DECIMAL); `%` on doubles is fmod in both.
_STAR_COLUMNS = (
    "c_custkey AS star_id, c_name AS name, "
    "c_custkey * 137.508e0 % 360.0e0 AS ra_deg, "
    "c_custkey * 61.803e0 % 180.0e0 - 90.0e0 AS dec_deg, "
    "c_mktsegment AS star_class, c_acctbal AS acctbal"
)
_STARS = f"SELECT {_STAR_COLUMNS} FROM {{customer}}"
STARS_SQL = _duckdb_sql(_STARS)


def stars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → synthetic star catalog with deterministic coordinates.

    ``ra_deg = (key * 137.508) mod 360`` (golden angle) and
    ``dec_deg = (key * 61.803) mod 180 - 90`` give a deterministic
    pseudo-uniform sky scatter (``STARS_SQL``).
    """
    return _sql_view(spark, sf_dir, _STARS)


# Deterministic `more` properties layered onto the star catalog, so the
# map-typed open-schema path (Star.more, lcc/entities/star.py:40-45) is
# exercisable with an exact SQL oracle. Some keys are deliberately missing
# for some stars (NULL map values) to cover the pass_not_found / ifnot
# default paths of ColorIndexDescr / PropertyDescr.
#   b_mag  : 10 + (key % 97)/10, missing when key % 11 == 0
#   v_mag  : 10 + (key % 89)/10, always present
#   period : 0.5 + (key % 40)/8, missing when key % 3 == 1
B_MAG_SQL = "CASE WHEN c_custkey % 11 <> 0 THEN 10.0e0 + (c_custkey % 97) / 10.0e0 END"
V_MAG_SQL = "10.0e0 + (c_custkey % 89) / 10.0e0"
PERIOD_SQL = "CASE WHEN c_custkey % 3 <> 1 THEN 0.5e0 + (c_custkey % 40) / 8.0e0 END"

# DuckDB 1.0 has no map(k1, v1, …), so this text is Spark's only; the
# oracle mirrors the map's contents with the three fragments above.
_STARS_MORE = (
    f"SELECT {_STAR_COLUMNS}, map('b_mag', {B_MAG_SQL}, 'v_mag', {V_MAG_SQL}, "
    f"'period', {PERIOD_SQL}) AS more FROM {{customer}}"
)


def stars_more(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star catalog + open-schema ``more`` map (MapType path of the engine)."""
    return _sql_view(spark, sf_dir, _STARS_MORE)


_PERIODS = (
    f"SELECT * FROM (SELECT c_custkey AS star_id, {PERIOD_SQL} AS period "
    "FROM {customer}) WHERE period IS NOT NULL"
)
PERIODS_SQL = _duckdb_sql(_PERIODS)


def periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small (star_id, period) dimension for phase folding — broadcast side."""
    return _sql_view(spark, sf_dir, _PERIODS)


# Synthetic detection catalog from `orders`: each order is a "detection" of
# its customer's star, jittered by a deterministic sub-arcsecond offset —
# some within the 0.5″ crossmatch EPS, some beyond (exercises the refine).
_DETECTIONS = (
    "SELECT o_orderkey AS det_id, o_custkey AS star_id, "
    "o_custkey * 137.508e0 % 360.0e0 + ((o_orderkey % 7) - 3) * 7e-5 AS ra_deg, "
    "o_custkey * 61.803e0 % 180.0e0 - 90.0e0 + ((o_orderkey % 5) - 2) * 4e-5 AS dec_deg "
    "FROM {orders}"
)
DETECTIONS_SQL = _duckdb_sql(_DETECTIONS)


def detections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → jittered re-detections of the customer stars. Used to
    exercise the crossmatch join."""
    return _sql_view(spark, sf_dir, _DETECTIONS)


# Dedup test corpus: documents ∪ exact copies (doc_id % 7) ∪ near-dup
# copies with ' zz' appended (doc_id % 10). Deterministic planted
# duplicates so dedup operators have a non-trivial, oracle-checkable
# answer (the raw documents table contains no duplicates). The `lang`
# variant carries the language stratum (the stratified cluster-safe split
# needs a stratum column on the corpus).
_DEDUP_CORPUS_LANG = (
    "SELECT doc_id, text, lang FROM {documents} "
    "UNION ALL SELECT doc_id + 2000000 AS doc_id, text, lang FROM {documents} WHERE doc_id % 7 = 0 "
    "UNION ALL SELECT doc_id + 1000000 AS doc_id, text || ' zz' AS text, lang "
    "FROM {documents} WHERE doc_id % 10 = 0"
)
_DEDUP_CORPUS = f"SELECT doc_id, text FROM ({_DEDUP_CORPUS_LANG})"
DEDUP_CORPUS_LANG_SQL = _duckdb_sql(_DEDUP_CORPUS_LANG)
DEDUP_CORPUS_SQL = _duckdb_sql(_DEDUP_CORPUS)


def dedup_corpus_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_corpus` carrying the ``lang`` stratum column."""
    return _sql_view(spark, sf_dir, _DEDUP_CORPUS_LANG)


def dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_view(spark, sf_dir, _DEDUP_CORPUS)


# Synthetic per-star calibration epochs (an as-of-join dimension): 14
# epochs every 50 days, phase-offset per star so some early events have
# no prior epoch (exercising the left-join null path); gain drifts
# deterministically per (star, epoch).
_CALIBRATIONS = (
    "SELECT s.star_id, "
    "CAST(k * 50.0e0 + (s.star_id % 7) AS DOUBLE) AS calib_t, "
    "round(1.0e0 + (s.star_id % 5) * 0.01e0 + k * 0.001e0, 6) AS gain "
    "FROM (SELECT DISTINCT user_id AS star_id FROM {events}) s "
    "CROSS JOIN (VALUES " + ", ".join(f"({k})" for k in range(14)) + ") AS t(k)"
)
CALIB_SQL = _duckdb_sql(_CALIBRATIONS)


def calibrations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_view(spark, sf_dir, _CALIBRATIONS)


# Planted-PII corpus: deterministic email / IPv4 / phone insertions so the
# redaction operator has a non-trivial, oracle-checkable answer (the raw
# documents contain no PII-shaped strings).
_PII_CORPUS = (
    "SELECT doc_id, CASE "
    "WHEN doc_id % 11 = 0 THEN text || ' contact user' || CAST(doc_id AS STRING) || '@example.com now' "
    "WHEN doc_id % 11 = 1 THEN text || ' server at 10.0.' || CAST(doc_id % 256 AS STRING) || '.17 port' "
    "WHEN doc_id % 11 = 2 THEN text || ' call +1 555-' || CAST(1000 + doc_id % 9000 AS STRING) || ' today' "
    "ELSE text END AS text FROM {documents}"
)
PII_CORPUS_SQL = _duckdb_sql(_PII_CORPUS)


def pii_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_view(spark, sf_dir, _PII_CORPUS)


# Planted-URL corpus: deterministic http(s) URL insertions so the
# domain-extraction operator has a non-trivial, oracle-checkable answer
# (the raw documents contain no URL-shaped strings). Domains repeat
# (doc_id % 5) so the per-domain rollup has real aggregation to do.
_URL_CORPUS = (
    "SELECT doc_id, CASE "
    "WHEN doc_id % 9 = 0 THEN text || ' see https://cdn' || CAST(doc_id % 5 AS STRING) || '.example.org/a' || CAST(doc_id AS STRING) || ' now' "
    "WHEN doc_id % 9 = 1 THEN text || ' via http://www.site' || CAST(doc_id % 5 AS STRING) || '.test/x and https://cdn' || CAST(doc_id % 5 AS STRING) || '.example.org/b' "
    "ELSE text END AS text FROM {documents}"
)
URL_CORPUS_SQL = _duckdb_sql(_URL_CORPUS)


def url_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_view(spark, sf_dir, _URL_CORPUS)


# Synthetic benchmark/eval set for decontamination: "contaminated" eval
# rows are verbatim 18-token slices of training docs (doc_id % 13 == 0,
# containment 1.0 by construction); "clean" rows are the same slices
# token-reversed (doc_id % 13 == 1) — their shingles (almost surely)
# appear nowhere in the corpus, so they fall under any threshold.
CONTAM_EVAL_SQL = (
    "SELECT doc_id + 5000000 AS doc_id, "
    "array_to_string((string_split(text, ' '))[4:21], ' ') AS text "
    "FROM documents WHERE doc_id % 13 = 0 "
    "UNION ALL SELECT doc_id + 6000000 AS doc_id, "
    "array_to_string(list_reverse((string_split(text, ' '))[4:21]), ' ') AS text "
    "FROM documents WHERE doc_id % 13 = 1"
)


def contamination_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAM_EVAL_SQL in Spark's spelling of array slice, join and
    reverse (DuckDB 1.0's differ)."""
    d = load_table(spark, sf_dir, "documents")
    tokens = "slice(split(text, ' '), 4, 18)"
    contaminated = d.filter("doc_id % 13 = 0").selectExpr(
        "doc_id + 5000000 AS doc_id", f"array_join({tokens}, ' ') AS text"
    )
    clean = d.filter("doc_id % 13 = 1").selectExpr(
        "doc_id + 6000000 AS doc_id", f"array_join(reverse({tokens}), ' ') AS text"
    )
    return contaminated.unionByName(clean)


# The schema Spark inferred for each local parquet file, keyed on its
# absolute path and stamped with its (st_mtime_ns, st_size): a repeat load
# reads with the known schema and runs no schema-inference job (0.15 s
# each on 4 cores), and a file rewritten in place gets a new stamp and is
# inferred again. A pure cache: one entry per path, and two loads racing
# on a miss both infer the same schema.
_SCHEMAS: dict[str, tuple[tuple[int, int], StructType]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # events.parquet stores TIMESTAMP(NANOS). On Spark ≤4.0 it is only
    # readable with nanosAsLong (raw longs); on 4.1+ that conf is a no-op
    # and the column resolves as timestamp_ntz. Set the conf defensively
    # (harmless where ignored) and pin the session timezone to UTC so the
    # ntz→timestamp cast in observations() is wall-clock-exact even for
    # sessions built outside session.get_spark (e.g. a driver harness).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
    except OSError:
        st = None  # a remote or missing path: Spark resolves or reports it
    if st is None or not stat.S_ISREG(st.st_mode):
        # a directory's stamp misses part files rewritten in place
        return spark.read.parquet(path)
    key, stamp = os.path.abspath(path), (st.st_mtime_ns, st.st_size)
    known = _SCHEMAS.get(key)
    if known is not None and known[0] == stamp:
        return spark.read.schema(known[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → OBSERVATIONS long format. t is float days since 2024-01-01,
    computed from integer nanoseconds so Spark and DuckDB agree bit-for-bit.

    Built from SQL expressions: the driver builds each in one Py4J round
    trip, where every Column-API node takes several.
    """
    e = load_table(spark, sf_dir, "events")
    ts_type = dict(e.dtypes)["ts"]
    if ts_type.startswith("timestamp"):
        # 4.1+ path: ts is timestamp/timestamp_ntz. unix_micros needs a
        # TIMESTAMP; the ntz→timestamp cast uses the session timezone,
        # which load_table pins to UTC, so this is exact (stamps are
        # whole microseconds — see _EPOCH_NS comment).
        t = f"(unix_micros(CAST(ts AS TIMESTAMP)) - {_EPOCH_US}L) / {_US_PER_DAY!r}D"
    else:
        # ≤4.0 path: nanosAsLong gave us raw int64 nanoseconds.
        t = f"(ts - {_EPOCH_NS}L) / {_NS_PER_DAY!r}D"
    return e.selectExpr(
        "user_id AS star_id",
        "event_type AS band",
        f"{t} AS t",
        "value AS mag",
        "CAST(NULL AS DOUBLE) AS err",
    )


# Ident-carrying variants for the full Star.__eq__ crossmatch: every
# star's ident is {"main": name}; every third detection carries an ident
# pointing at a DIFFERENT star (key+7) — matches the ident path without
# (usually) matching the coordinate path, so both join halves do work.
# Spark carries the ident as a map over the shared view; the oracle's
# texts give the map's one value as `ident_name`.
STARS_IDENT_SQL = (
    "SELECT *, printf('Customer#%09d', star_id) AS ident_name "
    f"FROM ({STARS_SQL})"
)
DETECTIONS_IDENT_SQL = (
    "SELECT *, CASE WHEN det_id % 3 = 0 "
    "THEN printf('Customer#%09d', (star_id + 7)) END AS ident_name "
    f"FROM ({DETECTIONS_SQL})"
)


def stars_ident(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        "SELECT *, map('main', name) AS ident FROM {stars}",
        stars=stars(spark, sf_dir),
    )


def detections_ident(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        "SELECT *, CASE WHEN det_id % 3 = 0 "
        "THEN map('main', printf('Customer#%09d', star_id + 7)) END AS ident "
        "FROM {detections}",
        detections=detections(spark, sf_dir),
    )


def curves(
    spark: SparkSession, sf_dir: str, per_band: bool = False,
    spread: bool = False,
) -> DataFrame:
    """Collected array view of ``observations`` for per-curve kernels.

    One row per star (or per star+band): time/mag arrays sorted by t.
    This is the scale-sensitive step — `collect_list` after an explicit
    in-partition sort; group sizes are bounded by per-star sample counts
    (thousands), not by table size, so it shards cleanly at 100 TB.

    ``spread=True`` is for consumers whose per-curve work is COMPUTE
    heavy but byte light (SAX words, variogram kernels, sliding
    comparatives): AQE coalesces the groupBy's shuffle read by BYTES
    (advisoryPartitionSizeInBytes), so a small-scale curves table lands
    in one or two partitions and the downstream Python/interpreted-fold
    stage runs nearly single-threaded (r10 measured: the comparative
    family spent its whole budget on 1-2-task stages).  The fix pins
    the SAME shuffle the groupBy already needs to defaultParallelism
    via a keyed repartition — no extra exchange (the aggregate reuses
    the clustering), and the pin is applied only when the upstream scan
    has fewer partitions than the cluster (the repo's expansion-aware
    spread idiom): at real scale the scan is wide and AQE's byte-based
    sizing is the right call, so this is a no-op there.
    """
    obs = observations(spark, sf_dir)
    keys = ["star_id", "band"] if per_band else ["star_id"]
    if spread and not obs.isStreaming:
        sc = spark.sparkContext
        if obs.rdd.getNumPartitions() < sc.defaultParallelism:
            obs = obs.repartition(
                sc.defaultParallelism, *[F.col(k) for k in keys]
            )
    pairs = F.array_sort(
        F.collect_list(F.struct(F.col("t"), F.col("mag")))
    )
    return (
        obs.groupBy(*keys)
        .agg(pairs.alias("pairs"))
        .select(
            *keys,
            F.col("pairs.t").alias("time"),
            F.col("pairs.mag").alias("mag"),
        )
    )


# Messy-text corpus for the normalization operator: deterministic noise
# classes planted per doc_id residue — typographic quotes/dashes, NBSP,
# shouting caps, CR/LF and tab debris, doubled spaces — so
# text.normalize_text has real work, identically on both engines.
_NOISY_CORPUS = (
    "SELECT doc_id, CASE "
    "WHEN doc_id % 8 = 0 THEN '  ' || chr(9) || '“' || text || '”' "
    "|| chr(160) || '— fin ' "
    "WHEN doc_id % 8 = 1 THEN upper(text) || chr(13) || chr(10) "
    "WHEN doc_id % 8 = 2 THEN replace(text, ' ', '  ') "
    "WHEN doc_id % 8 = 3 THEN '‘' || text || '’' || chr(9) || chr(9) "
    "ELSE text END AS text FROM {documents}"
)
NOISY_CORPUS_SQL = _duckdb_sql(_NOISY_CORPUS)


def noisy_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_view(spark, sf_dir, _NOISY_CORPUS)


# Multi-line corpus with planted cross-document boilerplate: every doc
# becomes 3 newline-separated lines — a unique head (the original
# text), a middle that is shared boilerplate for doc_id % 3 == 0, and
# a tail that is shared boilerplate for doc_id % 2 == 0 — so a C4-style
# line-level dedup has real work with an exact oracle.
BOILER_A = "subscribe to our newsletter for daily updates"
BOILER_B = "all rights reserved contact us for licensing"
_LINES_CORPUS = (
    "SELECT doc_id, text || chr(10) || "
    f"CASE WHEN doc_id % 3 = 0 THEN '{BOILER_A}' "
    "ELSE 'middle section ' || CAST(doc_id AS STRING) END || chr(10) || "
    f"CASE WHEN doc_id % 2 = 0 THEN '{BOILER_B}' "
    "ELSE 'closing note ' || CAST(doc_id AS STRING) END AS text "
    "FROM {documents}"
)
LINES_CORPUS_SQL = _duckdb_sql(_LINES_CORPUS)


def lines_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_view(spark, sf_dir, _LINES_CORPUS)


# Web-page-shaped corpus for the C4 cleaning rules (Raffel et al. 2020
# §2.2): every doc becomes 4 newline-separated "lines" with planted
# rule triggers — a head line whose terminal punctuation varies by
# doc_id, a short "click here" line (under the 5-word minimum) for
# doc_id % 5 == 0, a javascript boilerplate line for doc_id % 7 == 0,
# and a closing line that plants the doc-level poisons ("lorem ipsum"
# for % 11 == 0, a '{' for % 13 == 0) — so every C4 rule fires on a
# known doc subset with an exact oracle. The head is the first 8 tokens
# of the text, whose spelling differs by engine; the rest is one text.
_C4_REST = (
    "CASE WHEN doc_id % 4 = 3 THEN '' WHEN doc_id % 4 = 2 THEN '!' "
    "ELSE '.' END || chr(10) || "
    "CASE WHEN doc_id % 5 = 0 THEN 'click here' "
    "ELSE 'the quick survey of section ' || CAST(doc_id AS STRING) "
    "|| ' is complete.' END || chr(10) || "
    "CASE WHEN doc_id % 7 = 0 "
    "THEN 'please enable javascript to continue reading this page.' "
    "ELSE 'archived notes for record ' || CAST(doc_id AS STRING) "
    "|| ' follow below.' END || chr(10) || "
    "CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet.' "
    "WHEN doc_id % 13 = 0 THEN 'config = { verbose } done.' "
    "ELSE 'standard closing statement for document ' "
    "|| CAST(doc_id AS STRING) || '.' END AS text"
)
C4_CORPUS_SQL = (
    "SELECT doc_id, array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') || "
    f"{_C4_REST} FROM documents"
)


def c4_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"array_join(slice(split(text, ' '), 1, 8), ' ') || {_C4_REST}"
    )
