"""Table profiling — the per-column data-quality sweep (count, nulls,
range, mean, quartiles) every ingestion pipeline runs before training.

One aggregation pass computes every statistic for every column (a
single scan, single reduce), then the wide row is exploded into the
long (column, stats) form. Quantiles here are EXACT (sort-based
``percentile``) so the DuckDB ``quantile_cont`` oracle can match
bit-for-bit; at 100 TB swap ``exact=False`` to use
``percentile_approx`` (t-digest sketch, mergeable, single pass,
bounded memory) — same schema, approximate values, no oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

QUARTILES = [0.25, 0.5, 0.75]

# Above this input size the exact sort-based percentile (whose aggregate
# buffer holds every value of the group behind a single-partition
# exchange) stops being a sensible trade; auto-resolving callers switch
# to the mergeable t-digest sketch. Small inputs stay exact so the
# DuckDB oracles match bit-for-bit.
EXACT_PERCENTILE_MAX_ROWS = 10_000_000


def _auto_exact(df: DataFrame, exact: bool | None) -> bool:
    """``None`` → auto: exact below EXACT_PERCENTILE_MAX_ROWS input
    rows (the oracle-matched path), t-digest above (the 100 TB
    default). The deciding ``count()`` runs a real Spark job: cheap on
    a bare parquet scan (empty projection, row counts from the
    vectorized reader's batch metadata) but it EXECUTES the upstream
    plan when ``df`` is derived — in a hot/timed path, pass ``exact``
    explicitly instead of relying on auto."""
    if exact is not None:
        return bool(exact)
    return df.count() <= EXACT_PERCENTILE_MAX_ROWS


def numeric_profile(
    df: DataFrame, cols: list[str], exact: bool | None = None
) -> DataFrame:
    """Long-format profile: one row per column in ``cols``. ``exact``:
    True = sort-based percentiles (bit-matches the DuckDB oracle),
    False = t-digest sketch (mergeable, bounded memory), None = auto
    by input row count (:func:`_auto_exact`) so the 100 TB path is the
    default without breaking small-SF oracle parity."""
    exact = _auto_exact(df, exact)
    # Order-SENSITIVE float sums (the means) stay on the scan-ordered
    # input: a repartition reorders the summation and a 600k-value
    # double sum moves by ~1e-11 relative — enough to flip round(·, 6)
    # across the half boundary against the oracle's sequential order
    # (observed on l_discount). Everything else in this aggregate is
    # order-independent.
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(col)).alias(f"{c}__n_null"),
            F.round(F.min(col), 6).alias(f"{c}__min"),
            F.round(F.max(col), 6).alias(f"{c}__max"),
            F.round(F.sum(col) / F.count(col), 6).alias(f"{c}__mean"),
        ]
        if not exact:
            aggs.append(
                F.percentile_approx(col, F.lit(QUARTILES)).alias(f"{c}__q")
            )
    wide = df.agg(*aggs)
    if exact:
        # Exact percentiles are order-INDEPENDENT (a sort), and their
        # per-row buffer inserts were 80% of the profile's cost on a
        # single-row-group parquet that scans as ONE partition — spread
        # that aggregate across cores (measured 11→4 s on the 600k-row
        # lineitem profile; a global aggregate has one group, so
        # round-robin partials duplicate nothing). No-op when the scan
        # already has ≥ parallelism partitions; the 100 TB path is the
        # t-digest branch above, which never takes this hop.
        sc = df.sparkSession.sparkContext
        spread = df.select(*cols)
        if spread.rdd.getNumPartitions() < sc.defaultParallelism:
            # keyed, DETERMINISTIC spread instead of round-robin
            # repartition(n) (r10): every keyless repartition first pays
            # a local sort of its input (sortBeforeRepartition, needed so
            # task retries reproduce the row→partition map) — ~0.4 s of
            # the profile at sf0.1 for rows whose ORDER the exact
            # percentile never reads. A synthetic key derived from
            # monotonically_increasing_id is deterministic under retry
            # (split index + row offset, not rand), and 64× more distinct
            # values than partitions keeps the hash spread even.
            p = sc.defaultParallelism
            spread = (
                spread.withColumn(
                    "__rk",
                    F.pmod(
                        F.xxhash64(F.monotonically_increasing_id()),
                        F.lit(p * 64),
                    ),
                )
                .repartition(p, "__rk")
                .drop("__rk")
            )
        q_aggs = [
            F.percentile(F.col(c), F.lit(QUARTILES)).alias(f"{c}__q")
            for c in cols
        ]
        wide = wide.crossJoin(spread.agg(*q_aggs))
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__n").alias("n"),
                F.col(f"{c}__n_null").alias("n_null"),
                F.col(f"{c}__min").alias("min_v"),
                F.col(f"{c}__max").alias("max_v"),
                F.col(f"{c}__mean").alias("mean_v"),
                F.round(F.col(f"{c}__q")[0], 6).alias("p25"),
                F.round(F.col(f"{c}__q")[1], 6).alias("p50"),
                F.round(F.col(f"{c}__q")[2], 6).alias("p75"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(rows).alias("r")).select("r.*")


def numeric_profile_sql(table_sql: str, cols: list[str]) -> str:
    """DuckDB mirror of :func:`numeric_profile` (exact quantiles)."""
    parts = [
        f"""
SELECT '{c}' AS col_name,
       count(*) AS n,
       count(*) - count({c}) AS n_null,
       round(min({c}), 6) AS min_v,
       round(max({c}), 6) AS max_v,
       round(sum({c}) / count({c}), 6) AS mean_v,
       round(quantile_cont({c}, 0.25e0), 6) AS p25,
       round(quantile_cont({c}, 0.5e0), 6) AS p50,
       round(quantile_cont({c}, 0.75e0), 6) AS p75
FROM t"""
        for c in cols
    ]
    return f"WITH t AS ({table_sql})" + " UNION ALL ".join(parts)


def embedding_profile(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension embedding QC: (dim, n, mean, std_pop, min, max) —
    the drift/collapse check a training pipeline runs over every
    embedding batch (a dead dimension or a runaway scale shows up here
    before it poisons an ANN index or a contrastive loss).

    ``posexplode`` widens the scan by d (=64 here) but feeds straight
    into a partial hash aggregate keyed by the d dimension indices, so
    the shuffle carries ≤ d sum-tuples per map partition at any corpus
    size — the same mergeable-sketch dataflow as the HLL profile.
    Values are cast float→double (exact) before the power sums so both
    engines accumulate in double.
    """
    v = F.col("val").cast("double")
    agg = (
        df.select(F.posexplode(vec_col).alias("dim", "val"))
        .groupBy("dim")
        .agg(
            F.count("val").alias("n"),
            F.sum(v).alias("_s1"),
            F.sum(v * v).alias("_s2"),
            F.min(v).alias("_min"),
            F.max(v).alias("_max"),
        )
    )
    n = F.col("n")
    mean = F.col("_s1") / n
    var = (F.col("_s2") - F.col("_s1") * F.col("_s1") / n) / n
    return agg.select(
        "dim",
        "n",
        F.round(mean, 6).alias("mean_v"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std_v"),
        F.round("_min", 6).alias("min_v"),
        F.round("_max", 6).alias("max_v"),
    )


def embedding_profile_sql(table: str = "embeddings") -> str:
    """DuckDB mirror of :func:`embedding_profile` (0-based dim, same
    power-sum derivation order)."""
    return f"""
WITH long_v AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM {table}
)
SELECT CAST(dim AS INTEGER) AS dim,
       count(v) AS n,
       round(sum(v) / count(v), 6) AS mean_v,
       round(sqrt(greatest((sum(v * v) - sum(v) * sum(v) / count(v)) / count(v), 0.0e0)), 6)
         AS std_v,
       round(min(v), 6) AS min_v,
       round(max(v), 6) AS max_v
FROM long_v GROUP BY dim
"""


# The dq_audit check inventory — ONE list drives both the Spark plan
# (predicates parsed with F.expr) and the DuckDB oracle (the same
# strings spliced into generated SQL), so the two sides cannot drift.
# referential: (check_name, child_table, child_key, parent_table,
# parent_key); predicate: (check_name, table, SQL-syntax bad-predicate).
DQ_REFERENTIAL_CHECKS: list[tuple[str, str, str, str, str]] = [
    ("orders_orphan_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem_orphan_orderkey", "lineitem", "l_orderkey", "orders",
     "o_orderkey"),
]
DQ_PREDICATE_CHECKS: list[tuple[str, str, str]] = [
    ("customer_negative_acctbal", "customer", "c_acctbal < 0"),
    ("lineitem_discount_gt_6pct", "lineitem", "l_discount > 0.06"),
    ("lineitem_qty_range", "lineitem", "l_quantity < 1 OR l_quantity > 50"),
    ("events_null_value", "events", "value IS NULL"),
]


def dq_audit(
    tables: dict[str, DataFrame],
    referential: list[tuple[str, str, str, str, str]] | None = None,
    predicate: list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """Data-quality audit from the shared check inventory: each check is
    a single one-row aggregate, unioned. ``tables`` maps the table names
    the check lists mention to DataFrames."""
    referential = DQ_REFERENTIAL_CHECKS if referential is None else referential
    predicate = DQ_PREDICATE_CHECKS if predicate is None else predicate
    # ONE scan per audited table (r10): the audit previously ran one
    # aggregate PER CHECK — the same fact table scanned once per
    # predicate plus once per referential check (lineitem: 3 scans).
    # All of a table's checks now ride a single aggregate: referential
    # checks chain left joins against the DISTINCT parent keys (each
    # join key is distinct, so child cardinality — and with it every
    # other check's count — is untouched), predicate sums are
    # conditional aggregates over the same rows, and stack() unpivots
    # the one wide row back into the per-check rows. Values are
    # byte-identical to the per-check aggregates (same sums over the
    # same rows); the DuckDB mirror is unchanged. Scans drop from
    # |checks| to |audited tables|.
    by_table: dict[str, dict] = {}
    for name, child, ck, parent, pk in referential:
        by_table.setdefault(child, {"ref": [], "pred": []})["ref"].append(
            (name, ck, parent, pk)
        )
    for name, tab, pred in predicate:
        by_table.setdefault(tab, {"ref": [], "pred": []})["pred"].append(
            (name, pred)
        )
    branches = []
    for tab, checks in by_table.items():
        df = tables[tab]
        names, sums = [], []
        for i, (name, ck, parent, pk) in enumerate(checks["ref"]):
            pk_col = f"__pk{i}"
            pkdf = tables[parent].select(
                F.col(pk).alias(pk_col)
            ).distinct()
            df = df.join(pkdf, df[ck] == F.col(pk_col), "left")
            names.append(name)
            sums.append(
                F.sum(
                    F.when(F.col(pk_col).isNull(), 1).otherwise(0)
                ).cast("long").alias(f"__bad{len(names) - 1}")
            )
        for name, pred in checks["pred"]:
            names.append(name)
            sums.append(
                F.sum(
                    F.when(F.coalesce(F.expr(pred), F.lit(True)), 1)
                    .otherwise(0)
                ).cast("long").alias(f"__bad{len(names) - 1}")
            )
        wide = df.agg(F.count(F.lit(1)).alias("n_rows"), *sums)
        quoted = [n.replace("'", "''") for n in names]
        stack_args = ", ".join(
            f"'{q}', __bad{i}" for i, q in enumerate(quoted)
        )
        branches.append(
            wide.selectExpr(
                f"stack({len(names)}, {stack_args})"
                " AS (check_name, n_bad)",
                "n_rows",
            ).select(
                "check_name",
                "n_rows",
                "n_bad",
                F.round(
                    F.col("n_bad") / F.col("n_rows"), 6
                ).alias("bad_rate"),
            )
        )
    out = branches[0]
    for c in branches[1:]:
        out = out.unionByName(c)
    return out


def dq_audit_sql(
    referential: list[tuple[str, str, str, str, str]] | None = None,
    predicate: list[tuple[str, str, str]] | None = None,
) -> str:
    """DuckDB mirror of :func:`dq_audit`, generated from the SAME check
    lists (same names, same predicate strings, same NULL-counts-as-bad
    coalesce rule)."""
    referential = DQ_REFERENTIAL_CHECKS if referential is None else referential
    predicate = DQ_PREDICATE_CHECKS if predicate is None else predicate
    parts = [
        f"""
  SELECT '{name}' AS check_name,
         count(*) AS n_rows,
         CAST(sum(CASE WHEN p.__pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bad
  FROM {child} c LEFT JOIN
       (SELECT DISTINCT {pk} AS __pk FROM {parent}) p
    ON c.{ck} = p.__pk"""
        for name, child, ck, parent, pk in referential
    ] + [
        f"""
  SELECT '{name}', count(*),
         CAST(sum(CASE WHEN coalesce({pred}, TRUE)
                  THEN 1 ELSE 0 END) AS BIGINT)
  FROM {tab}"""
        for name, tab, pred in predicate
    ]
    union = "\n  UNION ALL".join(parts)
    return f"""
WITH allc AS ({union}
)
SELECT check_name, n_rows, n_bad,
       round(CAST(n_bad AS DOUBLE) / n_rows, 6) AS bad_rate
FROM allc
"""


def string_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-string-column profile: (col_name, n, n_null, min_len,
    max_len, distinct_est) — the ingestion sweep for text-typed columns,
    with the distinct count coming from the md5-HLL sketch
    (operators/sketch.py) instead of an exact count(DISTINCT) whose
    shuffle carries every value.

    One pass: each row emits (col_name, value) pairs from a single
    inline array (no per-column union branches — Spark does not CSE
    across unions), then per-(col, bucket) register max + per-col
    length/null stats share the same shuffle key family.  Reduce input
    is ≤ |cols|·(256+1) rows per map partition at any table size."""
    from .sketch import _hll_parts

    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("col_name"),
                    F.col(c).cast("string").alias("val"),
                )
                for c in cols
            ]
        )
    ).alias("p")
    long_df = df.select(pairs).select("p.col_name", "p.val")
    stats = long_df.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count("val")).alias("n_null"),
        F.min(F.length("val")).cast("long").alias("min_len"),
        F.max(F.length("val")).cast("long").alias("max_len"),
    )
    bucket, rank = _hll_parts(F.col("val"))
    regs = (
        long_df.filter(F.col("val").isNotNull())
        .select("col_name", bucket.alias("bucket"), rank.alias("rank"))
        .groupBy("col_name", "bucket")
        .agg(F.max("rank").alias("max_rank"))
    )
    # per-column estimate via the sketch family's ONE estimator
    # definition (constants, linear-counting branch, rounding)
    from .sketch import _hll_est_cols

    agg = regs.groupBy("col_name").agg(
        F.count("*").alias("n_present"),
        F.sum(F.pow(F.lit(2.0), -F.col("max_rank"))).alias("z_present"),
    )
    ests = agg.select("col_name", *_hll_est_cols()).select(
        "col_name", "distinct_est"
    )
    return stats.join(ests, "col_name", "left").select(
        "col_name", "n", "n_null", "min_len", "max_len",
        F.coalesce("distinct_est", F.lit(0.0)).alias("distinct_est"),
    )


def string_profile_sql(table_sql: str, cols: list[str]) -> str:
    """DuckDB mirror of :func:`string_profile` — register scheme and
    estimator come from the sketch family's single-sourced fragments
    (``_hll_coords_sql`` / ``_hll_estimate_sql``), so this consumer
    cannot drift from the hll_* operators."""
    from .sketch import _hll_coords_sql, _hll_estimate_sql

    unions = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, CAST({c} AS VARCHAR) AS val FROM t"
        for c in cols
    )
    hashed_sql = (
        "SELECT col_name, md5(val) AS h FROM long_t WHERE val IS NOT NULL"
    )
    est_sql = _hll_estimate_sql(
        _hll_coords_sql(hashed_sql, "col_name"), "col_name"
    )
    return f"""
WITH t AS ({table_sql}),
long_t AS ({unions}),
stats AS (
  SELECT col_name, count(*) AS n,
         count(*) - count(val) AS n_null,
         min(length(val)) AS min_len,
         max(length(val)) AS max_len
  FROM long_t GROUP BY col_name
),
ests AS (
  SELECT col_name, distinct_est FROM ({est_sql})
)
SELECT s.col_name, s.n, s.n_null, s.min_len, s.max_len,
       coalesce(e.distinct_est, 0.0) AS distinct_est
FROM stats s LEFT JOIN ests e USING (col_name)
"""
