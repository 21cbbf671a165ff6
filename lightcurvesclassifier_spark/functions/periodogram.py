"""Lomb–Scargle periodogram — period search over unevenly sampled
light curves (Lomb 1976; Scargle 1982; the standard astronomy period
finder, and the natural upstream stage of the reference's phase folding:
``lcc/utils/stars_processing.py`` folds by a *known* period, this
operator finds one).

Spark-first shape: the classic per-frequency sums are expanded
algebraically so the whole periodogram is ONE declarative aggregation —
no per-star Python, no iteration:

    observations × broadcast(frequency grid)          (narrow, no shuffle)
      → per-(star, freq) trig sums                    (single shuffle)
      → power from the sums                           (projection)

With y = mag − mean(mag), the Lomb power at angular frequency ω is

    P(ω) = ½ [ (Σy cos ω(t−τ))² / Σcos² ω(t−τ)
             + (Σy sin ω(t−τ))² / Σsin² ω(t−τ) ] / σ²

with τ = atan2(Σsin 2ωt, Σcos 2ωt) / 2ω.  Every term telescopes onto
nine plain sums (n, Σm, Σm², Σcos ωt, Σsin ωt, Σm cos ωt, Σm sin ωt,
Σcos 2ωt, Σsin 2ωt) via the angle-addition identities, so the mean
never needs a separate pass and whole-stage codegen keeps the entire
kernel JVM-side.  Scale: work is |obs| × |grid| rows through one
exchange keyed by (star, freq) — map-side partial aggregation shrinks
the shuffle to |stars| × |grid| sum-tuples, and the grid is a broadcast
literal. This is the plan a 1000-executor run wants.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

TWO_PI = 2.0 * math.pi


def _spread_by_key(obs: DataFrame, id_col: str) -> DataFrame:
    """Expansion-aware input spread: the obs × grid crossJoin multiplies
    the row count by |grid|, so a scan that arrives in fewer partitions
    than the cluster's parallelism leaves every other core idle for the
    whole hot stage (locally, a 2 MB events.parquet reads as ONE
    partition and the entire |obs|×|grid| trig/bin kernel ran
    single-threaded — measured 4.7→1.9 s for PDM and 5.6→1.7 s for
    Lomb–Scargle at sf0.1). Repartition UP **by the star key**: disjoint
    stars per task keep the map-side partial aggregate complete, so the
    shuffle stays |stars|×|grid| sum-tuples; a round-robin repartition
    instead duplicates every (star, freq) group's buffers in all tasks
    (measured 8.6 s — WORSE than one partition). At real scale the scan
    already has ≥ parallelism partitions and this is a no-op — the guard
    never shuffles a big input.

    Ordering note: when the guard FIRES on a multi-partition input
    (2 ≤ partitions < parallelism) a star's rows can arrive at their
    new partition in nondeterministic shuffle-fetch order, so the
    downstream per-star double sums (trig sums, mag/mag² sums)
    accumulate in a different order than a single-partition scan — the
    same reordering the aggregate's own exchange already permits.  All
    comparison points downstream round to 6 decimals before any
    engine-vs-oracle check, and the few-partition parity case is pinned
    in tests (test_periodogram: deliberately 2-partition input)."""
    sc = obs.sparkSession.sparkContext
    p = sc.defaultParallelism
    if obs.rdd.getNumPartitions() < p:
        return obs.repartition(p, F.col(id_col))
    return obs


def frequency_grid(f_min: float = 0.05, f_max: float = 3.2, n: int = 64) -> list[float]:
    """Evenly spaced frequency grid in cycles per unit time."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if n == 1:
        return [f_min]
    step = (f_max - f_min) / (n - 1)
    return [f_min + step * k for k in range(n)]


def lomb_scargle(
    spark: SparkSession,
    obs: DataFrame,
    freqs: list[float] | None = None,
    t_col: str = "t",
    mag_col: str = "mag",
    id_col: str = "star_id",
) -> DataFrame:
    """Variance-normalized Lomb periodogram: one row per (star, freq)."""
    freqs = freqs if freqs is not None else frequency_grid()
    obs = _spread_by_key(obs, id_col)
    grid = spark.createDataFrame([(f,) for f in freqs], f"freq double")
    t, m = F.col(t_col), F.col(mag_col)
    w = TWO_PI * F.col("freq")
    wt = w * t
    rows = obs.select(id_col, t_col, mag_col).crossJoin(F.broadcast(grid))
    # Double-angle identities (c2wt = 2c²−1, s2wt = 2sc) halve the trig
    # calls in the expanded |obs|×|grid| projection — the whole query's
    # hot loop — from 4 to 2 per row. The DuckDB mirror uses the SAME
    # expressions so the engines stay bit-identical.
    cwt, swt = F.cos(wt), F.sin(wt)
    # The frequency-INDEPENDENT sums (n, Σm, Σm²) live in a separate
    # per-star aggregate over the raw observations and join back on the
    # star key: computing them inside the (star, freq) aggregate would
    # redo them once per grid frequency and widen the 9-buffer hash
    # update on the |obs|×|grid| expanded side to no purpose (measured
    # ~11% at sf0.1; the join side is |stars| rows — AQE broadcasts it).
    sums_f = (
        rows.select(
            id_col,
            "freq",
            m.alias("m"),
            cwt.alias("cwt"),
            swt.alias("swt"),
        )
        .select(
            id_col,
            "freq",
            "m",
            "cwt",
            "swt",
            (2.0 * F.col("cwt") * F.col("cwt") - 1.0).alias("c2wt"),
            (2.0 * F.col("swt") * F.col("cwt")).alias("s2wt"),
        )
        .groupBy(id_col, "freq")
        .agg(
            F.sum("cwt").alias("sc"),
            F.sum("swt").alias("ss"),
            F.sum(F.col("m") * F.col("cwt")).alias("smc"),
            F.sum(F.col("m") * F.col("swt")).alias("sms"),
            F.sum("c2wt").alias("c2"),
            F.sum("s2wt").alias("s2"),
        )
    )
    sums_s = obs.groupBy(id_col).agg(
        F.count("*").alias("n"),
        F.sum(m).alias("s1"),
        F.sum(m * m).alias("s2m"),
    )
    sums = sums_f.join(sums_s, id_col)
    n = F.col("n")
    mean = F.col("s1") / n
    yc = F.col("smc") - mean * F.col("sc")
    ys = F.col("sms") - mean * F.col("ss")
    tau = F.atan2(F.col("s2"), F.col("c2")) / (2.0 * w)
    ct, st = F.cos(w * tau), F.sin(w * tau)
    ct2, st2 = F.cos(2.0 * w * tau), F.sin(2.0 * w * tau)
    cc = ct * yc + st * ys
    ss_ = ct * ys - st * yc
    scc = n / 2.0 + (ct2 * F.col("c2") + st2 * F.col("s2")) / 2.0
    sss = n / 2.0 - (ct2 * F.col("c2") + st2 * F.col("s2")) / 2.0
    var = (F.col("s2m") - F.col("s1") * F.col("s1") / n) / n
    power = 0.5 * (cc * cc / scc + ss_ * ss_ / sss) / var
    return sums.select(
        id_col, "freq", F.round(power, 6).alias("power")
    )


def best_period(
    spark: SparkSession,
    obs: DataFrame,
    freqs: list[float] | None = None,
    t_col: str = "t",
    mag_col: str = "mag",
    id_col: str = "star_id",
) -> DataFrame:
    """Argmax of the periodogram per star (rounded-power then lower
    frequency as the engine-portable tie-break)."""
    pg = lomb_scargle(spark, obs, freqs, t_col, mag_col, id_col)
    w = Window.partitionBy(id_col).orderBy(
        F.col("power").desc(), F.col("freq").asc()
    )
    return (
        pg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            id_col,
            F.col("freq").alias("best_freq"),
            F.round(1.0 / F.col("freq"), 6).alias("best_period"),
            "power",
        )
    )


PDM_BINS = 10


def pdm_theta(
    spark: SparkSession,
    obs: DataFrame,
    freqs: list[float] | None = None,
    n_bins: int = PDM_BINS,
    t_col: str = "t",
    mag_col: str = "mag",
    id_col: str = "star_id",
) -> DataFrame:
    """Phase-dispersion-minimization statistic (Stellingwerf 1978, ApJ
    224, 953): one row per (star, freq) with Θ = pooled within-phase-bin
    variance / total variance. A true period concentrates magnitudes
    inside phase bins, so Θ dips well below 1 there — the classic
    complement to Lomb–Scargle for non-sinusoidal folds (eclipsing
    binaries), and a second upstream source for the reference's phase
    folding (lcc/utils/stars_processing.py folds by a known period).

    Spark-first shape, same skeleton as :func:`lomb_scargle`:

        observations × broadcast(frequency grid)      (narrow, no shuffle)
          → ONE (2·n_bins + 1)-buffer aggregate keyed (star, freq):
            per-bin (count, Σ) pairs plus a single global Σm² —
            per-bin Σm² buffers are unnecessary because pooled
            ss_within = Σm² − Σ_b s1_b²/n_b, and the per-star TOTALS
            are recoverable from the same buffers (n = Σn_b,
            Σm = Σs1_b), so the former totals aggregate + join is gone
            entirely (r5: 30 buffers + join → 21 buffers, no join —
            measured 3.98 → 3.45 s at sf0.1; the naive
            (star, freq, pbin) key whose n_bins× group count dominates
            the partial hash aggregate measured 4.2 s)
          → Θ folded bin-by-bin in a projection

    Phase = t·f − floor(t·f) is pure double arithmetic on values both
    engines hold bit-identically (t from integer micros, f from repr'd
    literals), so bin assignment is deterministic across engines; the
    fixed bin-0..bin-(n-1) fold order (mirrored with the same CASE
    chain in :func:`pdm_theta_sql`) makes every pooled sum
    deterministic too.
    """
    freqs = freqs if freqs is not None else frequency_grid()
    obs = _spread_by_key(obs, id_col)
    grid = spark.createDataFrame([(f,) for f in freqs], "freq double")
    rows = _pdm_binned_rows(
        obs.crossJoin(F.broadcast(grid)), n_bins, t_col, mag_col, id_col
    )
    return _pdm_theta_from_rows(rows, n_bins, id_col)


def _pdm_binned_rows(
    expanded: DataFrame, n_bins: int, t_col: str, mag_col: str, id_col: str
) -> DataFrame:
    """(id, freq, pbin, m) from an already (obs × freq)-expanded frame."""
    t, m = F.col(t_col), F.col(mag_col)
    tf = t * F.col("freq")
    phase = tf - F.floor(tf)
    bin_ = F.least(F.floor(phase * n_bins), F.lit(n_bins - 1)).cast("int")
    return expanded.select(id_col, "freq", bin_.alias("pbin"), m.alias("m"))


def _pdm_theta_from_rows(
    rows: DataFrame, n_bins: int, id_col: str
) -> DataFrame:
    """The shared PDM aggregate + Θ fold (see :func:`pdm_theta`)."""
    aggs = [F.sum(F.col("m") * F.col("m")).alias("_s2t")]
    for b in range(n_bins):
        mb = F.when(F.col("pbin") == b, F.col("m"))
        aggs += [F.count(mb).alias(f"_n{b}"), F.sum(mb).alias(f"_s1_{b}")]
    per_freq = rows.groupBy(id_col, "freq").agg(*aggs)
    neg_within = None
    dof = None
    s1t = None
    nt = None
    for b in range(n_bins):
        nb_ = F.col(f"_n{b}")
        s1b = F.col(f"_s1_{b}")
        term = F.when(nb_ > 0, -(s1b * s1b / nb_)).otherwise(F.lit(0.0))
        d = F.when(nb_ > 0, nb_ - 1).otherwise(F.lit(0))
        s1c = F.coalesce(s1b, F.lit(0.0))  # empty bin sums are NULL
        neg_within = term if neg_within is None else neg_within + term
        dof = d if dof is None else dof + d
        s1t = s1c if s1t is None else s1t + s1c
        nt = nb_ if nt is None else nt + nb_
    ss_within = F.col("_s2t") + neg_within
    ss_tot = F.col("_s2t") - F.try_divide(s1t * s1t, nt)
    # try_divide: a star with at most one observation per phase bin
    # (dof = 0), a single observation (nt = 1), constant magnitudes
    # (ss_tot = 0) or only NULL magnitudes (nt = 0) gets theta NULL, as
    # DuckDB's x / 0 does in the mirror, instead of an ANSI
    # DIVIDE_BY_ZERO that fails the job
    theta = F.try_divide(
        F.try_divide(ss_within, dof), F.try_divide(ss_tot, nt - 1)
    )
    return per_freq.select(id_col, "freq", F.round(theta, 6).alias("theta"))


def pdm_best_period(
    spark: SparkSession,
    obs: DataFrame,
    freqs: list[float] | None = None,
    n_bins: int = PDM_BINS,
    t_col: str = "t",
    mag_col: str = "mag",
    id_col: str = "star_id",
) -> DataFrame:
    """Argmin of Θ per star ((rounded Θ, lower frequency) — the same
    engine-portable tie-break discipline as :func:`best_period`)."""
    th = pdm_theta(spark, obs, freqs, n_bins, t_col, mag_col, id_col)
    w = Window.partitionBy(id_col).orderBy(
        # NULLS LAST to match DuckDB's ASC default: a dof=0 star has
        # theta NULL in BOTH engines, and Spark's NULLS-FIRST default
        # would crown that NULL row rk=1 while DuckDB ranks it last
        F.col("theta").asc_nulls_last(), F.col("freq").asc()
    )
    return (
        th.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            id_col,
            F.col("freq").alias("best_freq"),
            F.round(1.0 / F.col("freq"), 6).alias("best_period"),
            "theta",
        )
    )


def pdm_best_period_two_stage(
    spark: SparkSession,
    obs: DataFrame,
    freqs: list[float] | None = None,
    n_bins: int = PDM_BINS,
    coarse_step: int = 4,
    top_m: int = 3,
    half_width: int = 4,
    t_col: str = "t",
    mag_col: str = "mag",
    id_col: str = "star_id",
) -> DataFrame:
    """Coarse→refine PDM argmin: Θ on every ``coarse_step``-th grid
    frequency, keep each star's ``top_m`` candidates, re-evaluate the
    FULL grid only within ``half_width`` fine steps of a candidate —
    the obs×grid expansion shrinks from |grid| to
    |grid|/coarse_step + ~top_m·(2·half_width+1) rows per observation.

    VALIDITY CONDITION (enforce before trusting the argmin): a PDM Θ
    dip has frequency width ≈ 1/timespan, so the coarse grid only sees
    it if ``coarse_step · grid_spacing ≲ 1/timespan``. On dense grids
    (n ≳ a few·timespan·bandwidth) this holds and the refine recovers
    the full-grid argmin for real signals (pinned in tests on planted
    periods); on a grid that BARELY resolves the dips the coarse stage
    can miss them — use :func:`pdm_best_period` there. For pure-noise
    stars the two argmins differ freely (both are noise); this operator
    targets the search-survey shape where grids are dense and the
    expansion, not the argmin of noise, is the cost.

    Deterministic and fully SQL-mirrorable
    (:func:`pdm_best_period_two_stage_sql`): candidate selection uses
    the same (rounded Θ, lower freq) tie-break as everything else, and
    the refine's per-star frequency set comes from an integer-index
    window, so both engines derive identical candidate sets.
    """
    freqs = freqs if freqs is not None else frequency_grid()
    # spread once here: the inner pdm_theta's own guard then sees ≥ p
    # partitions and no-ops, and the refine join reuses the same spread
    obs = _spread_by_key(obs, id_col)
    indexed = list(enumerate(freqs))
    th_c = pdm_theta(
        spark, obs, [f for _, f in indexed[::coarse_step]], n_bins,
        t_col, mag_col, id_col,
    )
    w = Window.partitionBy(id_col).orderBy(
        # NULLS LAST to match DuckDB's ASC default: a dof=0 star has
        # theta NULL in BOTH engines, and Spark's NULLS-FIRST default
        # would crown that NULL row rk=1 while DuckDB ranks it last
        F.col("theta").asc_nulls_last(), F.col("freq").asc()
    )
    coarse_df = spark.createDataFrame(
        indexed[::coarse_step], "cidx int, freq double"
    )
    cand = (
        th_c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_m)
        .join(F.broadcast(coarse_df), "freq")
        .select(id_col, "cidx")
    )
    fine_df = spark.createDataFrame(indexed, "fidx int, freq double")
    cand_freqs = (
        cand.join(
            F.broadcast(fine_df),
            F.abs(F.col("fidx") - F.col("cidx")) <= half_width,
        )
        .select(id_col, "freq")
        .distinct()
    )
    rows = _pdm_binned_rows(
        obs.join(cand_freqs, id_col), n_bins, t_col, mag_col, id_col
    )
    th_f = _pdm_theta_from_rows(rows, n_bins, id_col)
    return (
        th_f.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            id_col,
            F.col("freq").alias("best_freq"),
            F.round(1.0 / F.col("freq"), 6).alias("best_period"),
            "theta",
        )
    )


def _grid_sql(freqs: list[float]) -> str:
    # String → DOUBLE casts: a bare numeric literal is DECIMAL in DuckDB,
    # and DECIMAL→DOUBLE can land 1 ulp away from the Python double the
    # Spark side broadcasts. strtod round-trips repr() exactly.
    elems = ", ".join(f"CAST('{f!r}' AS DOUBLE)" for f in freqs)
    return f"SELECT unnest([{elems}]) AS freq"


def lomb_scargle_sql(obs_sql: str, freqs: list[float] | None = None) -> str:
    """DuckDB mirror — identical sums and identical derivation order."""
    freqs = freqs if freqs is not None else frequency_grid()
    pi2 = repr(TWO_PI)
    return f"""
WITH obs AS ({obs_sql}),
grid AS ({_grid_sql(freqs)}),
trig AS (
  -- double-angle identities, SAME expressions as the Spark side
  -- (2c²−1 / 2sc), so the engines stay bit-identical
  SELECT star_id, freq, mag AS m,
         cos(({pi2} * freq) * t) AS cwt,
         sin(({pi2} * freq) * t) AS swt
  FROM obs CROSS JOIN grid
),
sums AS (
  SELECT star_id, freq,
         count(*) AS n,
         sum(m) AS s1,
         sum(m * m) AS s2m,
         sum(cwt) AS sc,
         sum(swt) AS ss,
         sum(m * cwt) AS smc,
         sum(m * swt) AS sms,
         sum(2.0 * cwt * cwt - 1.0) AS c2,
         sum(2.0 * swt * cwt) AS s2
  FROM trig
  GROUP BY star_id, freq
),
derived AS (
  SELECT star_id, freq, n, s2m, s1,
         smc - (s1 / n) * sc AS yc,
         sms - (s1 / n) * ss AS ys,
         atan2(s2, c2) / (2.0 * ({pi2} * freq)) AS tau,
         c2, s2
  FROM sums
),
terms AS (
  SELECT star_id, freq, n,
         cos(({pi2} * freq) * tau) * yc + sin(({pi2} * freq) * tau) * ys AS cc,
         cos(({pi2} * freq) * tau) * ys - sin(({pi2} * freq) * tau) * yc AS ss_,
         n / 2.0 + (cos(2.0 * ({pi2} * freq) * tau) * c2
                    + sin(2.0 * ({pi2} * freq) * tau) * s2) / 2.0 AS scc,
         n / 2.0 - (cos(2.0 * ({pi2} * freq) * tau) * c2
                    + sin(2.0 * ({pi2} * freq) * tau) * s2) / 2.0 AS sss,
         (s2m - s1 * s1 / n) / n AS var
  FROM derived
)
SELECT star_id, freq,
       round(0.5 * (cc * cc / scc + ss_ * ss_ / sss) / var, 6) AS power
FROM terms
"""


def best_period_sql(obs_sql: str, freqs: list[float] | None = None) -> str:
    return f"""
WITH pg AS ({lomb_scargle_sql(obs_sql, freqs)}),
ranked AS (
  SELECT star_id, freq, power,
         row_number() OVER (PARTITION BY star_id
                            ORDER BY power DESC, freq ASC) AS rk
  FROM pg
)
SELECT star_id, freq AS best_freq,
       round(1.0 / freq, 6) AS best_period, power
FROM ranked WHERE rk = 1
"""


def period_significance(
    spark: SparkSession,
    obs: DataFrame,
    freqs: list[float] | None = None,
    t_col: str = "t",
    mag_col: str = "mag",
    id_col: str = "star_id",
) -> DataFrame:
    """Best period + analytic false-alarm probability: the classic
    M-independent-trials estimate FAP = 1 − (1 − e^{−P})^M with M =
    grid size (Scargle 1982 §IV; conservative for a correlated grid —
    the standard first-pass significance screen before any expensive
    bootstrap). Pure projection on top of :func:`best_period`, so the
    plan is unchanged."""
    freqs = freqs if freqs is not None else frequency_grid()
    bp = best_period(spark, obs, freqs, t_col, mag_col, id_col)
    m = float(len(freqs))
    fap = 1.0 - F.pow(1.0 - F.exp(-F.col("power")), F.lit(m))
    return bp.select(
        id_col,
        "best_freq",
        "best_period",
        "power",
        F.round(fap, 6).alias("fap"),
    )


def period_significance_sql(
    obs_sql: str, freqs: list[float] | None = None
) -> str:
    freqs = freqs if freqs is not None else frequency_grid()
    m = repr(float(len(freqs)))
    return f"""
WITH bp AS ({best_period_sql(obs_sql, freqs)})
SELECT star_id, best_freq, best_period, power,
       round(1.0 - pow(1.0 - exp(-power), {m}), 6) AS fap
FROM bp
"""


def _pdm_theta_tail_sql(n_bins: int, suffix: str = "", src: str = "binned") -> str:
    """The shared per_freq-aggregate + Θ-fold SQL (everything after the
    ``binned`` CTE), mirroring :func:`_pdm_theta_from_rows` with the
    SAME bin-0..bin-(n-1) CASE-chain fold order so every float sum is
    evaluated in the identical sequence. ``suffix`` disambiguates the
    CTE names when the tail appears twice (two-stage); ``src`` is the
    (star_id, freq, m, pbin) source CTE."""
    bin_aggs = ",\n         ".join(
        f"count(CASE WHEN pbin = {b} THEN m END) AS n{b}, "
        f"sum(CASE WHEN pbin = {b} THEN m END) AS s1_{b}"
        for b in range(n_bins)
    )
    neg_within = " + ".join(
        f"(CASE WHEN n{b} > 0 THEN -(s1_{b} * s1_{b} / n{b}) "
        f"ELSE 0.0 END)"
        for b in range(n_bins)
    )
    dof = " + ".join(
        f"(CASE WHEN n{b} > 0 THEN n{b} - 1 ELSE 0 END)"
        for b in range(n_bins)
    )
    s1t = " + ".join(f"coalesce(s1_{b}, 0.0)" for b in range(n_bins))
    nt = " + ".join(f"n{b}" for b in range(n_bins))
    return f"""
per_freq{suffix} AS (
  SELECT star_id, freq,
         sum(m * m) AS s2t,
         {bin_aggs}
  FROM {src} GROUP BY star_id, freq
),
folded{suffix} AS (
  SELECT star_id, freq, s2t,
         s2t + ({neg_within}) AS ss_within,
         {dof} AS dof,
         {s1t} AS s1t,
         {nt} AS nt
  FROM per_freq{suffix}
),
theta_t{suffix} AS (
  SELECT star_id, freq,
         round((ss_within / dof)
               / ((s2t - s1t * s1t / nt) / (nt - 1)), 6) AS theta
  FROM folded{suffix}
)"""


def pdm_theta_sql(
    obs_sql: str,
    freqs: list[float] | None = None,
    n_bins: int = PDM_BINS,
) -> str:
    """DuckDB mirror of :func:`pdm_theta` — identical phase/bin
    arithmetic, identical (2·n_bins + 1)-buffer aggregate, identical
    fold order (no totals join on either engine since r5)."""
    freqs = freqs if freqs is not None else frequency_grid()
    return f"""
WITH obs AS ({obs_sql}),
grid AS ({_grid_sql(freqs)}),
binned AS (
  SELECT star_id, freq, mag AS m,
         CAST(least(floor((t * freq - floor(t * freq)) * {n_bins}),
                    {n_bins - 1}) AS INTEGER) AS pbin
  FROM obs CROSS JOIN grid
),{_pdm_theta_tail_sql(n_bins)}
SELECT star_id, freq, theta FROM theta_t
"""


def _indexed_grid_sql(pairs: list[tuple[int, float]], idx_name: str) -> str:
    rows = ", ".join(
        f"({i}, CAST('{f!r}' AS DOUBLE))" for i, f in pairs
    )
    return f"SELECT * FROM (VALUES {rows}) AS t({idx_name}, freq)"


def pdm_best_period_two_stage_sql(
    obs_sql: str,
    freqs: list[float] | None = None,
    n_bins: int = PDM_BINS,
    coarse_step: int = 4,
    top_m: int = 3,
    half_width: int = 4,
) -> str:
    """DuckDB mirror of :func:`pdm_best_period_two_stage` — both Θ
    stages use the shared tail (identical fold order), candidate
    selection uses the same (rounded Θ, freq) tie-break, and the refine
    frequency set comes from the same integer-index window."""
    freqs = freqs if freqs is not None else frequency_grid()
    indexed = list(enumerate(freqs))

    def pbin(t_e: str, f_e: str) -> str:
        return (
            f"CAST(least(floor(({t_e} * {f_e} - floor({t_e} * {f_e}))"
            f" * {n_bins}), {n_bins - 1}) AS INTEGER)"
        )

    return f"""
WITH obs AS ({obs_sql}),
finegrid AS ({_indexed_grid_sql(indexed, "fidx")}),
coarsegrid AS ({_indexed_grid_sql(indexed[::coarse_step], "cidx")}),
binned_c AS (
  SELECT star_id, freq, mag AS m, {pbin("t", "freq")} AS pbin
  FROM obs CROSS JOIN (SELECT freq FROM coarsegrid) g
),{_pdm_theta_tail_sql(n_bins, "_c", "binned_c")},
ranked_c AS (
  SELECT star_id, freq, theta,
         row_number() OVER (PARTITION BY star_id
                            ORDER BY theta ASC NULLS LAST, freq ASC) AS rk
  FROM theta_t_c
),
cand AS (
  SELECT r.star_id, g.cidx
  FROM ranked_c r JOIN coarsegrid g USING (freq)
  WHERE r.rk <= {top_m}
),
cand_freqs AS (
  SELECT DISTINCT c.star_id, f.freq
  FROM cand c JOIN finegrid f ON abs(f.fidx - c.cidx) <= {half_width}
),
binned_f AS (
  SELECT o.star_id, cf.freq, o.mag AS m,
         {pbin("o.t", "cf.freq")} AS pbin
  FROM obs o JOIN cand_freqs cf ON o.star_id = cf.star_id
),{_pdm_theta_tail_sql(n_bins, "_f", "binned_f")},
ranked_f AS (
  SELECT star_id, freq, theta,
         row_number() OVER (PARTITION BY star_id
                            ORDER BY theta ASC NULLS LAST, freq ASC) AS rk
  FROM theta_t_f
)
SELECT star_id, freq AS best_freq,
       round(1.0 / freq, 6) AS best_period, theta
FROM ranked_f WHERE rk = 1
"""


# Validity threshold for the coarse→refine shortcut: a PDM Θ dip has
# frequency width ≈ 1/timespan, so the coarse grid only registers it
# when coarse_step · grid_spacing ≤ 1/timespan. κ = 1.0 keeps the
# pinned-recovery regime (the planted-period tests run at product
# ≈ 0.5-0.8); anything above means the coarse stage can step clean
# over a dip and the refine never sees that neighbourhood.
TWO_STAGE_DENSITY_MAX = 1.0


def two_stage_is_valid(
    freqs: list[float], coarse_step: int, timespan_hint: float
) -> bool:
    """STATIC two-stage validity check — computed from the grid and a
    survey-baseline hint only (never from the data), so the Spark query
    and the DuckDB mirror make the SAME branch decision and the oracle
    stays a fixed SQL string. Uses the widest adjacent spacing so an
    uneven grid is judged by its worst-resolved stretch."""
    if len(freqs) < 2 or timespan_hint <= 0 or coarse_step < 1:
        return False
    diffs = [b - a for a, b in zip(freqs, freqs[1:])]
    if any(d <= 0 for d in diffs):
        # unsorted / descending / duplicate grid: the integer-index
        # refine window no longer maps to a frequency neighbourhood, so
        # the two-stage guarantee is void — a descending grid would
        # otherwise "pass" with a negative max spacing
        return False
    return coarse_step * max(diffs) * timespan_hint <= TWO_STAGE_DENSITY_MAX


def pdm_best_period_auto(
    spark: SparkSession,
    obs: DataFrame,
    freqs: list[float] | None = None,
    timespan_hint: float = 30.0,
    n_bins: int = PDM_BINS,
    coarse_step: int = 4,
    top_m: int = 3,
    half_width: int = 4,
    t_col: str = "t",
    mag_col: str = "mag",
    id_col: str = "star_id",
) -> DataFrame:
    """PDM argmin with the grid-density auto-guard: run the cheaper
    coarse→refine plan (:func:`pdm_best_period_two_stage`) when the
    grid is dense enough for its recovery guarantee
    (:func:`two_stage_is_valid`), else fall back to the full-grid scan.
    ``timespan_hint`` is the survey baseline in the same time unit as
    ``t_col`` — a catalog property you know up front (OGLE/MACHO-style
    surveys publish their window), passed statically so both engines
    branch identically."""
    freqs = freqs if freqs is not None else frequency_grid()
    if two_stage_is_valid(freqs, coarse_step, timespan_hint):
        return pdm_best_period_two_stage(
            spark, obs, freqs, n_bins, coarse_step, top_m, half_width,
            t_col, mag_col, id_col,
        )
    return pdm_best_period(spark, obs, freqs, n_bins, t_col, mag_col, id_col)


def pdm_best_period_auto_sql(
    obs_sql: str,
    freqs: list[float] | None = None,
    timespan_hint: float = 30.0,
    n_bins: int = PDM_BINS,
    coarse_step: int = 4,
    top_m: int = 3,
    half_width: int = 4,
) -> str:
    """DuckDB mirror of :func:`pdm_best_period_auto` — the SAME static
    branch decision, so whichever plan the Spark side runs, the oracle
    runs its mirror."""
    freqs = freqs if freqs is not None else frequency_grid()
    if two_stage_is_valid(freqs, coarse_step, timespan_hint):
        return pdm_best_period_two_stage_sql(
            obs_sql, freqs, n_bins, coarse_step, top_m, half_width
        )
    return pdm_best_period_sql(obs_sql, freqs, n_bins)


def pdm_best_period_sql(
    obs_sql: str,
    freqs: list[float] | None = None,
    n_bins: int = PDM_BINS,
) -> str:
    return f"""
WITH th AS ({pdm_theta_sql(obs_sql, freqs, n_bins)}),
ranked AS (
  SELECT star_id, freq, theta,
         row_number() OVER (PARTITION BY star_id
                            ORDER BY theta ASC NULLS LAST, freq ASC) AS rk
  FROM th
)
SELECT star_id, freq AS best_freq,
       round(1.0 / freq, 6) AS best_period, theta
FROM ranked WHERE rk = 1
"""
