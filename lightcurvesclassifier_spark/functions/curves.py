"""Per-curve features as built-in Spark SQL expressions (the fast path).

Every per-curve descriptor here is a projection of ONE aggregate over
the long-format ``observations`` table (:func:`per_curve`): a lag window
plus per-star power sums, of which Catalyst keeps only what a projection
reads. The mergeable states of ``operators/rollup`` and
``streaming/stats_stream`` finalize through the same column formulas
(:func:`finalize_sums`). No Python in the hot path; descriptors that
need array-at-a-time logic (SAX, variogram, ekvi-PAA parity) live in
``curve_udfs.py``.

Mirrored semantics (file:line into /root/reference):

- Abbe value: lcc/utils/data_analysis.py:167-193 via window lag.
- mean/std magnitude: lcc/entities/light_curve.py:125-131 (population std).
- curve density: lcc/stars_processing/descriptors/curve_density_descr.py.
- skewness/kurtosis: descriptors skewness_desc.py / kurtosis_desc.py
  (scipy defaults: biased skew, Fisher excess kurtosis).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, Window, functions as F

from ..plans.query_compiler import quote_ident as _q

KEY = "star_id"

# The per-curve aggregate and the columns over it, as Spark SQL: the
# driver builds each expression in one Py4J round trip, where every
# Column-API node (F.col, an operator, an alias) takes several. Power
# sums rather than Spark's stddev/skewness/kurtosis, so the DuckDB
# oracles reproduce each column with the identical formula. Double
# literals carry the D suffix: a bare 1.0 or 2.0 parses as DECIMAL, and
# `_n / (2.0 * (_n - 1.0))` computed in DECIMAL changes the bits of the
# Abbe value.
_SUMS = (
    "count(mag) AS _n",
    "sum(_d * _d) AS _sum_sq_diff",
    "sum(mag) AS _s1",
    "sum(mag * mag) AS _s2",
    "sum(mag * mag * mag) AS _s3",
    "sum(mag * mag * mag * mag) AS _s4",
    "min(t) AS _tmin",
    "max(t) AS _tmax",
)
_SS = "(_s2 - _s1 * _s1 / _n)"
# name -> expression; lc_stats' columns come first, abbe last. The
# std_mag guard: an all-NULL-mag star has _n = 0 and NULL sums, and
# greatest(NULL, 0.0D) is 0.0, so unguarded it is 0.0 / 0, an ANSI
# DIVIDE_BY_ZERO (DuckDB's double 0/0 is NULL, which the guard matches).
# A one-point star has a zero span, so its density is NULL.
_CURVE_COLUMNS = {
    "n_obs": "_n",
    "mean_mag": "_s1 / _n",
    "std_mag": f"CASE WHEN _n > 0 THEN sqrt(greatest({_SS}, 0.0D) / _n) END",
    "timespan": "_tmax - _tmin",
    "curve_density": "CASE WHEN _tmax - _tmin <> 0.0D THEN _n / (_tmax - _tmin) END",
    "abbe": f"CASE WHEN _n > 1 AND {_SS} <> 0.0D "
    f"THEN _n / (2.0D * (_n - 1.0D)) * _sum_sq_diff / {_SS} END",
}
_LC_STATS = tuple(_CURVE_COLUMNS)[:-1]
# central moments from raw power sums; `m1 * 3` keeps the operand order
# the Column API's `3 * m1` planned as
_M1 = "(_s1 / _n)"
_M2 = f"(_s2 / _n - {_M1} * {_M1})"
_M3 = f"(_s3 / _n - {_M1} * 3 * _s2 / _n + {_M1} * 2 * {_M1} * {_M1})"
_M4 = (
    f"(_s4 / _n - {_M1} * 4 * _s3 / _n + {_M1} * 6 * {_M1} * _s2 / _n"
    f" - {_M1} * 3 * {_M1} * {_M1} * {_M1})"
)
_MOMENT_COLUMNS = {
    "skewness": f"CASE WHEN {_M2} > 0.0D THEN {_M3} / power({_M2}, 1.5D) END",
    "kurtosis": f"CASE WHEN {_M2} > 0.0D THEN {_M4} / ({_M2} * {_M2}) - 3.0D END",
}
_COLUMNS = {**_CURVE_COLUMNS, **_MOMENT_COLUMNS}


def per_curve(
    obs: DataFrame, columns: Iterable[str], keys: list[str] | None = None
) -> DataFrame:
    """The named per-curve ``columns`` (any of n_obs, mean_mag, std_mag,
    timespan, curve_density, abbe, skewness, kurtosis) per ``keys``
    group, as one projection of the one per-curve aggregate.

    Single shuffle on the keys: the lag window sorts within partitions,
    then the hash aggregate reuses the same partitioning — scan →
    shuffle → sort → window → partial/final agg, with no second
    exchange. Without ``abbe`` the window is pruned and the plan is a
    straight partial→final hash aggregate with map-side combine.
    """
    keys = keys or [KEY]
    part = ", ".join(map(_q, keys))
    lag = f"mag - lag(mag) OVER (PARTITION BY {part} ORDER BY t, mag)"
    return (
        obs.withColumn("_d", F.expr(lag))
        .groupBy(*keys)
        .agg(*map(F.expr, _SUMS))
        .selectExpr(*map(_q, keys), *(f"{_COLUMNS[c]} AS {c}" for c in columns))
    )


def lc_stats(obs: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Per-star curve summary: n_obs, mean/std magnitude (population std —
    numpy semantics, data_analysis.py:164), timespan and curve density."""
    return per_curve(obs, _LC_STATS, keys)


def finalize_sums(sums: DataFrame) -> DataFrame:
    """:func:`lc_stats`' columns rounded to 6 decimals from per-star
    sums already named ``_n, _s1, _s2, _tmin, _tmax`` — the read side of
    a mergeable state (``rollup.finalize_lc_stats``,
    ``stats_stream.finalize_um_state``)."""
    return sums.selectExpr(
        KEY,
        "_n AS n_obs",
        *(f"round({_CURVE_COLUMNS[c]}, 6) AS {c}" for c in _LC_STATS[1:]),
    )


def abbe_value(obs: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Abbe value per star: ``n/(2(n-1)) * Σ(Δmag)² / Σ(mag-mean)²``
    (lcc/utils/data_analysis.py:167-193), computed with a window lag for
    the numerator and power sums for the denominator."""
    return per_curve(obs, ("n_obs", "abbe"), keys)


def curve_features(obs: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """All cheap per-curve features in ONE pass: n_obs, mean/std mag,
    timespan, curve density, Abbe value."""
    return per_curve(obs, _CURVE_COLUMNS, keys)


def skewness_kurtosis(obs: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Biased (population) skewness and Fisher excess kurtosis — the scipy
    defaults used by SkewnessDescr / KurtosisDescr
    (lcc/stars_processing/descriptors/skewness_desc.py:50-60,
    kurtosis_desc.py:50-61). Computed from power sums so the DuckDB oracle
    can reproduce them with the identical formula (Spark's built-in
    ``skewness``/``kurtosis`` use a different accumulation order).
    """
    return per_curve(obs, ("n_obs", *_MOMENT_COLUMNS), keys)


def detrend_stats(obs: DataFrame) -> DataFrame:
    """Linear detrend + one 3σ clip round per light curve — the standard
    LC preprocessing pair (secular-drift removal, outlier rejection)
    upstream of every descriptor.

    Closed-form least squares from five power sums, residual moments
    from a second pass, then a refit on the kept points: three
    aggregations all keyed by ``star_id``, so at scale one
    repartition(star_id) serves every stage and the fit parameters ride
    along as joined (broadcast-size) dims — never driver-side."""
    t, m = F.col("t"), F.col("mag")
    fit = obs.groupBy("star_id").agg(
        F.count("*").alias("n"),
        F.sum(t).alias("st"),
        F.sum(t * t).alias("st2"),
        F.sum(m).alias("sm"),
        F.sum(t * m).alias("stm"),
    )
    slope = (F.col("n") * F.col("stm") - F.col("st") * F.col("sm")) / (
        F.col("n") * F.col("st2") - F.col("st") * F.col("st")
    )
    fit = fit.withColumn("slope", slope).withColumn(
        "intercept", (F.col("sm") - F.col("slope") * F.col("st")) / F.col("n")
    ).select("star_id", "n", "slope", "intercept")
    r = m - (F.col("intercept") + F.col("slope") * t)
    resid = (
        obs.join(fit, "star_id")
        .select("star_id", "t", "mag", "slope", "intercept", r.alias("r"))
    )
    mom = resid.groupBy("star_id").agg(
        F.sum("r").alias("sr"),
        F.sum(F.col("r") * F.col("r")).alias("sr2"),
        F.count("*").alias("nr"),
    )
    sigma = F.sqrt(
        F.col("sr2") / F.col("nr")
        - (F.col("sr") / F.col("nr")) * (F.col("sr") / F.col("nr"))
    )
    mom = mom.withColumn("sigma", sigma).withColumn(
        "rbar", F.col("sr") / F.col("nr")
    ).select("star_id", "sigma", "rbar")
    kept = resid.join(mom, "star_id").withColumn(
        "keep", F.abs(F.col("r") - F.col("rbar")) <= 3.0 * F.col("sigma")
    )
    refit = kept.groupBy("star_id").agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_clipped"),
        F.sum(F.when(F.col("keep"), F.col("t"))).alias("kt"),
        F.sum(F.when(F.col("keep"), F.col("t") * F.col("t"))).alias("kt2"),
        F.sum(F.when(F.col("keep"), F.col("mag"))).alias("km"),
        F.sum(F.when(F.col("keep"), F.col("t") * F.col("mag"))).alias("ktm"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kn"),
    )
    slope_clip = (F.col("kn") * F.col("ktm") - F.col("kt") * F.col("km")) / (
        F.col("kn") * F.col("kt2") - F.col("kt") * F.col("kt")
    )
    out = (
        refit.join(fit, "star_id")
        .join(mom, "star_id")
        .select(
            "star_id",
            F.col("n_total").alias("n_obs"),
            F.round("slope", 6).alias("slope"),
            F.round("intercept", 6).alias("intercept"),
            F.round("sigma", 6).alias("resid_std"),
            F.col("n_clipped"),
            F.round(slope_clip, 6).alias("slope_clip"),
        )
    )
    return out


def stetson_jk(obs: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Stetson J and K variability indices per star (Stetson 1996, PASP
    108, 851) — the standard robust variability pair: J from the product
    of time-adjacent normalized residuals (correlated variability), K
    from the |δ|/δ² ratio (0.798 for a Gaussian, →0.9 sinusoid,
    →smaller for outlier-dominated noise).

    Equal-weight variant: the testdata carries no per-point errors
    (``err`` is null), so δᵢ = √(n/(n−1))·(mᵢ−m̄)/σ_pop replaces the
    per-point-σᵢ normalization of the paper; Pₖ pairs successive
    observations in time order (tie-break (t, mag), the same discipline
    as :func:`abbe_value`).

        J = Σₖ sign(Pₖ)·√|Pₖ| / n_pairs,  Pₖ = δᵢ·δᵢ₋₁
        K = (Σ|δ|/n) / √(Σδ²/n)

    One shuffle: the unordered per-star moment window, the ordered lag
    window, and the final aggregate all share the star_id partitioning
    (same single-Exchange plan as :func:`curve_features`).
    """
    keys = keys or [KEY]
    wp = Window.partitionBy(*keys)
    wo = Window.partitionBy(*keys).orderBy("t", "mag")
    m = F.col("mag")
    n = F.count(m).over(wp)
    s1 = F.sum(m).over(wp)
    s2 = F.sum(m * m).over(wp)
    mean = s1 / n
    var = (s2 - s1 * s1 / n) / n
    std = F.sqrt(var)
    # degenerate stars (single observation, or zero variance) would put
    # n/(n-1) = Inf or /0 = NaN into every downstream row; emit NULL δ
    # instead so J/K come out NULL, the same CASE-guard discipline as
    # finalize_lc_stats and lag_correlation (mirrored in stetson_jk_sql).
    # The guard tests the VARIANCE, not sqrt(variance): a constant-mag
    # star whose power sums cancel to a tiny NEGATIVE variance (float
    # cancellation, e.g. mag 12.3 × 14 obs → −3e−14) would otherwise
    # make Spark's sqrt a NaN that passes `NaN > 0` (Spark treats NaN
    # as the largest double) and make DuckDB's sqrt RAISE — a hard
    # oracle error, not a mismatch.
    delta = F.when(
        (n > 1) & (var > F.lit(0.0)),
        F.sqrt(n / (n - 1.0)) * (m - mean) / std,
    )
    rows = obs.select(
        *keys,
        F.col("t"),
        m,
        n.alias("_n"),
        delta.alias("_d"),
    ).withColumn("_dprev", F.lag("_d").over(wo))
    p = F.col("_d") * F.col("_dprev")
    term = F.signum(p) * F.sqrt(F.abs(p))
    agg = rows.groupBy(*keys).agg(
        F.max("_n").alias("n_obs"),
        F.sum(term).alias("_jsum"),
        F.count(p).alias("_npairs"),
        F.sum(F.abs(F.col("_d"))).alias("_sabs"),
        F.sum(F.col("_d") * F.col("_d")).alias("_sd2"),
    )
    nn = F.col("n_obs")
    j = F.col("_jsum") / F.col("_npairs")
    k = (F.col("_sabs") / nn) / F.sqrt(F.col("_sd2") / nn)
    return agg.select(
        *keys,
        "n_obs",
        F.round(j, 6).alias("stetson_j"),
        F.round(k, 6).alias("stetson_k"),
    )


def robust_outliers_sql(obs_sql: str, n_sigma: float = 3.0) -> str:
    """DuckDB mirror of :func:`robust_outliers` (quantile_cont matches
    Spark's exact interpolated percentile; same threshold product)."""
    k = repr(n_sigma * MAD_K)
    return f"""
WITH obs AS ({obs_sql}),
med AS (
  SELECT star_id, quantile_cont(mag, 0.5e0) AS med
  FROM obs GROUP BY star_id
),
dev AS (
  SELECT o.star_id, o.mag, abs(o.mag - m.med) AS ad, m.med
  FROM obs o JOIN med m USING (star_id)
),
mad AS (
  SELECT star_id, quantile_cont(ad, 0.5e0) AS mad_v
  FROM dev GROUP BY star_id
)
SELECT d.star_id,
       count(d.mag) AS n_obs,
       round(max(d.med), 6) AS median_mag,
       round(max(m.mad_v), 6) AS mad,
       CAST(sum(CASE WHEN d.ad > {k} * m.mad_v THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (star_id)
GROUP BY d.star_id
"""


def stetson_jk_sql(obs_sql: str) -> str:
    """DuckDB mirror of :func:`stetson_jk` (same δ derivation order,
    same (t, mag) lag tie-break)."""
    return f"""
WITH obs AS ({obs_sql}),
st AS (
  SELECT star_id, t, mag,
         count(mag) OVER w AS n,
         sum(mag) OVER w AS s1,
         sum(mag * mag) OVER w AS s2
  FROM obs
  WINDOW w AS (PARTITION BY star_id)
),
deltas AS (
  -- variance (not sqrt) in the guard: sqrt of a cancellation-negative
  -- variance would RAISE in DuckDB; the THEN branch only evaluates
  -- when the variance is strictly positive
  SELECT star_id, t, mag, n,
         CASE WHEN n > 1 AND (s2 - s1 * s1 / n) / n > 0.0
              THEN sqrt(n / (n - 1.0)) * (mag - s1 / n)
                     / sqrt((s2 - s1 * s1 / n) / n)
         END AS d
  FROM st
),
lagged AS (
  SELECT star_id, n, d,
         lag(d) OVER (PARTITION BY star_id ORDER BY t, mag) AS dprev
  FROM deltas
)
SELECT star_id,
       max(n) AS n_obs,
       round(sum(sign(d * dprev) * sqrt(abs(d * dprev)))
             / count(d * dprev), 6) AS stetson_j,
       round((sum(abs(d)) / max(n))
             / sqrt(sum(d * d) / max(n)), 6) AS stetson_k
FROM lagged GROUP BY star_id
"""


def lag_correlation(obs: DataFrame, max_lag: int = 10) -> DataFrame:
    """Day-lag autocorrelation of each star's DAILY-MEAN magnitude
    series: Pearson r between (m_d, m_{d+ℓ}) for ℓ = 1..max_lag — the
    discrete ACF whose first minimum/peak hints at periods and
    distinguishes correlated variability from white noise.

    Spark-first: daily means (one aggregate), then the lagged pairs
    come from an EQUI-join of the series with itself shifted by an
    exploded lag list — join key (star, day+ℓ), so candidate pairs are
    |days|·max_lag per star, never |obs|². Correlation from power sums
    per (star, lag); all three stages keyed by star_id.
    """
    day = F.floor("t").cast("int")
    daily = obs.groupBy(
        F.col(KEY), day.alias("day")
    ).agg((F.sum("mag") / F.count("mag")).alias("m"))
    lags = F.explode(
        F.array(*[F.lit(l) for l in range(1, max_lag + 1)])
    ).alias("lag")
    left = daily.select(
        KEY, "day", F.col("m").alias("x"), lags
    ).withColumn("_jday", F.col("day") + F.col("lag"))
    right = daily.select(
        F.col(KEY).alias("_sid"),
        F.col("day").alias("_jday"),
        F.col("m").alias("y"),
    )
    pairs = left.join(
        right,
        (F.col(KEY) == F.col("_sid")) & (left["_jday"] == right["_jday"]),
    )
    x, y = F.col("x"), F.col("y")
    agg = pairs.groupBy(KEY, "lag").agg(
        F.count(x).alias("n_pairs"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sx2"),
        F.sum(y * y).alias("_sy2"),
    )
    n = F.col("n_pairs")
    cov = F.col("_sxy") - F.col("_sx") * F.col("_sy") / n
    vx = F.col("_sx2") - F.col("_sx") * F.col("_sx") / n
    vy = F.col("_sy2") - F.col("_sy") * F.col("_sy") / n
    r = F.when(
        (vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)
    )
    return agg.select(
        KEY, "lag", "n_pairs", F.round(r, 6).alias("acf")
    )


def lag_correlation_sql(obs_sql: str, max_lag: int = 10) -> str:
    """DuckDB mirror of :func:`lag_correlation` (same daily means,
    same join, same power-sum derivation)."""
    return f"""
WITH obs AS ({obs_sql}),
daily AS (
  SELECT star_id, CAST(floor(t) AS INTEGER) AS day,
         sum(mag) / count(mag) AS m
  FROM obs GROUP BY star_id, day
),
lagged AS (
  SELECT d.star_id, l.lag, d.m AS x, r.m AS y
  FROM daily d
  CROSS JOIN (SELECT unnest(generate_series(1, {max_lag})) AS lag) l
  JOIN daily r ON r.star_id = d.star_id AND r.day = d.day + l.lag
)
SELECT star_id, CAST(lag AS INTEGER) AS lag,
       count(x) AS n_pairs,
       round(CASE WHEN sum(x*x) - sum(x)*sum(x)/count(x) > 0
                   AND sum(y*y) - sum(y)*sum(y)/count(x) > 0
             THEN (sum(x*y) - sum(x)*sum(y)/count(x))
                  / sqrt((sum(x*x) - sum(x)*sum(x)/count(x))
                         * (sum(y*y) - sum(y)*sum(y)/count(x)))
             END, 6) AS acf
FROM lagged GROUP BY star_id, lag
"""


MAD_K = 1.4826  # Gaussian consistency factor: MAD·1.4826 ≈ σ


def robust_outliers(obs: DataFrame, n_sigma: float = 3.0) -> DataFrame:
    """Median/MAD outlier census per star — the robust complement to
    the 3σ detrend clip (``detrend_stats``): median and MAD are
    breakdown-50% estimators, so a flare-heavy curve doesn't inflate
    its own threshold the way mean/std do.

    Per star: median(mag), MAD = median(|mag − med|), and the count of
    points with |mag − med| > n_sigma·1.4826·MAD. Exact sort-based
    ``percentile`` so the DuckDB ``quantile_cont`` oracle matches (the
    documented 100 TB switch is ``percentile_approx``, same as
    table_profile); two aggregates + one broadcast-size join back —
    all keyed by star_id.
    """
    med = obs.groupBy(KEY).agg(
        F.percentile("mag", F.lit(0.5)).alias("med")
    )
    w = Window.partitionBy(KEY)
    dev = (
        obs.join(med, KEY)
        .withColumn("_ad", F.abs(F.col("mag") - F.col("med")))
        .withColumn("_mad", F.percentile("_ad", F.lit(0.5)).over(w))
    )
    return dev.groupBy(KEY).agg(
        F.count("mag").alias("n_obs"),
        F.round(F.first("med"), 6).alias("median_mag"),
        F.round(F.first("_mad"), 6).alias("mad"),
        F.sum(
            F.when(
                F.col("_ad") > F.lit(n_sigma * MAD_K) * F.col("_mad"), 1
            ).otherwise(0)
        ).cast("long").alias("n_outliers"),
    )


def detrend_stats_sql(obs_sql: str) -> str:
    """DuckDB mirror of :func:`detrend_stats` (same sums, same order)."""
    return f"""
WITH obs AS ({obs_sql}),
sums AS (
  SELECT star_id, count(*) AS n, sum(t) AS st, sum(t * t) AS st2,
         sum(mag) AS sm, sum(t * mag) AS stm
  FROM obs GROUP BY star_id
),
fit AS (
  SELECT star_id, n,
         (n * stm - st * sm) / (n * st2 - st * st) AS slope,
         (sm - ((n * stm - st * sm) / (n * st2 - st * st)) * st) / n AS intercept
  FROM sums
),
resid AS (
  SELECT o.star_id, o.t, o.mag, f.slope, f.intercept,
         o.mag - (f.intercept + f.slope * o.t) AS r
  FROM obs o JOIN fit f USING (star_id)
),
mom AS (
  SELECT star_id,
         sqrt(sum(r * r) / count(*) - (sum(r) / count(*)) * (sum(r) / count(*))) AS sigma,
         sum(r) / count(*) AS rbar
  FROM resid GROUP BY star_id
),
kept AS (
  SELECT r.*, abs(r.r - m.rbar) <= 3.0 * m.sigma AS keep
  FROM resid r JOIN mom m USING (star_id)
),
refit AS (
  SELECT star_id, count(*) AS n_total,
         CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
         sum(CASE WHEN keep THEN t END) AS kt,
         sum(CASE WHEN keep THEN t * t END) AS kt2,
         sum(CASE WHEN keep THEN mag END) AS km,
         sum(CASE WHEN keep THEN t * mag END) AS ktm,
         sum(CASE WHEN keep THEN 1 ELSE 0 END) AS kn
  FROM kept GROUP BY star_id
)
SELECT r.star_id, r.n_total AS n_obs,
       round(f.slope, 6) AS slope,
       round(f.intercept, 6) AS intercept,
       round(m.sigma, 6) AS resid_std,
       r.n_clipped,
       round((r.kn * r.ktm - r.kt * r.km) / (r.kn * r.kt2 - r.kt * r.kt), 6) AS slope_clip
FROM refit r JOIN fit f USING (star_id) JOIN mom m USING (star_id)
"""
