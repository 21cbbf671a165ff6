"""Comparative (template) join — the reference's ComparativeBase at scale.

Reference (lcc/stars_processing/utilities/compare.py:39-107): every
inspected star is scored against every template star with a SAX-based
dissimilarity kernel, then reduced per star: ``closest`` → min,
``average`` → mean, ``best<n>`` → mean of the n smallest (n integer or
fraction of the template count).

Spark-first shape: templates are small by construction (the reference
holds them in a Python list), so the pair space is
``inspected.crossJoin(broadcast(templates))`` — no shuffle of the big
side at all; the scoring kernel is an Arrow-batched pandas UDF; the
reduce is one hash aggregate on ``star_id`` (the only shuffle).
At 100 TB of inspected curves this stays a single pass: broadcast ×
map-side score × one aggregate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..functions import sax as sax_mod


KERNELS = {
    "curves_shape": sax_mod.compare_curves_sax,
    "hist_shape": sax_mod.compare_hists_sax,
    "variogram_shape": sax_mod.compare_variograms_sax,
}

_SERIES_FNS = {
    "hist_shape": lambda t, m, bins: sax_mod.histogram(t, m, bins_num=bins)[0],
    "variogram_shape": lambda t, m, bins: sax_mod.variogram(t, m, bins=bins)[1],
}


def _word_udf(kind: str, bins: int, alphabet_size: int):
    """Per-STAR representation: derived series → SAX word + scaling.
    Computed once per star, not once per pair — at T templates this cuts
    kernel work by 2T/(T+1)× and is the scale path (words are tiny;
    the pair stage then touches only strings)."""
    series_fn = _SERIES_FNS[kind]

    @F.pandas_udf(T.StructType([
        T.StructField("word", T.StringType()),
        T.StructField("scale", T.DoubleType()),
    ]))
    def to_word(time: pd.Series, mag: pd.Series) -> pd.DataFrame:
        words, scales = [], []
        for i in range(len(time)):
            # degenerate curves — fewer than 2 DISTINCT timestamps —
            # carry no measurable shape: the hist kernel crashes on the
            # zero-span empty value set (vals.min() of nothing), and a
            # pairless variogram word is log10(0) garbage that DuckDB
            # cannot even evaluate ('cannot take logarithm of zero').
            # NULL word → comparative_scores drops the star, and both
            # SQL mirrors drop the same stars via their `spanned` CTE.
            t_arr = np.asarray(time[i], dtype=float)
            m_arr = np.asarray(mag[i], dtype=float)
            if np.unique(t_arr[~np.isnan(t_arr)]).size < 2:
                words.append(None)
                scales.append(None)
                continue
            try:
                series = series_fn(t_arr, m_arr, bins)
                w, s = sax_mod.sax_word(series, bins, alphabet_size)
            except ValueError:
                w, s = None, None
            if not w:
                w, s = None, None
            words.append(w)
            scales.append(s)
        return pd.DataFrame({"word": words, "scale": scales})

    # asNondeterministic: callers filter on the word column (NULL-word
    # degenerate-curve drop), and the optimizer pushes that filter below
    # the projection by DUPLICATING the Python evaluation — two
    # ArrowEvalPython nodes, every star paying the kernel twice
    # (measured 2x the word stage at sf0.1). The function is pure; the
    # marking only forbids the optimizer from re-evaluating it.
    return to_word.asNondeterministic()


def comparative_scores(
    inspected: DataFrame,
    templates: DataFrame,
    kind: str = "curves_shape",
    **params,
) -> DataFrame:
    """Pair scores: one row per (inspected star × template).

    Both inputs are in ``curves`` layout (star_id, time ARRAY, mag ARRAY).
    Returns (star_id, template_id, score).

    hist/variogram kinds precompute the per-star SAX word once and score
    pairs on words alone (the reference recomputes everything per pair —
    compare.py:100-107); ``curves_shape`` with ``slide`` falsy does the
    same (its word size is pair-independent — each curve's own timespan
    via compute_bins — so the per-pair kernel reduces to a prefix
    MINDIST on precomputed words); only the *sliding* curves_shape path
    keeps per-pair raw-curve access, because it re-SAXes windows of the
    longer curve with the pair-dependent word size
    (curves_shape_descr.py:95-150).

    ``variogram_shape`` keeps the reference's short-curve behaviour (see
    ``kernels.variogram``): a star with at most ``bins/2`` observations
    gets the all-last-letter word, so its template scores say nothing
    about its shape. Only curves with fewer than 2 distinct timestamps
    are dropped.
    """
    word_path = kind in _SERIES_FNS or (
        kind == "curves_shape" and not params.get("slide", 0.25)
    )
    if word_path:
        alphabet_size = params["alphabet_size"]
        slide = bool(params.get("slide", False)) if kind in _SERIES_FNS else False
        if kind in _SERIES_FNS:
            word = _word_udf(kind, params["bins"], alphabet_size)
        else:
            days_per_bin = params["days_per_bin"]

            @F.pandas_udf(T.StructType([
                T.StructField("word", T.StringType()),
                T.StructField("scale", T.DoubleType()),
            ]))
            def word(time: pd.Series, mag: pd.Series) -> pd.DataFrame:
                words, scales = [], []
                for i in range(len(time)):
                    t = np.asarray(time[i], dtype=float)
                    m = np.asarray(mag[i], dtype=float)
                    ws = sax_mod.compute_bins(t, days_per_bin)
                    w, s = sax_mod.sax_word(m, ws, alphabet_size)
                    # empty word (zero-span curve → 0 bins) carries no
                    # shape; NULL matches _word_udf's degenerate guard
                    # and keeps the JVM _d2 path off ascii('')-97 = -97,
                    # which is out of the beta array's element_at range
                    # under Spark 4 ANSI (r8 advice item)
                    words.append(w if w else None)
                    scales.append(s if w else None)
                return pd.DataFrame({"word": words, "scale": scales})

            # same duplication guard as _word_udf: the NULL-word filter
            # below would otherwise clone this ArrowEvalPython node
            word = word.asNondeterministic()

        i_words = (
            inspected.select(
                "star_id", word(F.col("time"), F.col("mag")).alias("_w")
            )
            .select("star_id", F.col("_w.word").alias("word"))
            .filter(F.col("word").isNotNull())
        )
        t_words = (
            templates.select(
                F.col("star_id").alias("template_id"),
                word(F.col("time"), F.col("mag")).alias("_w"),
            )
            .select(
                "template_id",
                F.col("_w.word").alias("t_word"),
                F.col("_w.scale").alias("t_scale"),
            )
            .filter(F.col("t_word").isNotNull())
        )

        if slide:
            # only reachable if a caller forces slide on a word-path
            # kind; the reference's hist/variogram descriptors never do
            @F.pandas_udf(T.DoubleType())
            def pair_score(
                wa: pd.Series, wb: pd.Series, sb: pd.Series
            ) -> pd.Series:
                return pd.Series(
                    [
                        sax_mod._safe_shift(
                            wa[i], wb[i], alphabet_size, sb[i], slide
                        )
                        for i in range(len(wa))
                    ]
                )

            pairs = i_words.crossJoin(F.broadcast(t_words))
            return pairs.select(
                "star_id",
                "template_id",
                pair_score(
                    F.col("word"), F.col("t_word"), F.col("t_scale")
                ).alias("score"),
            )

        # slide=False: prefix MINDIST is a pure expression — keep the
        # |inspected|×T pair stage JVM-side (whole-stage codegen) instead
        # of round-tripping every pair row through Arrow. Letter codes
        # are 0-based ('a'=0, searchsorted-right), the squared letter
        # distance is 0 for adjacent letters else
        # (beta[hi-1] - beta[lo])² (sax.py:154-174); with 1-based
        # element_at, beta[hi-1] = element_at(beta, hi_code) and
        # beta[lo] = element_at(beta, lo_code + 1) — the exact indexing
        # the DuckDB mirror (_d2_sum_sql) uses, so engine parity is
        # expression-for-expression. Sum runs in position order
        # (F.aggregate left fold), matching list_sum.
        beta_arr = F.array(
            *[F.lit(float(b)) for b in sax_mod.BREAKPOINTS[int(alphabet_size)]]
        )

        def _codes_col(col):
            return F.transform(F.split(col, ""), lambda c: F.ascii(c) - 97)

        def _d2(x, y):
            hi, lo = F.greatest(x, y), F.least(x, y)
            gap = F.element_at(beta_arr, hi) - F.element_at(beta_arr, lo + 1)
            return (
                F.when(F.abs(x - y) <= F.lit(1), F.lit(0.0))
                .otherwise(gap * gap)
            )

        pairs = (
            i_words.withColumn("_ca", _codes_col(F.col("word")))
            .crossJoin(
                F.broadcast(
                    t_words.withColumn("_cb", _codes_col(F.col("t_word")))
                )
            )
        )
        prefix_len = F.least(F.size("_ca"), F.size("_cb"))
        d2_sum = F.aggregate(
            F.zip_with(
                F.slice(F.col("_ca"), F.lit(1), prefix_len),
                F.slice(F.col("_cb"), F.lit(1), prefix_len),
                _d2,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return pairs.select(
            "star_id",
            "template_id",
            (F.col("t_scale") * F.sqrt(d2_sum)).alias("score"),
        )

    kernel = KERNELS[kind]
    # Templates are a handful by contract (the reference holds them in a
    # list): collect once, broadcast as plain arrays, and stream each
    # inspected curve through Arrow exactly ONCE, scoring all templates
    # per row — versus the crossJoin shape, which copies every star's
    # arrays through Arrow once per template. Same kernel, same scores.
    t_rows = templates.select("star_id", "time", "mag").collect()
    t_data = [
        (
            r["star_id"],
            np.asarray(r["time"], dtype=float),
            np.asarray(r["mag"], dtype=float),
        )
        for r in t_rows
    ]
    b_templates = inspected.sparkSession.sparkContext.broadcast(t_data)

    def score_batches(batches):
        for pdf in batches:
            out_sid, out_tid, out_score = [], [], []
            for i in range(len(pdf)):
                ta = np.asarray(pdf["time"].iloc[i], dtype=float)
                ma = np.asarray(pdf["mag"].iloc[i], dtype=float)
                sid = pdf["star_id"].iloc[i]
                for tid, tt, tm in b_templates.value:
                    out_sid.append(sid)
                    out_tid.append(tid)
                    out_score.append(kernel(ta, ma, tt, tm, **params))
            yield pd.DataFrame(
                {"star_id": out_sid, "template_id": out_tid, "score": out_score}
            )

    return inspected.select("star_id", "time", "mag").mapInPandas(
        score_batches, schema="star_id long, template_id long, score double"
    )


def comparative_noslide_sql(
    obs_sql: str,
    template_ids: list[int],
    days_per_bin: float = 2.0,
    alphabet_size: int = 10,
    eps: float = 1e-6,
) -> str:
    """DuckDB oracle for ``curves_shape`` with ``slide=False``, averaged
    over templates — the full SAX chain in SQL: per-star word size from
    the timespan (compute_bins, data_analysis.py:318-344), population-std
    normalize (:164), quirky-frame PAA (:45-50), Gaussian-breakpoint
    letters (sax.py:59-105), prefix MINDIST with the template-side
    scaling factor (symbolic_representation.py:65-94)."""
    beta_sql = _beta_sql(alphabet_size)
    tpl = ", ".join(str(int(t)) for t in template_ids)
    return f"""
WITH obs AS ({obs_sql}),
curves AS (
  SELECT star_id, list(mag ORDER BY t, mag) AS mags,
         list(t ORDER BY t, mag) AS ts,
         CAST(count(*) AS INT) AS n
  FROM obs GROUP BY star_id
),
sized AS (
  SELECT star_id, mags, n,
         GREATEST(5, CAST({_round_half_even_sql(f'((list_max(ts) - list_min(ts)) / {float(days_per_bin)!r})')} AS INT)) AS ws
  FROM curves
),
stats AS (
  SELECT star_id, mags, n, ws, list_avg(mags) AS m FROM sized
),
stats2 AS (
  SELECT *, sqrt(list_avg(list_transform(mags, x -> (x - m) * (x - m)))) AS s
  FROM stats
),
norm AS (
  SELECT star_id, n, ws,
         CASE WHEN s < {eps!r} THEN list_transform(mags, x -> 0.0e0)
              ELSE list_transform(mags, x -> (x - m) / s) END AS nm
  FROM stats2
),
idx AS (
  SELECT star_id, n, ws, nm,
         unnest(generate_series(0, CAST(2 * ws + 1 AS BIGINT))) AS i
  FROM norm
),
frames AS (
  SELECT star_id, n, ws, nm, i,
         CAST(ceil(CAST(n AS DOUBLE) / ws) AS INT) AS width,
         CAST(floor(CAST(i AS DOUBLE) * (CAST(n AS DOUBLE) / ws)) AS INT) AS start
  FROM idx
),
paa AS (
  SELECT star_id, n, ws, i,
         list_reduce(list_slice(nm, start + 1, start + width),
                     (acc, x) -> acc + x) / CAST(width AS DOUBLE) AS v
  FROM frames WHERE start <= n - width
),
lett AS (
  SELECT star_id, n, ws, i,
         len(list_filter({beta_sql}, b -> v >= b)) AS code
  FROM paa
),
words AS (
  SELECT star_id, any_value(n) AS n, any_value(ws) AS ws,
         list(code ORDER BY i) AS word
  FROM lett GROUP BY star_id
),
t_words AS (
  SELECT star_id AS template_id, word AS t_word,
         sqrt(CAST(n AS DOUBLE) / ws) AS t_scale
  FROM words WHERE star_id IN ({tpl})
),
pairs AS (
  SELECT w.star_id, t.template_id, t.t_scale,
         LEAST(len(w.word), len(t.t_word)) AS L,
         w.word AS wa, t.t_word AS wb
  FROM words w, t_words t
),
scores AS (
  SELECT star_id, template_id,
         t_scale * sqrt({_d2_sum_sql("wa", "wb", "L", alphabet_size)}) AS score
  FROM pairs
)
SELECT star_id, round(avg(score), 6) AS feature
FROM scores GROUP BY star_id
"""


def _pw(lst: str, n: int) -> str:
    """numpy pairwise-summation order for an ``n``-element list, n ≤ 128
    (numpy pairwise_sum: n < 8 → sequential fold; else 8 accumulators
    striding the full blocks, combined ((r0+r1)+(r2+r3))+((r4+r5)+(r6+r7)),
    then the <8-element tail folded sequentially). The predecessor of
    this helper hardcoded the n=9 shape, silently mis-summing any other
    histogram width."""
    if n < 1:
        raise ValueError("empty list")
    if n > 128:
        raise ValueError("numpy switches to recursive halving above 128")
    if n < 8:
        expr = f"{lst}[1]"
        for i in range(2, n + 1):
            expr = f"({expr} + {lst}[{i}])"
        return expr
    full8 = n - (n % 8)
    accs = []
    for j in range(8):
        e = f"{lst}[{j + 1}]"
        for i in range(8, full8, 8):
            e = f"({e} + {lst}[{i + j + 1}])"
        accs.append(e)
    expr = (
        f"((({accs[0]} + {accs[1]}) + ({accs[2]} + {accs[3]}))"
        f" + (({accs[4]} + {accs[5]}) + ({accs[6]} + {accs[7]})))"
    )
    for i in range(full8, n):
        expr = f"({expr} + {lst}[{i + 1}])"
    return expr


def _round_half_even_sql(x: str) -> str:
    """DuckDB mirror of Python/numpy round-half-to-even for positive
    values (DuckDB round() is half-away-from-zero; the difference flips
    the SAX word size whenever timespan/days_per_bin lands exactly on
    .5)."""
    return (
        f"CASE WHEN {x} - floor({x}) = 0.5 "
        f"THEN floor({x}) + CAST(floor({x}) AS BIGINT) % 2 "
        f"ELSE round({x}) END"
    )


def _beta_sql(alphabet_size: int) -> str:
    beta = sax_mod.BREAKPOINTS[int(alphabet_size)]
    return "[" + ", ".join(repr(float(b)) for b in beta) + "]"


def _d2_sum_sql(wa: str, wb: str, length: str, alphabet_size: int) -> str:
    """The MINDIST squared-letter-distance sum — THE parity-critical
    fragment (adjacent letters are distance 0, else the breakpoint gap
    squared, symbolic_representation.py:65-94). Single-sourced so a
    future change to the letter-distance rule cannot drift between the
    noslide, sliding, and hist/variogram oracles."""
    beta = _beta_sql(alphabet_size)
    return (
        f"list_sum(list_transform(generate_series(1, {length}), "
        f"k -> CASE WHEN abs({wa}[k] - {wb}[k]) <= 1 THEN 0.0e0 "
        f"ELSE power({beta}[GREATEST({wa}[k], {wb}[k])] "
        f"- {beta}[LEAST({wa}[k], {wb}[k]) + 1], 2) END))"
    )


def _sax_word_ctes(
    prefix: str, src: str, word_size: int, alphabet_size: int,
    eps: float = 1e-6,
) -> str:
    """CTE fragment: SAX word from a per-star list column. ``src`` must
    expose (star_id, vals, m) with m = the series length (feeds the
    scaling factor); emits ``{prefix}_words(star_id, m, word)``."""
    from ..functions.descriptors import _paa_list_sql

    return f"""
{prefix}_st AS (
  SELECT star_id, vals, m, list_avg(vals) AS mu FROM {src}
),
{prefix}_st2 AS (
  SELECT *, sqrt(list_avg(list_transform(vals, x -> (x - mu) * (x - mu)))) AS sd
  FROM {prefix}_st
),
{prefix}_norm AS (
  SELECT star_id, m,
         CASE WHEN sd < {eps!r} THEN list_transform(vals, x -> 0.0e0)
              ELSE list_transform(vals, x -> (x - mu) / sd) END AS vals
  FROM {prefix}_st2
),
{prefix}_nsrc AS (SELECT star_id, vals, m FROM {prefix}_norm),
{_paa_list_sql(prefix + "_paa", prefix + "_nsrc", word_size)},
{prefix}_words AS (
  SELECT w.star_id, n0.m AS m,
         list_transform(w.paa,
           v -> len(list_filter({_beta_sql(alphabet_size)}, b -> v >= b))) AS word
  FROM {prefix}_paa w JOIN {prefix}_norm n0 USING (star_id)
)"""


def _mindist_reduce_sql(
    words_cte: str, template_ids: list[int], word_size: int,
    alphabet_size: int, meth: str,
) -> str:
    """Final CTEs + SELECT: prefix MINDIST of every star's word against
    the template words (template-side scaling factor,
    symbolic_representation.py:65-94) and the compare.py:53-83 reduce."""
    beta = _beta_sql(alphabet_size)
    tpl = ", ".join(str(int(t)) for t in template_ids)
    scored = f"""
tw AS (
  SELECT star_id AS template_id, word AS t_word,
         sqrt(CAST(m AS DOUBLE) / {word_size}.0) AS t_scale
  FROM {words_cte} WHERE star_id IN ({tpl})
),
pr AS (
  SELECT w.star_id, t.template_id, t.t_scale,
         LEAST(len(w.word), len(t.t_word)) AS L,
         w.word AS wa, t.t_word AS wb
  FROM {words_cte} w, tw t
),
scored AS (
  SELECT star_id, template_id,
         t_scale * sqrt({_d2_sum_sql("wa", "wb", "L", alphabet_size)}) AS score
  FROM pr
)"""
    if meth == "closest":
        final = (
            "SELECT star_id, round(min(score), 6) AS feature "
            "FROM scored GROUP BY star_id"
        )
    elif meth == "average":
        final = (
            "SELECT star_id, round(avg(score), 6) AS feature "
            "FROM scored GROUP BY star_id"
        )
    elif meth.startswith("best"):
        frac = float(meth[4:])
        n = int(len(template_ids) * frac) if 0 < frac < 1 else int(frac)
        if n < 1:
            final = (
                "SELECT DISTINCT star_id, CAST('nan' AS DOUBLE) AS feature "
                "FROM scored"
            )
            return scored + "\n" + final
        final = f"""ranked AS (
  SELECT star_id, score,
         row_number() OVER (PARTITION BY star_id ORDER BY score) AS rk
  FROM scored
)
SELECT star_id, round(avg(score), 6) AS feature
FROM ranked WHERE rk <= {n} GROUP BY star_id"""
        return scored + ",\n" + final
    else:
        raise ValueError(meth)
    return scored + "\n" + final


def comparative_hist_sql(
    obs_sql: str, template_ids: list[int], bins: int = 10,
    alphabet_size: int = 10, meth: str = "closest",
) -> str:
    """DuckDB oracle for HistShapeDescr (hist_shape_descr.py:80-88):
    magnitude histogram (ekvi-PAA at bins=n incl. the fix_missing fill,
    mean-centering, ``bins`` linspace edges → bins−1 buckets with the
    numpy last-edge-inclusive rule, population-std normalize) → SAX word
    at word size ``bins`` → prefix MINDIST → reduce."""
    from ..functions.descriptors import _paa_list_sql, ekvi_fill_ctes_sql

    nb = int(bins) - 1  # edges → buckets
    return f"""{ekvi_fill_ctes_sql(obs_sql, "cnt")},
-- zero-timespan stars carry no measurable histogram shape: the engine
-- emits a NULL word for them (comparative_scores drops the star), so
-- the oracle drops them too
spanned AS (
  SELECT star_id FROM ({obs_sql}) GROUP BY star_id HAVING max(t) > min(t)
),
series AS (
  SELECT star_id, list(y ORDER BY bin) AS ys FROM filled
  WHERE star_id IN (SELECT star_id FROM spanned)
  GROUP BY star_id
),
centered AS (
  SELECT star_id, list_transform(ys, v -> v - list_avg(ys)) AS vals FROM series
),
edged AS (
  SELECT star_id, vals, list_min(vals) AS lo, list_max(vals) AS hi
  FROM centered
),
bucketed AS (
  -- numpy histogram semantics: edges[i] <= v < edges[i+1], last edge
  -- inclusive ⇒ bucket = #(interior edges <= v), interior edge_i =
  -- lo + i*(hi-lo)/{nb} for i in 1..{nb - 1}
  SELECT star_id,
         list_transform(vals, v -> len(list_filter(
           list_transform(generate_series(1, {nb - 1}),
                          i -> lo + i * (hi - lo) / {nb}.0),
           e -> v >= e))) AS codes
  FROM edged
),
counts AS (
  SELECT star_id,
         list_transform(generate_series(0, {nb - 1}),
           b -> CAST(len(list_filter(codes, c -> c = b)) AS DOUBLE)) AS hist
  FROM bucketed
),
hstats AS (
  SELECT star_id, hist, list_avg(hist) AS mu FROM counts
),
hstats2 AS (
  SELECT *, sqrt(list_avg(list_transform(hist, x -> (x - mu) * (x - mu)))) AS sd
  FROM hstats
),
hnorm AS (
  SELECT star_id,
         CASE WHEN sd < 1e-06 THEN list_transform(hist, x -> 0.0e0)
              ELSE list_transform(hist, x -> (x - mu) / sd) END AS vals
  FROM hstats2
),
-- second normalize (inside sax_word): integer histograms make exact
-- breakpoint hits structural, so the mean/var sums must replicate
-- numpy's pairwise-summation ORDER bit-for-bit (8 accumulators reduced
-- as ((r0+r1)+(r2+r3))+((r4+r5)+(r6+r7)) plus the tail) — a left fold
-- leaves an ~1e-17 residual that flips letters sitting on breakpoint 0
pw1 AS (
  SELECT star_id, vals, {_pw("vals", nb)} / {float(nb)!r} AS mu2 FROM hnorm
),
dev AS (
  SELECT star_id, vals, mu2,
         list_transform(vals, x -> (x - mu2) * (x - mu2)) AS dv
  FROM pw1
),
pw2 AS (
  SELECT star_id, vals, mu2, sqrt({_pw("dv", nb)} / {float(nb)!r}) AS sd2 FROM dev
),
h_n2 AS (
  SELECT star_id,
         CASE WHEN sd2 < 1e-06 THEN list_transform(vals, x -> 0.0e0)
              ELSE list_transform(vals, x -> (x - mu2) / sd2) END AS vals,
         {nb} AS m
  FROM pw2
),
{_paa_list_sql("h_paa", "h_n2", bins)[1:]},
h_words AS (
  SELECT w.star_id, n0.m AS m,
         list_transform(w.paa,
           v -> len(list_filter({_beta_sql(alphabet_size)}, b -> v >= b))) AS word
  FROM h_paa w JOIN h_n2 n0 USING (star_id)
),
{_mindist_reduce_sql("h_words", template_ids, bins, alphabet_size, meth)[1:]}
"""


def comparative_variogram_sql(
    obs_sql: str, template_ids: list[int], bins: int = 10,
    alphabet_size: int = 10, meth: str = "best2",
) -> str:
    """DuckDB oracle for VariogramShapeDescr
    (variogram_shape_descr.py:76-84): the variogram chain (PAA both
    axes, ordered pairs, sort, PAA, log10 of the value series) → SAX
    word at word size ``bins`` → prefix MINDIST → reduce."""
    from ..functions.descriptors import _paa_list_sql

    return f"""
WITH obs AS ({obs_sql}),
-- degenerate stars (<2 distinct timestamps → no positive lag) emit a
-- NULL word on the engine side; dropped here too — and DuckDB could
-- not even score them (log10 of a zero lag raises)
curves AS (
  SELECT star_id, list(t ORDER BY t, mag) AS ts,
         list(mag ORDER BY t, mag) AS mags,
         CAST(count(*) AS INT) AS n
  FROM obs GROUP BY star_id
  HAVING max(t) > min(t)
),
px_src AS (SELECT star_id, ts AS vals, n AS m FROM curves),
{_paa_list_sql("px", "px_src", bins)},
py_src AS (SELECT star_id, mags AS vals, n AS m FROM curves),
{_paa_list_sql("py", "py_src", bins)},
xy AS (
  SELECT px.star_id, px.paa AS xp, py.paa AS yp, len(px.paa) AS np
  FROM px JOIN py USING (star_id)
),
pair_k AS (
  SELECT star_id, xp, yp, np,
         unnest(generate_series(0, np * np - 1)) AS k
  FROM xy
),
pairs AS (
  SELECT star_id, k,
         abs(xp[CAST(k // np AS INT) + 1] - xp[CAST(k % np AS INT) + 1]) AS lag,
         (yp[CAST(k // np AS INT) + 1] - yp[CAST(k % np AS INT) + 1])
         * (yp[CAST(k // np AS INT) + 1] - yp[CAST(k % np AS INT) + 1]) AS val
  FROM pair_k
  WHERE CAST(k // np AS INT) <> CAST(k % np AS INT)
),
sorted AS (
  SELECT star_id,
         list(val ORDER BY lag, k) AS vals_s,
         CAST(count(*) AS INT) AS m
  FROM pairs GROUP BY star_id
),
pv_src AS (SELECT star_id, vals_s AS vals, m FROM sorted),
{_paa_list_sql("pv", "pv_src", bins)},
-- numpy's log10(0) is -inf, where DuckDB's raises: a curve of fewer
-- observations than bins repeats PAA frames, whose zero-lag pairs make
-- a zero first bin. The -inf turns the normalized series into NaN,
-- which both engines letter as the last letter (kernels.variogram)
va AS (
  SELECT star_id,
         list_transform(paa, v -> CASE WHEN v = 0 THEN CAST('-inf' AS DOUBLE)
                                       ELSE log10(v) END) AS vals,
         len(paa) AS m
  FROM pv
),
{_sax_word_ctes("v", "va", bins, alphabet_size)[1:]},
{_mindist_reduce_sql("v_words", template_ids, bins, alphabet_size, meth)}
"""


def reduce_scores(
    scores: DataFrame, meth: str = "average", n_templates: int | None = None
) -> DataFrame:
    """Per-star reduce of pair scores (compare.py:53-83).

    ``best<n>``: n an integer count or a (0,1) fraction of the template
    count — fraction needs ``n_templates`` (the reference uses
    ``len(coords)``, the number of scored templates).
    """
    valid = scores.filter(F.col("score").isNotNull() & ~F.isnan("score"))
    if meth == "closest":
        return valid.groupBy("star_id").agg(F.min("score").alias("feature"))
    if meth == "average":
        return valid.groupBy("star_id").agg(F.avg("score").alias("feature"))
    if meth.startswith("best"):
        raw = meth[4:]
        frac = float(raw)
        if 0 < frac < 1:
            if n_templates is None:
                raise ValueError("fractional best-n needs n_templates")
            n = int(n_templates * frac)
        else:
            n = int(frac)
        if n < 1:
            # reference semantics: np.mean of an empty slice is NaN —
            # keep one feature row per star rather than dropping stars
            return valid.select("star_id").distinct().withColumn(
                "feature", F.lit(float("nan"))
            )
        w = Window.partitionBy("star_id").orderBy(F.col("score").asc())
        return (
            valid.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= n)
            .groupBy("star_id")
            .agg(F.avg("score").alias("feature"))
        )
    raise ValueError(f"unknown reduce method: {meth}")


def comparative_slide_sql(
    obs_sql: str,
    template_ids: list[int],
    days_per_bin: float = 2.0,
    alphabet_size: int = 10,
    slide: float = 0.25,
    eps: float = 1e-6,
) -> str:
    """DuckDB oracle for ``curves_shape`` with sliding compare, averaged
    over templates — the full sliding re-SAX of
    curves_shape_descr.py:95-150 in SQL.

    Two branches, exactly as ``compare_curves_sax``:

    * equal word sizes: whole-curve words, equal-LENGTH requirement
      (not prefix), scale from the inspected side;
    * differing word sizes: the longer-ws curve is re-SAXed over raw
      sliding windows (window = n_long·ws_short/ws_long, advance =
      int(window − slide·window), ≤ MAX_ITER windows, each window
      normalized with its OWN mean/std), best (min) squared-letter sum
      vs the short curve's whole word wins; no comparable window → 1e9.

    Integer truncations mirror Python ``int()`` via ``trunc`` (DuckDB's
    double→INT CAST rounds); frame rule / breakpoints / letter distance
    reuse the noslide chain verbatim.
    """
    beta_sql = _beta_sql(alphabet_size)
    tpl = ", ".join(str(int(t)) for t in template_ids)
    dpb = repr(float(days_per_bin))
    sl = repr(float(slide))
    max_iter = sax_mod.MAX_ITER

    def d2_sum(wa: str, wb: str, length: str) -> str:
        return _d2_sum_sql(wa, wb, length, alphabet_size)

    return f"""
WITH obs AS ({obs_sql}),
curves AS (
  SELECT star_id, list(mag ORDER BY t, mag) AS mags,
         list(t ORDER BY t, mag) AS ts,
         CAST(count(*) AS INT) AS n
  FROM obs GROUP BY star_id
),
sized AS (
  SELECT star_id, mags, n,
         GREATEST(5, CAST({_round_half_even_sql(f'((list_max(ts) - list_min(ts)) / {dpb})')} AS INT)) AS ws
  FROM curves
),
stats AS (SELECT star_id, mags, n, ws, list_avg(mags) AS m FROM sized),
stats2 AS (
  SELECT *, sqrt(list_avg(list_transform(mags, x -> (x - m) * (x - m)))) AS s
  FROM stats
),
norm AS (
  SELECT star_id, n, ws,
         CASE WHEN s < {eps!r} THEN list_transform(mags, x -> 0.0e0)
              ELSE list_transform(mags, x -> (x - m) / s) END AS nm
  FROM stats2
),
idx AS (
  SELECT star_id, n, ws, nm,
         unnest(generate_series(0, CAST(2 * ws + 1 AS BIGINT))) AS i
  FROM norm
),
frames AS (
  SELECT star_id, n, ws, nm, i,
         CAST(ceil(CAST(n AS DOUBLE) / ws) AS INT) AS width,
         CAST(floor(CAST(i AS DOUBLE) * (CAST(n AS DOUBLE) / ws)) AS INT) AS start
  FROM idx
),
paa AS (
  SELECT star_id, n, ws, i,
         list_reduce(list_slice(nm, start + 1, start + width),
                     (acc, x) -> acc + x) / CAST(width AS DOUBLE) AS v
  FROM frames WHERE start <= n - width
),
lett AS (
  SELECT star_id, n, ws, i,
         len(list_filter({beta_sql}, b -> v >= b)) AS code
  FROM paa
),
words AS (
  SELECT star_id, any_value(n) AS n, any_value(ws) AS ws,
         list(code ORDER BY i) AS word
  FROM lett GROUP BY star_id
),
pairs AS (
  SELECT i.star_id, t.star_id AS template_id, i.ws AS a_ws, t.ws AS b_ws
  FROM sized i JOIN sized t ON t.star_id IN ({tpl})
),
eq_scores AS (
  -- slide path, ws_a == ws_b: one whole-curve word each, equal-length
  -- requirement, scale from the INSPECTED side (compare_curves_sax
  -- ws_a == ws_b branch)
  SELECT p.star_id, p.template_id,
         CASE WHEN len(wa.word) = len(wb.word)
              THEN sqrt(CAST(wa.n AS DOUBLE) / wa.ws)
                   * sqrt({d2_sum('wa.word', 'wb.word', 'len(wb.word)')})
              ELSE 1e9 END AS score
  FROM pairs p
  JOIN words wa ON wa.star_id = p.star_id
  JOIN words wb ON wb.star_id = p.template_id
  WHERE p.a_ws = p.b_ws
),
dmeta AS (
  -- differing ws: long/short assignment (template wins ties — there
  -- are none here, the equal branch took them), window geometry and
  -- python-int truncated advance
  SELECT d.star_id, d.template_id, d.short_id,
         sl.mags AS long_mags, sl.n AS long_n, sl.ws AS ws_l,
         ss.ws AS ws_s,
         (CAST(sl.n AS DOUBLE) * ss.ws) / sl.ws AS wind
  FROM (
    SELECT p.star_id, p.template_id,
           CASE WHEN p.b_ws >= p.a_ws THEN p.template_id ELSE p.star_id END AS long_id,
           CASE WHEN p.b_ws >= p.a_ws THEN p.star_id ELSE p.template_id END AS short_id
    FROM pairs p WHERE p.a_ws <> p.b_ws
  ) d
  JOIN sized sl ON sl.star_id = d.long_id
  JOIN sized ss ON ss.star_id = d.short_id
),
dwin AS (
  SELECT star_id, template_id, short_id, ws_s, long_mags, k,
         CAST(k * advance AS INT) AS from_i,
         CAST(trunc(k * advance + wind) AS INT) AS to_i
  FROM (SELECT *, CAST(trunc(wind - {sl} * wind) AS INT) AS advance FROM dmeta),
       unnest(generate_series(0, {max_iter - 1})) AS t(k)
  WHERE CAST(trunc(k * advance + wind) AS INT) <= long_n
),
wslice AS (
  SELECT star_id, template_id, ws_s, k,
         list_slice(long_mags, from_i + 1, to_i) AS sm,
         (to_i - from_i) AS wn
  FROM dwin
),
wstats AS (SELECT *, list_avg(sm) AS m FROM wslice),
wstats2 AS (
  SELECT *, sqrt(list_avg(list_transform(sm, x -> (x - m) * (x - m)))) AS s
  FROM wstats
),
wnorm AS (
  SELECT star_id, template_id, ws_s, k, wn,
         CASE WHEN s < {eps!r} THEN list_transform(sm, x -> 0.0e0)
              ELSE list_transform(sm, x -> (x - m) / s) END AS nm
  FROM wstats2
),
widx AS (
  SELECT star_id, template_id, ws_s, k, wn, nm,
         unnest(generate_series(0, CAST(2 * ws_s + 1 AS BIGINT))) AS i
  FROM wnorm
),
wfr AS (
  SELECT star_id, template_id, ws_s, k, wn, nm, i,
         CAST(ceil(CAST(wn AS DOUBLE) / ws_s) AS INT) AS width,
         CAST(floor(CAST(i AS DOUBLE) * (CAST(wn AS DOUBLE) / ws_s)) AS INT) AS start
  FROM widx
),
wpaa AS (
  SELECT star_id, template_id, k, i,
         list_reduce(list_slice(nm, start + 1, start + width),
                     (acc, x) -> acc + x) / CAST(width AS DOUBLE) AS v
  FROM wfr WHERE start <= wn - width
),
wlett AS (
  SELECT star_id, template_id, k, i,
         len(list_filter({beta_sql}, b -> v >= b)) AS code
  FROM wpaa
),
wwords AS (
  SELECT star_id, template_id, k, list(code ORDER BY i) AS wword
  FROM wlett GROUP BY star_id, template_id, k
),
dshort AS (SELECT DISTINCT star_id, template_id, short_id FROM dmeta),
dcand AS (
  SELECT w.star_id, w.template_id,
         {d2_sum('w.wword', 'sw.word', 'len(sw.word)')} AS ssum
  FROM wwords w
  JOIN dshort dm ON dm.star_id = w.star_id AND dm.template_id = w.template_id
  JOIN words sw ON sw.star_id = dm.short_id
  WHERE len(w.wword) = len(sw.word)
),
dmin AS (SELECT star_id, template_id, min(ssum) AS msum FROM dcand GROUP BY 1, 2),
diff_scores AS (
  SELECT dm.star_id, dm.template_id,
         COALESCE(sqrt(CAST(sw.n AS DOUBLE) / sw.ws) * sqrt(dmin.msum), 1e9) AS score
  FROM dshort dm
  JOIN words sw ON sw.star_id = dm.short_id
  LEFT JOIN dmin ON dmin.star_id = dm.star_id AND dmin.template_id = dm.template_id
),
allsc AS (
  SELECT * FROM eq_scores UNION ALL SELECT * FROM diff_scores
)
SELECT star_id, round(avg(score), 6) AS feature
FROM allsc GROUP BY star_id
"""
