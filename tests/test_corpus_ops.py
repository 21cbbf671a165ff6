"""Corpus-assembly semantics: stratified balance, packing contiguity,
TF-IDF ordering."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lightcurvesclassifier_spark.operators import corpus, text
from lightcurvesclassifier_spark.sources import testdata
from tests.conftest import SF_ORACLE


def test_stratified_sample_balanced_and_deterministic(spark):
    docs = testdata.load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "lang"
    )
    out = corpus.stratified_sample(docs, "lang", "doc_id", 10).toPandas()
    per = out.groupby("lang").size()
    full = docs.groupBy("lang").count().toPandas().set_index("lang")["count"]
    for lang, n in per.items():
        assert n == min(10, full[lang])  # capped at stratum size
    # deterministic: same rows on re-run
    again = corpus.stratified_sample(docs, "lang", "doc_id", 10).toPandas()
    assert set(out.doc_id) == set(again.doc_id)


def test_pack_sequences_contiguous_stream(spark):
    """Within each shard the doc offsets tile the token stream exactly:
    sorted by id, each doc starts where the previous ended, and chunk
    spans cover [start, start+n) with seq_len blocks."""
    docs = testdata.load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "text"
    )
    out = corpus.pack_sequences(docs, seq_len=128, n_shards=4).toPandas()
    assert (out.shard == out.doc_id % 4).all()
    for shard, g in out.groupby("shard"):
        g = g.sort_values("doc_id")
        expect = 0
        for _, r in g.iterrows():
            assert r.start_tok == expect
            assert r.first_chunk == r.start_tok // 128
            assert r.last_chunk == (r.start_tok + r.n_tokens - 1) // 128
            expect += r.n_tokens


def test_tfidf_rare_term_outranks_stopword(spark):
    rows = [
        (1, "the the the the zebra"),
        (2, "the quick brown fox"),
        (3, "the lazy dog sleeps"),
        (4, "the cat naps"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.tfidf_top_terms(docs, k=2).toPandas()
    d1 = out[out.doc_id == 1].sort_values("term_rank")
    # 'the' has tf=4 but df=4 (idf=1 exactly); 'zebra' tf=1 df=1.
    # the: 4 * (ln(5/5)+1) = 4.0 ; zebra: 1 * (ln(5/2)+1) ≈ 1.916
    assert list(d1.term) == ["the", "zebra"]
    # but in a doc where 'the' appears once, the rare term wins
    d2 = out[out.doc_id == 2].sort_values("term_rank")
    assert d2.iloc[0].term != "the"
    # every doc has exactly min(k, n_distinct_terms) rows
    assert (out.groupby("doc_id").size() <= 2).all()
    assert (out[out.doc_id == 1].tfidf.round(6) == out[out.doc_id == 1].tfidf).all()


def test_mixture_sample_rates_and_determinism(spark):
    docs = testdata.load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "lang"
    )
    weights = {"en": 0.8, "de": 0.2}
    out = corpus.mixture_sample(docs, "lang", "doc_id", weights).toPandas()
    # unlisted strata dropped entirely
    assert set(out.lang) <= {"en", "de"}
    full = docs.groupBy("lang").count().toPandas().set_index("lang")["count"]
    got = out.groupby("lang").size()
    for lang, w in weights.items():
        if full.get(lang, 0) >= 30:
            rate = got.get(lang, 0) / full[lang]
            assert abs(rate - w) < 0.2  # md5 uniformity, small-n tolerance
    again = corpus.mixture_sample(docs, "lang", "doc_id", weights).toPandas()
    assert set(out.doc_id) == set(again.doc_id)


def test_mixture_sample_weight_one_keeps_stratum_in_full(spark, duck):
    """w=1.0 must keep every row of the stratum (the naive 9-hex-char
    bound silently dropped ~15/16 of them), and out-of-range weights
    raise instead of silently misbehaving."""
    import pytest

    docs = testdata.load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "lang", "text"
    )
    n_en = docs.filter("lang = 'en'").count()
    out = corpus.mixture_sample(docs, "lang", "doc_id", {"en": 1.0})
    assert out.count() == n_en
    sql = corpus.mixture_sample_sql(
        "SELECT * FROM documents", "lang", "doc_id", {"en": 1.0},
        "doc_id, lang",
    )
    assert duck.execute(sql).df().shape[0] == n_en
    with pytest.raises(ValueError):
        corpus.mixture_sample(docs, "lang", "doc_id", {"en": 1.5})
    with pytest.raises(ValueError):
        corpus.mixture_sample_sql(
            "SELECT * FROM documents", "lang", "doc_id", {"en": -0.1}, "*"
        )


def test_pii_redact_planted(spark):
    from lightcurvesclassifier_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            (1, "write to alice@mail.example.org or bob@x.io please"),
            (2, "host 192.168.1.254 then call +1 555-0001"),
            (3, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    out = text_ops.pii_redact(docs).toPandas().set_index("doc_id")
    assert out.loc[1, "n_emails"] == 2 and out.loc[1, "n_ips"] == 0
    assert out.loc[2, "n_ips"] == 1 and out.loc[2, "n_phones"] == 1
    assert out.loc[3, ["n_emails", "n_ips", "n_phones"]].sum() == 0
    # redacted text no longer matches the raw md5 when something was found
    import hashlib

    raw3 = hashlib.md5(b"no pii here at all").hexdigest()
    assert out.loc[3, "redacted_md5"] == raw3
    raw1 = hashlib.md5(
        b"write to alice@mail.example.org or bob@x.io please"
    ).hexdigest()
    assert out.loc[1, "redacted_md5"] != raw1


def test_repetition_features_literal(spark):
    from lightcurvesclassifier_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "a a a a b"), (2, "w x y z"), (3, "solo")],
        "doc_id long, text string",
    )
    out = text_ops.repetition_features(docs).toPandas().set_index("doc_id")
    # doc 1: 5 tokens, 2 distinct → dup frac 0.6; bigrams: 'a a'×3,'a b'×1
    assert out.loc[1, "dup_token_frac"] == 0.6
    assert out.loc[1, "top_bigram_frac"] == 0.75
    assert out.loc[2, "dup_token_frac"] == 0.0
    assert out.loc[2, "top_bigram_frac"] == 1.0 / 3.0 or abs(
        out.loc[2, "top_bigram_frac"] - 0.333333
    ) < 1e-9
    # 1-token doc: no bigrams → dropped by the inner join (both engines)
    assert 3 not in out.index


def test_detrend_clips_planted_outlier(spark):
    import numpy as np

    from lightcurvesclassifier_spark.functions.curves import detrend_stats

    rng = np.random.default_rng(5)
    t = np.linspace(0.0, 10.0, 101)
    y = 14.0 + 0.3 * t + rng.normal(0, 0.01, 101)
    y[50] += 5.0  # gross outlier
    rows = [(1, float(ti), float(yi)) for ti, yi in zip(t, y)]
    obs = spark.createDataFrame(rows, "star_id long, t double, mag double")
    out = detrend_stats(obs).toPandas().iloc[0]
    assert out.n_obs == 101 and out.n_clipped >= 1
    # refit after clipping recovers the planted slope tightly
    assert abs(out.slope_clip - 0.3) < 0.01
    # unclipped fit is pulled by the outlier more than the clipped one
    assert abs(out.slope - 0.3) >= abs(out.slope_clip - 0.3)


def test_numeric_profile_nulls_and_quartiles(spark):
    from lightcurvesclassifier_spark.operators.profile import numeric_profile

    df = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (4.0,), (None,)], "x double"
    )
    out = numeric_profile(df, ["x"]).toPandas().iloc[0]
    assert out.n == 5 and out.n_null == 1
    assert (out.min_v, out.max_v, out.mean_v) == (1.0, 4.0, 2.5)
    # exact linear-interpolated quartiles over the 4 non-null values
    assert (out.p25, out.p50, out.p75) == (1.75, 2.5, 3.25)


def test_chunk_documents_invariants(spark):
    """Window arithmetic: stride spacing, full coverage, clamped tail,
    and single-chunk short docs."""
    from lightcurvesclassifier_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(100))),  # 100 tokens
            (2, " ".join(f"u{i}" for i in range(5))),    # shorter than chunk
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_size=32, overlap=8).toPandas()
    d1 = out[out.doc_id == 1].sort_values("chunk_idx")
    # stride 24: starts 0, 24, 48, 72 → ceil((100-8)/24) = 4 chunks
    assert list(d1.start_tok) == [0, 24, 48, 72]
    assert list(d1.n_chunk_tokens) == [32, 32, 32, 28]  # tail clamped
    # consecutive chunks overlap by 8 tokens
    assert (d1.start_tok.iloc[1:] - d1.start_tok.iloc[:-1].values == 24).all()
    # every token covered: last chunk reaches the end
    assert d1.start_tok.iloc[-1] + d1.n_chunk_tokens.iloc[-1] == 100
    d2 = out[out.doc_id == 2]
    assert len(d2) == 1 and d2.n_chunk_tokens.iloc[0] == 5


def test_unigram_logprob_orders_typicality(spark):
    """A doc of corpus-common tokens scores higher (less negative) than
    a doc of singletons; scores are proper log-probs (< 0)."""
    from lightcurvesclassifier_spark.operators.text import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "the the the the"), (2, "zq xv jk wp"), (3, "the the zq xv")],
        "doc_id long, text string",
    )
    out = unigram_logprob(docs).toPandas().set_index("doc_id")
    assert (out.mean_logprob < 0).all()
    assert out.loc[1, "mean_logprob"] > out.loc[3, "mean_logprob"] > out.loc[2, "mean_logprob"]
    assert out.loc[1, "n_tokens"] == 4


def test_length_buckets_semantics(spark):
    """Bucket floor is the largest power of two <= n_tokens; pad waste is
    against the bucket cap 2*floor - 1."""
    docs = spark.createDataFrame(
        [
            (1, "a"),                          # 1 token  -> floor 1, cap 1
            (2, "a b c"),                      # 3 tokens -> floor 2, cap 3
            (3, "a b c d"),                    # 4 tokens -> floor 4, cap 7
            (4, " ".join(["t"] * 100)),        # 100      -> floor 64, cap 127
            (5, " ".join(["t"] * 2000)),       # 2000     -> floor 1024 (top)
        ],
        "doc_id long, text string",
    )
    out = corpus.length_buckets(docs).toPandas().set_index("bucket_floor")
    assert out.loc[1, "n_docs"] == 1 and out.loc[1, "pad_waste_frac"] == 0.0
    assert out.loc[2, "sum_tokens"] == 3 and out.loc[2, "pad_waste_frac"] == 0.0
    assert abs(out.loc[4, "pad_waste_frac"] - (1 - 4 / 7)) < 1e-6
    assert out.loc[64, "n_docs"] == 1
    assert out.loc[1024, "sum_tokens"] == 2000  # top bucket is open-ended


def test_domain_stats_planted(spark):
    """Planted URLs roll up per domain: cdn{k}.example.org gets hits from
    both the %9==0 and %9==1 plants; www.site{k}.test only from %9==1;
    docs without plants contribute nothing."""
    corpus_df = testdata.url_corpus(spark, SF_ORACLE)
    out = text.domain_stats(corpus_df).toPandas()
    doms = set(out.domain)
    assert any(d.startswith("cdn") and d.endswith(".example.org") for d in doms)
    assert any(d.startswith("www.site") and d.endswith(".test") for d in doms)
    # every %9==1 doc contributes one site URL and one cdn URL
    n_plant1 = sum(1 for i in range(500) if i % 9 == 1)
    assert out[out.domain.str.startswith("www.site")].n_urls.sum() == n_plant1
    # n_docs <= n_urls always; no empty domains
    assert (out.n_docs <= out.n_urls).all() and (out.domain != "").all()


def test_normalize_text_planted_noise(spark):
    """Each planted noise class comes out as the clean lowercase ASCII
    form; already-clean text is a fixed point (idempotence)."""
    import hashlib

    rows = [
        (1, "  \t“Hello  World” — fin "),
        (2, "SHOUTING TEXT\r\n"),
        (3, "a ‘quoted’ word"),
        (4, "already clean text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r for r in text.normalize_text(df).collect()
    }
    expected = {
        1: '"hello world" - fin',
        2: "shouting text",
        3: "a 'quoted' word",
        4: "already clean text",
    }
    for did, want in expected.items():
        got = out[did]
        assert got["norm_md5"] == hashlib.md5(want.encode()).hexdigest(), did
        assert got["n_chars_norm"] == len(want)
        assert got["n_chars_raw"] == len(rows[did - 1][1])
    # idempotence: re-normalizing the normalized form changes nothing
    clean = spark.createDataFrame(
        [(k, v) for k, v in expected.items()], "doc_id long, text string"
    )
    again = {r["doc_id"]: r for r in text.normalize_text(clean).collect()}
    for did, want in expected.items():
        assert again[did]["n_chars_norm"] == again[did]["n_chars_raw"]


def test_shuffle_shards_deterministic_permutation(spark):
    import pytest

    docs = testdata.load_table(spark, SF_ORACLE, "documents").select("doc_id")
    a = corpus.shuffle_shards(docs, "doc_id", n_shards=8, seed="s0").collect()
    b = corpus.shuffle_shards(docs, "doc_id", n_shards=8, seed="s0").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    # a true permutation: every doc exactly once, shard positions contiguous
    n_docs = docs.count()
    assert len(a) == n_docs
    assert len({r["doc_id"] for r in a}) == n_docs
    by_shard: dict[int, list[int]] = {}
    for r in a:
        assert 0 <= r["shard"] < 8
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # epoch reshuffle: a different seed is a different permutation
    c = corpus.shuffle_shards(docs, "doc_id", n_shards=8, seed="s1").collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))
    with pytest.raises(ValueError):
        corpus.shuffle_shards(docs, n_shards=0)


def test_temperature_sample_flattens_head(spark):
    import pytest

    docs = testdata.load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "lang"
    )
    counts = {r["lang"]: r["cnt"] for r in
              docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    out = corpus.temperature_sample(docs, "lang", "doc_id", alpha=0.5).collect()
    rates = {}
    kept: dict[str, int] = {}
    for r in out:
        rates[r["lang"]] = r["rate"]
        kept[r["lang"]] = kept.get(r["lang"], 0) + 1
    # the rarest language is kept in full (rate 1.0), and rates are
    # anti-monotone in corpus share: bigger language -> smaller rate
    rare = min(counts, key=counts.get)
    assert rates[rare] == 1.0 and kept[rare] == counts[rare]
    ordered = sorted(counts, key=counts.get)
    for small, big in zip(ordered, ordered[1:]):
        assert rates[big] <= rates[small]
    # realized keep-fraction tracks the rate (md5 fraction is uniform)
    for lang, rate in rates.items():
        frac = kept[lang] / counts[lang]
        assert abs(frac - rate) < 0.15, (lang, frac, rate)
    # alpha=1 is the no-op temperature: every rate is 1.0
    flat = corpus.temperature_sample(docs, "lang", "doc_id", alpha=1.0)
    assert all(r["rate"] == 1.0 for r in flat.collect())
    with pytest.raises(ValueError):
        corpus.temperature_sample(docs, alpha=0.0)


def test_quality_buckets_partitions_without_global_sort(spark):
    """Buckets cover [1, n], are monotone in score, and the plan has no
    single-partition global sort (the ntile trap)."""
    import pytest

    rows = [(i, float(i)) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    out = corpus.quality_buckets(df, "score", "doc_id", n_buckets=4)
    got = sorted((r["score"], r["bucket"]) for r in out.collect())
    # 100 evenly spread scores into quartiles: monotone, all 4 present
    assert {b for _, b in got} == {1, 2, 3, 4}
    assert all(b1 <= b2 for (_, b1), (_, b2) in zip(got, got[1:]))
    # equal scores always land in the same bucket
    dup = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, 1.0), (4, 9.0)], "doc_id long, score double"
    )
    res = {r["doc_id"]: r["bucket"] for r in
           corpus.quality_buckets(dup, n_buckets=2).collect()}
    assert res[1] == res[2]
    # plan: no Window/ntile — boundary row is broadcast
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    with pytest.raises(ValueError):
        corpus.quality_buckets(df, n_buckets=1)


def test_token_budget_sample_exact_boundary(spark):
    """The selection is the minimal md5-order prefix meeting the budget:
    every kept doc starts under budget, the crossing doc is kept, and
    dropping the last kept doc would undershoot."""
    import pytest

    docs = testdata.load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "lang", "text"
    )
    out = corpus.token_budget_sample(docs, budget=500, stratum_col="lang")
    rows = out.collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        rs = sorted(rs, key=lambda r: r["cum_tokens"])
        # running sum is internally consistent
        run = 0
        for r in rs:
            assert r["cum_tokens"] == run + r["n_tokens"]
            assert run < 500  # started under budget
            run = r["cum_tokens"]
        assert run >= 500 or len(rs) == docs.filter(
            F.col("lang") == lang
        ).count()  # met the budget unless the stratum ran out
    # determinism
    again = sorted(map(tuple, out.collect()))
    assert again == sorted(map(tuple, rows))
    with pytest.raises(ValueError):
        corpus.token_budget_sample(docs, budget=0)


def test_weighted_sample_prefers_heavy_rows_and_is_take_ordered(spark):
    import __spark_entry__ as em
    from pyspark.sql import functions as F
    from lightcurvesclassifier_spark.operators import corpus
    from tests.conftest import SF_SMOKE, SF_ORACLE
    from lightcurvesclassifier_spark.sources import testdata

    # statistical: across 10 seeds, a doc with 10x weight is sampled
    # ~10x as often (A-ES inclusion scales with weight for k << N)
    rows = [(i, 10.0 if i % 10 == 0 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    heavy_hits = light_hits = 0
    for s in range(10):
        got = corpus.weighted_sample(df, "w", k=20, seed=f"s{s}").collect()
        heavy_hits += sum(1 for r in got if r.weight == 10.0)
        light_hits += sum(1 for r in got if r.weight == 1.0)
    # 20 heavy docs carry 200/380 of the total weight; expect heavy to
    # take roughly half of each draw — assert a conservative margin
    assert heavy_hits > 1.5 * (light_hits / 9), (heavy_hits, light_hits)

    # zero/negative weights never sampled
    df2 = spark.createDataFrame(
        [(1, 0.0), (2, -1.0), (3, 5.0)], "doc_id long, w double"
    )
    got2 = corpus.weighted_sample(df2, "w", k=3).collect()
    assert [r.doc_id for r in got2] == [3]

    # plan: distributed TakeOrdered, no global sort, no Python
    plan = (
        em.queries()["weighted_sample"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan
    assert "Python" not in plan


def test_embedding_profile_matches_numpy(spark):
    from lightcurvesclassifier_spark.operators import profile as profile_ops

    emb = testdata.load_table(spark, SF_ORACLE, "embeddings")
    got = (
        profile_ops.embedding_profile(emb)
        .toPandas()
        .sort_values("dim")
        .reset_index(drop=True)
    )
    import numpy as np

    mat = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    assert len(got) == mat.shape[1]
    assert (got.n == mat.shape[0]).all()
    assert np.allclose(got.mean_v, np.round(mat.mean(axis=0), 6), atol=2e-6)
    assert np.allclose(got.std_v, np.round(mat.std(axis=0), 6), atol=2e-6)
    assert np.allclose(got.min_v, np.round(mat.min(axis=0), 6), atol=1e-9)
    assert np.allclose(got.max_v, np.round(mat.max(axis=0), 6), atol=1e-9)


def test_dq_referential_counts_planted_orphans(spark):
    """The orphan path: child keys 4 and NULL have no parent → n_bad=2;
    the clean parent join contributes zero."""
    from lightcurvesclassifier_spark.operators import profile as profile_ops

    child = spark.createDataFrame(
        [(1, "a"), (2, "b"), (4, "c"), (None, "d")], "k int, v string"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    out = profile_ops.dq_audit(
        {"child": child, "parent": parent},
        referential=[("orphans", "child", "k", "parent", "pk")],
        predicate=[],
    ).collect()
    assert len(out) == 1
    assert out[0].check_name == "orphans"
    assert out[0].n_rows == 4
    assert out[0].n_bad == 2
    assert out[0].bad_rate == 0.5


def test_dq_predicate_null_counts_as_violation(spark):
    from lightcurvesclassifier_spark.operators import profile as profile_ops

    df = spark.createDataFrame(
        [(1.0,), (-2.0,), (None,)], "x double"
    )
    out = profile_ops.dq_audit(
        {"t": df}, referential=[], predicate=[("neg_x", "t", "x < 0")]
    ).collect()
    # -2.0 violates; NULL is unevaluable → counted as a violation
    assert [r.check_name for r in out] == ["neg_x"]
    assert out[0].n_rows == 3
    assert out[0].n_bad == 2


def test_percentile_auto_switch_exact_below_sketch_above(spark, monkeypatch):
    """The exact→t-digest auto-switch (r4 directive): below the row
    threshold the plan uses the sort-based exact percentile (oracle
    path); above it (forced here by zeroing the threshold) both
    quality_buckets and numeric_profile flip to approx_percentile —
    the mergeable 100 TB default — with boundaries inside the sketch
    error bound (≥95% bucket agreement on a smooth score column)."""
    from lightcurvesclassifier_spark.operators import profile as profile_ops

    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 37 % 97) / 7.0).alias("score"),
    )
    exact = corpus.quality_buckets(df, exact=True).toPandas()
    auto_small = corpus.quality_buckets(df)  # auto: 500 < threshold
    assert "percentile_approx" not in (
        auto_small._jdf.queryExecution().executedPlan().toString()
    )
    assert auto_small.toPandas().sort_values("doc_id").reset_index(
        drop=True
    ).equals(exact.sort_values("doc_id").reset_index(drop=True))

    monkeypatch.setattr(profile_ops, "EXACT_PERCENTILE_MAX_ROWS", 0)
    sketch_df = corpus.quality_buckets(df)  # auto: now above threshold
    assert "percentile_approx" in (
        sketch_df._jdf.queryExecution().executedPlan().toString()
    )
    s = sketch_df.toPandas().sort_values("doc_id").reset_index(drop=True)
    e = exact.sort_values("doc_id").reset_index(drop=True)
    agree = (s.bucket == e.bucket).mean()
    assert agree >= 0.95, f"bucket agreement {agree}"

    prof = profile_ops.numeric_profile(df, ["score"])
    assert "percentile_approx" in (
        prof._jdf.queryExecution().executedPlan().toString()
    )
    row = prof.collect()[0]
    erow = profile_ops.numeric_profile(df, ["score"], exact=True).collect()[0]
    for c in ("p25", "p50", "p75"):
        assert abs(row[c] - erow[c]) <= 0.5, (c, row[c], erow[c])


def test_line_scrub_drops_cross_doc_boilerplate_preserves_order(spark):
    import hashlib

    docs = [(i, f"unique head {i}\nBOILER\nunique tail {i}") for i in range(12)]
    docs.append((99, "solo head\nsolo mid\nsolo tail"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in text.line_scrub(df, min_docs=10).collect()}
    # BOILER appears in 12 docs → dropped everywhere; unique lines kept
    assert out[0].n_kept == 2
    assert out[0].clean_md5 == hashlib.md5(
        b"unique head 0\nunique tail 0"
    ).hexdigest()
    # below-threshold doc untouched, order preserved
    assert out[99].n_kept == 3
    assert out[99].clean_md5 == hashlib.md5(
        b"solo head\nsolo mid\nsolo tail"
    ).hexdigest()


def test_line_scrub_keeps_fully_scrubbed_docs(spark):
    """A document whose EVERY line is boilerplate must still appear in
    the output as (n_kept=0, md5('')) — 'fully scrubbed' must be
    distinguishable from 'absent' (r4 advice regression)."""
    import hashlib

    docs = [(i, f"unique {i}\nBOILER") for i in range(12)]
    docs.append((99, "BOILER"))  # nothing but boilerplate
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in text.line_scrub(df, min_docs=10).collect()}
    assert len(out) == 13  # output covers every input document
    assert out[99].n_kept == 0
    assert out[99].clean_md5 == hashlib.md5(b"").hexdigest()
    assert out[0].n_kept == 1


def test_gopher_quality_rules_match_direct_recomputation(spark):
    """Per-rule booleans recomputed in pure Python from the raw text;
    keep == conjunction; the corpus must split (both keeps and drops)."""
    from lightcurvesclassifier_spark.operators import text as text_ops
    from lightcurvesclassifier_spark.sources import testdata
    from tests.conftest import SF_ORACLE

    docs = testdata.load_table(spark, SF_ORACLE, "documents")
    out = (
        text_ops.gopher_quality_filter(docs).toPandas().set_index("doc_id")
    )
    p = text_ops.GOPHER_DEFAULTS
    sw = set(text_ops.STOPWORDS)
    raw = docs.select("doc_id", "text").toPandas()
    assert out["keep"].any() and (~out["keep"]).any()
    for r in raw.itertuples():
        toks = r.text.split(" ")
        n, n_chars = len(toks), len(r.text)
        row = out.loc[r.doc_id]
        assert row["pass_word_count"] == (
            p["min_words"] <= n <= p["max_words"]
        )
        # true mean word length: separators excluded
        assert row["pass_avg_word_len"] == (
            p["min_avg_word_len"]
            <= (n_chars - (n - 1)) / n
            <= p["max_avg_word_len"]
        )
        assert (n_chars - (n - 1)) / n == sum(len(t) for t in toks) / n
        symbols = sum(c in ".,!?;:" for c in r.text)
        assert row["pass_symbol_ratio"] == (
            n_chars > 0 and symbols / n_chars <= p["max_symbol_ratio"]
        )
        assert row["pass_stopwords"] == (
            len({t for t in toks if t in sw})
            >= p["min_distinct_stopwords"]
        )
        dup_frac = (n - len(set(toks))) / n
        assert row["pass_repetition"] == (
            dup_frac <= p["max_dup_token_frac"]
        )
        # r9 rules (paper §A1.1 completions)
        import re

        lines = r.text.split("\n")
        hashes = r.text.count("#")
        ells = (n_chars - len(r.text.replace("...", ""))) / 3 + r.text.count(
            "…"
        )
        assert row["pass_symbol_words"] == (
            (hashes + ells) / n <= p["max_symbol_word_ratio"]
        )
        bullets = sum(bool(re.match(r"^\s*[-*•]", x)) for x in lines)
        assert row["pass_bullet_lines"] == (
            bullets / len(lines) <= p["max_bullet_line_frac"]
        )
        ell_lines = sum(
            bool(re.search(r"(\.\.\.|…)\s*$", x)) for x in lines
        )
        assert row["pass_ellipsis_lines"] == (
            ell_lines / len(lines) <= p["max_ellipsis_line_frac"]
        )
        alpha = sum(bool(re.search("[A-Za-z]", x)) for x in toks)
        assert row["pass_alpha_words"] == (alpha / n >= p["min_alpha_word_frac"])
        assert row["keep"] == all(
            row[c]
            for c in (
                "pass_word_count", "pass_avg_word_len",
                "pass_symbol_ratio", "pass_symbol_words",
                "pass_bullet_lines", "pass_ellipsis_lines",
                "pass_alpha_words", "pass_stopwords", "pass_repetition",
            )
        )


def test_gopher_line_and_symbol_rules_on_planted_docs(spark):
    """The synthetic corpus is single-line alphabetic text, where the
    r9 rules pass trivially — plant line-structured / symbol-heavy docs
    that exercise every new rule in both directions."""
    from lightcurvesclassifier_spark.operators import text as text_ops

    def line(i):
        # distinct alphabetic words per line + stopwords, so only the
        # rule under test fires (dup fraction stays low, avg len 3-10)
        return " ".join(f"alpha{i}x{j}" for j in range(12)) + " the and"

    docs = spark.createDataFrame(
        [
            # > 90% bullet lines (10/10) -> drop
            (1, "\n".join("- " + line(i) for i in range(10))),
            # 50% bullet lines -> pass bullet rule
            (2, "\n".join(
                ("- " if i % 2 else "") + line(i) for i in range(10)
            )),
            # > 30% ellipsis-ended lines (2/4) -> drop
            (3, "\n".join(
                line(i) + ("..." if i < 2 else "") for i in range(4)
            )),
            # hash-heavy: > 0.1 symbols per word -> drop
            (4, line(0) + " " + line(1) + " " + "#" * 20),
            # numeric tokens: < 80% alphabetic words -> drop
            (5, line(0) + " " + " ".join(str(i) for i in range(60))),
            # clean multi-line doc -> keep
            (6, "\n".join(line(i) for i in range(3))),
        ],
        "doc_id long, text string",
    )
    out = text_ops.gopher_quality_filter(docs).toPandas().set_index("doc_id")
    assert not out.loc[1, "pass_bullet_lines"] and out.loc[2, "pass_bullet_lines"]
    assert not out.loc[3, "pass_ellipsis_lines"]
    assert not out.loc[4, "pass_symbol_words"]
    assert not out.loc[5, "pass_alpha_words"]
    assert out.loc[6, "keep"]
    for d in (1, 3, 4, 5):
        assert not out.loc[d, "keep"], d


def test_c4_filter_rules_on_derived_corpus(spark):
    """Every C4 rule fires on its planted doc subset: the head line
    drops without terminal punctuation (doc_id%4==3), 'click here'
    misses the 5-word floor (%5==0), the javascript boilerplate line
    drops (%7==0), and the page-level lorem-ipsum / brace poisons kill
    their docs (%11==0 / %13==0) regardless of line survival."""
    docs = testdata.c4_corpus(spark, SF_ORACLE)
    out = text.c4_filter(docs).toPandas().set_index("doc_id")
    assert len(out) == 500
    for d, r in out.iterrows():
        exp_kept = (d % 4 != 3) + (d % 5 != 0) + (d % 7 != 0) + 1
        assert r.n_lines == 4
        assert r.n_lines_kept == exp_kept
        exp_keep = exp_kept >= 3 and d % 11 != 0 and d % 13 != 0
        assert bool(r.keep) == exp_keep, d
        assert "javascript" not in r.clean_text
        assert len(r.clean_text.split("\n")) == exp_kept
    # every rule must actually fire somewhere
    assert (~out.pass_min_lines).any()
    assert (~out.pass_lorem_ipsum).any()
    assert (~out.pass_no_brace).any()
    assert out.keep.any() and (~out.keep).any()


def test_dsir_weights_match_pure_python_and_prefer_target(spark):
    """Independent ground truth: recompute every doc's DSIR weight in
    pure Python (hashlib md5 buckets, add-1 smoothing, same ln
    expression order) and require exact equality after rounding; the
    selection must be the top-k by (weight, doc_id) and must prefer
    the target language far above its base rate."""
    import hashlib
    import math

    docs = testdata.load_table(spark, SF_ORACLE, "documents")
    out = corpus.dsir_weights(
        docs.select("doc_id", "text"),
        docs.filter(F.col("lang") == "en").select("doc_id", "text"),
        n_buckets=128,
        k=50,
    ).toPandas().set_index("doc_id")
    pdf = docs.select("doc_id", "text", "lang").toPandas()

    def buckets(t):
        w = t.split(" ")
        return [
            int(hashlib.md5(f"{a} {b}".encode()).hexdigest()[:4], 16) % 128
            for a, b in zip(w, w[1:])
        ]

    cr, ct = [0] * 128, [0] * 128
    feats = {}
    for r in pdf.itertuples():
        feats[r.doc_id] = buckets(r.text)
        for b in feats[r.doc_id]:
            cr[b] += 1
            if r.lang == "en":
                ct[b] += 1
    nr, nt = sum(cr), sum(ct)
    llr = [
        math.log(ct[b] + 1) - math.log(nt + 128)
        - math.log(cr[b] + 1) + math.log(nr + 128)
        for b in range(128)
    ]
    for r in pdf.itertuples():
        w = round(sum(llr[b] for b in feats[r.doc_id]), 6)
        got = out.loc[r.doc_id]
        assert abs(got.weight - w) < 2e-6, (r.doc_id, got.weight, w)
        assert got.n_feats == len(feats[r.doc_id])
    top = set(
        out.sort_values(["weight", "doc_id"], ascending=[False, True])
        .head(50).index
    )
    assert set(out[out.selected].index) == top
    sel_langs = pdf.set_index("doc_id").loc[sorted(top)].lang
    en_rate = (pdf.lang == "en").mean()
    assert (sel_langs == "en").mean() > en_rate + 0.2


def test_ccnet_buckets_balanced_terciles_per_lang(spark):
    """CCNet semantics: per language the three buckets differ in size
    by ≤1 (ntile), labels map 1/2/3 → head/middle/tail, and mean
    perplexity is monotone head ≤ middle ≤ tail."""
    docs = testdata.load_table(spark, SF_ORACLE, "documents")
    out = text.ccnet_ppl_buckets(docs).toPandas()
    assert len(out) == 500
    assert set(out.ppl_label) == {"head", "middle", "tail"}
    lab = {1: "head", 2: "middle", 3: "tail"}
    assert (out.ppl_label == out.ppl_bucket.map(lab)).all()
    for lang, g in out.groupby("lang"):
        sizes = g.ppl_bucket.value_counts()
        assert sizes.max() - sizes.min() <= 1
        m = g.groupby("ppl_label").perplexity.mean()
        assert m["head"] <= m["middle"] <= m["tail"]


def test_url_blocklist_subdomain_and_exact_rules(spark):
    """The suffix rule blocks exact hosts and subdomains but never
    LOOK-ALIKE domains (notexample.org), and docs without URLs keep."""
    rows = [
        (1, "read https://example.org/a now"),          # exact
        (2, "see https://cdn3.example.org/b too"),      # subdomain
        (3, "but https://notexample.org/c is fine"),    # look-alike
        (4, "and http://EXAMPLE.ORG/d uppercase"),      # case-fold
        (5, "no urls at all here"),
        (6, "mix https://ok.test/x https://a.example.org/y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        text.url_blocklist_filter(df, ["example.org"])
        .toPandas()
        .set_index("doc_id")
    )
    assert not out.loc[1, "keep"] and out.loc[1, "n_blocked_urls"] == 1
    assert not out.loc[2, "keep"]
    assert out.loc[3, "keep"] and out.loc[3, "n_urls"] == 1
    assert not out.loc[4, "keep"]
    assert out.loc[5, "keep"] and out.loc[5, "n_urls"] == 0
    assert not out.loc[6, "keep"] and out.loc[6, "n_blocked_urls"] == 1


def test_gopher_null_text_yields_booleans_not_nulls(spark):
    """r9 advice: the ratio rules divide by token/line counts that go
    NULL on a NULL text — every rule column must still come out a real
    boolean (False), never NULL, and keep must be False."""
    from lightcurvesclassifier_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, None), (2, "a fine ordinary sentence about the stars and such")],
        "doc_id long, text string",
    )
    out = text_ops.gopher_quality_filter(df).toPandas().set_index("doc_id")
    rule_cols = [c for c in out.columns if c.startswith("pass_")] + ["keep"]
    row = out.loc[1]
    for c in rule_cols:
        assert row[c] is not None and not pd.isna(row[c]), c
    assert not row["keep"]


def _unimax_ref(lang_chars, total_budget, max_epochs):
    """Pure-Python transcription of UniMax's sequential allocation
    (Chung et al. 2023, Alg. 1): ascending size, each language takes
    min(cap, remaining / languages_left)."""
    order = sorted(lang_chars, key=lambda l: (max_epochs * lang_chars[l], l))
    remaining = float(total_budget)
    out = {}
    for i, lang in enumerate(order):
        share = remaining / (len(order) - i)
        alloc = min(float(max_epochs * lang_chars[lang]), share)
        out[lang] = alloc
        remaining -= alloc
    return out


def test_unimax_matches_sequential_reference_on_fixture(spark):
    docs = testdata.load_table(spark, SF_ORACLE, "documents")
    total_chars = docs.select(
        F.sum(F.length("text")).alias("s")
    ).collect()[0]["s"]
    budget = (16 * int(total_chars)) // 5
    got = (
        corpus.unimax_budget(docs, total_budget=budget, max_epochs=4)
        .toPandas()
        .set_index("lang")
    )
    lang_chars = {
        r["lang"]: int(r["s"])
        for r in docs.groupBy("lang")
        .agg(F.sum(F.length("text")).alias("s"))
        .collect()
    }
    exp = _unimax_ref(lang_chars, budget, 4)
    assert set(got.index) == set(exp)
    # the fixture budget forces a real split: some capped, some not
    assert (got.budget_chars == got.cap_chars).any()
    assert (got.budget_chars < got.cap_chars).any()
    for lang, alloc in exp.items():
        assert abs(got.loc[lang, "budget_chars"] - alloc) < 1e-4, lang
        assert (
            abs(got.loc[lang, "epochs"] - alloc / lang_chars[lang]) < 1e-6
        ), lang
    # budget is exhausted (sum of allocations == B) unless all capped
    assert abs(got.budget_chars.sum() - budget) < 1e-3


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_unimax_water_filling_equals_sequential_randomized(spark, seed):
    """Randomized budgets/size profiles, incl. the all-capped and
    nothing-capped regimes — the windowed water-filling closed form
    must equal the paper's sequential loop everywhere."""
    import numpy as np

    rng = np.random.default_rng(seed)
    langs = [f"l{i}" for i in range(int(rng.integers(1, 9)))]
    rows = []
    doc_id = 0
    lang_chars = {}
    for lang in langs:
        n = int(rng.integers(1, 5))
        chars = 0
        for _ in range(n):
            t = "x" * int(rng.integers(5, 400))
            rows.append((doc_id, lang, t))
            chars += len(t)
            doc_id += 1
        lang_chars[lang] = chars
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    total_cap = 4 * sum(lang_chars.values())
    for budget in (0, total_cap // 7, total_cap // 2, total_cap, 2 * total_cap):
        got = (
            corpus.unimax_budget(docs, total_budget=budget, max_epochs=4)
            .toPandas()
            .set_index("lang")
        )
        exp = _unimax_ref(lang_chars, budget, 4)
        for lang, alloc in exp.items():
            assert abs(got.loc[lang, "budget_chars"] - alloc) < 1e-4, (
                seed, budget, lang
            )
