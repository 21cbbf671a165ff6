"""Dedup / similarity / multimodal operator semantics: planted duplicates
are found, approximate methods agree with exact ones, binary plumbing
produces the right shapes."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lightcurvesclassifier_spark.operators import dedup, multimodal, similarity
from lightcurvesclassifier_spark.sources import testdata
from tests.conftest import SF_ORACLE, SF_SMOKE


@pytest.fixture(scope="module")
def corpus(spark):
    return testdata.dedup_corpus(spark, SF_ORACLE).cache()


def test_exact_dedup_finds_planted_copies(spark, corpus):
    groups = dedup.exact_dedup(corpus).filter(F.col("group_size") > 1).toPandas()
    # doc_id % 7 == 0 → exact copy planted (500 docs → ids 0,7,...,497)
    expected = len([i for i in range(500) if i % 7 == 0])
    assert len(groups) == expected
    assert (groups["group_size"] == 2).all()
    assert (groups["canonical_id"] < 500).all()  # canonical = original


def test_ngram_pairs_include_neardups(spark, corpus):
    pairs = dedup.ngram_jaccard_pairs(corpus, threshold=0.6).toPandas()
    pair_set = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    # exact copies: jaccard 1.0
    assert (0, 2000000) in pair_set
    # ' zz' copies: high but < 1.0 jaccard
    near = pairs[(pairs.id_a == 0) & (pairs.id_b == 1000000)]
    assert len(near) == 1 and 0.6 <= near.jaccard.iloc[0] < 1.0


def test_short_docs_yield_no_shingles(spark):
    """Docs with < n tokens must produce zero shingles, not crash.

    Regression: F.sequence(1, size-(n-1)) yields a *descending* sequence
    when the stop is <= 0 and slice() then throws
    INVALID_PARAMETER_VALUE.START; the DuckDB oracle's generate_series is
    empty for the same doc, so the guarded form is also what keeps engine
    and oracle aligned."""
    docs = spark.createDataFrame(
        [(1, "only two"), (2, "a b c"), (3, ""), (4, "w x y z")],
        "doc_id long, text string",
    )
    sh = dedup.shingles(docs, n=4).toPandas()
    assert set(sh.doc_id) == {4}          # only the 4-token doc shingles
    hashed = dedup.shingles_hashed(docs, n=4).toPandas()
    assert set(hashed.doc_id) == {4}
    # pair paths inherit the guard: no crash, short docs just absent
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.1).toPandas()
    assert len(pairs) == 0
    mh = dedup.minhash_pairs(docs, threshold=0.1).toPandas()
    assert len(mh) == 0


def test_repeated_spans_semantics(spark):
    """ExactSubstr span stats: exact copies are 100% duplicated, spans
    repeated *within* one doc count, unique docs are 0%, short docs get
    NULL fraction (no spans)."""
    base = "a b c d e f g h"  # 8 tokens → 5 spans at k=4
    docs = spark.createDataFrame(
        [
            (1, base),                    # copied by doc 2
            (2, base),                    # copied from doc 1
            (3, "p q r s p q r s"),       # span 'p q r s' occurs twice in-doc
            (4, "u v w x y z zz zzz"),    # unique: 0 duplicated spans
            (5, "too short"),             # < k tokens → no spans, NULL frac
        ],
        "doc_id long, text string",
    )
    out = dedup.repeated_spans(docs, k=4).toPandas().set_index("doc_id")
    assert out.loc[1, "n_spans"] == 5 and out.loc[1, "dup_span_frac"] == 1.0
    assert out.loc[2, "dup_span_frac"] == 1.0
    # doc 3: 5 spans; positions 1 and 5 are both 'p q r s' → 2/5
    assert out.loc[3, "n_dup_spans"] == 2
    assert abs(out.loc[3, "dup_span_frac"] - 0.4) < 1e-9
    assert out.loc[4, "n_dup_spans"] == 0 and out.loc[4, "dup_span_frac"] == 0.0
    import pandas as pd

    assert out.loc[5, "n_spans"] == 0 and pd.isna(out.loc[5, "dup_span_frac"])


def test_repeated_spans_planted_corpus(spark, corpus):
    """On the planted-duplicate corpus: every exact-copy doc (id%7==0 and
    its +2000000 twin) is fully duplicated; ' zz' near-dups share their
    prefix spans but not the tail."""
    out = dedup.repeated_spans(corpus, k=12).toPandas().set_index("doc_id")
    # exact pair: doc 0 and 2000000 (doc 0 is also a near-dup source)
    assert out.loc[2000000 + 7, "dup_span_frac"] == 1.0
    assert out.loc[7, "dup_span_frac"] == 1.0
    # near-dup twin of a long-enough doc: prefix spans shared, tail not —
    # fraction strictly between 0 and 1 (doc 30: %10 near-dup, not %7)
    row = out.loc[1000000 + 30]
    if row["n_spans"] > 0 and out.loc[30, "n_spans"] > 0:
        assert 0.0 < row["dup_span_frac"] <= 1.0


def test_decontamination_containment(spark):
    """Containment is asymmetric: a short eval doc fully quoted inside a
    much longer training doc is 100% contaminated even though the
    Jaccard similarity of the pair is tiny."""
    from lightcurvesclassifier_spark.operators import decontamination

    filler = " ".join(f"w{i}" for i in range(200))
    quote = "alpha beta gamma delta epsilon zeta eta theta"
    train = spark.createDataFrame(
        [(1, f"{filler} {quote} {filler}"), (2, filler)],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(100, quote),                       # fully quoted in doc 1
         (101, "never seen tokens at all anywhere else zz"),  # clean
         (102, "too short")],                # < n tokens → no shingles
        "doc_id long, text string",
    )
    out = decontamination.contamination_pairs(train, evals, threshold=0.8).toPandas()
    assert len(out) == 1
    row = out.iloc[0]
    assert (row.train_id, row.eval_id, row.containment) == (1, 100, 1.0)
    # Jaccard of the flagged pair is tiny — containment is the right score
    jac = dedup.ngram_jaccard_pairs(
        train.unionByName(
            evals.filter(F.col("doc_id") == 100)), threshold=0.001
    ).toPandas()
    flagged = jac[(jac.id_a == 1) & (jac.id_b == 100)]
    assert len(flagged) == 1 and flagged.jaccard.iloc[0] < 0.05


def test_decontamination_planted_evals(spark):
    """The contract eval set: verbatim slices flagged at 1.0, reversed
    controls absent; eval side broadcast in the physical plan."""
    from lightcurvesclassifier_spark.operators import decontamination

    train = testdata.load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "text"
    )
    evals = testdata.contamination_eval(spark, SF_ORACLE)
    out = decontamination.contamination_pairs(train, evals, threshold=0.8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    pdf = out.toPandas()
    planted = pdf[pdf.eval_id < 6000000]
    exact_self = planted[planted.eval_id == planted.train_id + 5000000]
    assert (exact_self.containment == 1.0).all()
    # every planted eval whose source slice has >= n tokens is found
    assert len(exact_self) == len([i for i in range(0, 500, 13)])
    # reversed controls never flagged
    assert (pdf.eval_id < 6000000).all()


def test_minhash_recall_vs_exact(spark, corpus):
    exact = dedup.ngram_jaccard_pairs(corpus, threshold=0.6).toPandas()
    mh = dedup.minhash_pairs(corpus, threshold=0.5).toPandas()
    exact_set = {(a, b) for a, b in zip(exact.id_a, exact.id_b)}
    mh_set = {(a, b) for a, b in zip(mh.id_a, mh.id_b)}
    recall = len(exact_set & mh_set) / len(exact_set)
    assert recall > 0.9, f"minhash recall {recall}"


def test_dedup_clusters_transitive(spark, corpus):
    """Connected components over near-dup pairs: A~B and B~C collapse
    into one cluster labeled by the min id even when A~C was never
    scored; singletons keep their own id."""
    clusters = dedup.dedup_clusters(corpus, threshold=0.6).toPandas()
    by_doc = clusters.set_index("doc_id")
    # doc 0 has an exact copy (2000000) and a ' zz' near-copy (1000000):
    # all three must share cluster 0
    assert by_doc.loc[0, "cluster_id"] == 0
    assert by_doc.loc[1000000, "cluster_id"] == 0
    assert by_doc.loc[2000000, "cluster_id"] == 0
    assert by_doc.loc[0, "cluster_size"] >= 3
    # every doc appears exactly once; cluster sizes are consistent
    assert clusters.doc_id.is_unique
    sizes = clusters.groupby("cluster_id").size()
    assert (
        clusters.groupby("cluster_id")["cluster_size"].first() == sizes
    ).all()
    # a doc with no near-dup partner is its own singleton cluster
    singles = clusters[clusters.cluster_size == 1]
    assert len(singles) > 0
    assert (singles.doc_id == singles.cluster_id).all()


def _union_find_labels(edges):
    """Reference CC: {node: min node id of its component}. Like the
    operator, a u == v edge is dropped, so a node whose only edge is a
    self-loop is not a graph node."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_star_cc_matches_union_find(spark):
    """The large-star/small-star CC must produce exactly the union-find
    reference's output (same nodes, same canonical min label) — on a
    long path, a skewed star-of-stars, a seeded random graph, and the
    inputs the distinct a<b near-dup producers never emit: duplicates,
    reversed (a > b) pairs and self-loops; plus an empty pair set."""
    import random

    rng = random.Random(7)
    raw = [(rng.randrange(60), rng.randrange(60)) for _ in range(70)]
    graphs = {
        "path": [(i, i + 1) for i in range(30)],
        "skewed": [(0, i) for i in range(1, 40)]
        + [(i, i + 100) for i in range(1, 10)]
        + [(200, 201), (202, 203)],
        "random": list(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.randrange(120), rng.randrange(120))
                    for _ in range(150)
                )
                if a != b
            }
        ),
        "duplicates": [(1, 2), (1, 2), (2, 3), (1, 2), (7, 9), (7, 9)],
        "reversed": [(9, 4), (4, 12), (30, 12), (6, 5), (8, 5), (8, 2)],
        "self_loops": [(1, 1), (2, 2), (2, 3), (4, 4), (4, 5), (5, 5)],
        "random_raw": raw + raw[:10] + [(b, a) for a, b in raw[10:20]],
    }

    def star_labels(edges):
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        star = dedup.connected_components_star(pairs).toPandas()
        # every node labeled exactly once
        assert star.node.is_unique
        return dict(zip(star.node.tolist(), star.label.tolist()))

    assert star_labels([]) == {}
    # one CC run over the disjoint union (graph k's ids shifted by
    # k * 1000): components never interact, so each graph's slice of
    # the output is that graph's own CC
    shifted = {
        name: [(a + k * 1000, b + k * 1000) for a, b in edges]
        for k, (name, edges) in enumerate(graphs.items())
    }
    got = star_labels([e for edges in shifted.values() for e in edges])
    for k, (name, edges) in enumerate(shifted.items()):
        mine = {n: lb for n, lb in got.items() if n // 1000 == k}
        assert mine == _union_find_labels(edges), name


def test_star_cc_raises_on_exhaustion(spark):
    import pytest

    path_edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components_star(path_edges, max_iter=1)


def test_star_cc_hops_knob_is_label_invariant(spark, monkeypatch):
    """SPARK_GRAFT_CC_HOPS is a scale knob (fewer round
    materializations at multi-million-doc corpora), never a semantic
    one: any hops_per_round must yield byte-identical (node, label)
    output, whether passed explicitly or through the env default."""
    import random

    rng = random.Random(11)
    edges = list(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(80), rng.randrange(80)) for _ in range(100)
            )
            if a != b
        }
    ) + [(i, i + 1) for i in range(200, 215)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    def labels(**kw):
        return (
            dedup.connected_components_star(pairs, **kw)
            .toPandas()
            .sort_values("node")
            .reset_index(drop=True)
        )

    base = labels(hops_per_round=1)
    for hops in (2, 3):
        got = labels(hops_per_round=hops)
        assert got.node.tolist() == base.node.tolist(), hops
        assert got.label.tolist() == base.label.tolist(), hops
    monkeypatch.setenv("SPARK_GRAFT_CC_HOPS", "2")
    via_env = labels()
    assert via_env.label.tolist() == base.label.tolist()


def test_simhash_finds_exact_and_near(spark, corpus):
    pairs = dedup.simhash_pairs(corpus, max_hamming=3).toPandas()
    pair_set = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    # exact copies have identical simhash (hamming 0)
    ham0 = pairs[pairs.hamming == 0]
    assert (0, 2000000) in pair_set
    assert len(ham0) >= len([i for i in range(500) if i % 7 == 0])


def test_embedding_topk_and_lsh_recall(spark):
    emb = testdata.load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(emb, queries, k=10).toPandas()
    assert set(exact.groupby("query_id").size()) == {10}
    # ranks are 1..10 per query, cos non-increasing
    for _, g in exact.groupby("query_id"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, 11))
        assert (g["cos"].diff().dropna() <= 1e-12).all()
    approx = similarity.lsh_topk(emb, queries, k=10).toPandas()
    e = {(q, v) for q, v in zip(exact.query_id, exact.vec_id)}
    a = {(q, v) for q, v in zip(approx.query_id, approx.vec_id)}
    recall = len(e & a) / len(e)
    assert recall > 0.9, f"lsh recall {recall}"


def test_multimodal_plumbing(spark):
    docs = testdata.load_table(spark, SF_ORACLE, "documents").limit(50)
    media = multimodal.documents_as_media(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    feats = multimodal.decode_features(media).toPandas()
    assert len(feats) == 50
    assert (feats["n_bytes"] > 0).all()
    assert feats["feature"].map(len).eq(8).all()
    assert feats["checksum"].str.len().eq(32).all()
    # deterministic: same payload → same feature
    f2 = multimodal.decode_features(media).toPandas()
    m1 = feats.set_index("media_id")["checksum"].sort_index()
    m2 = f2.set_index("media_id")["checksum"].sort_index()
    assert (m1 == m2).all()


def test_bmp_codec_round_trips_and_rejects_garbage():
    """Pure-numpy 24-bit BMP codec: encode→decode is the identity for
    arbitrary RGB images (incl. widths needing row padding), and decode
    refuses non-BMP / unsupported payloads instead of mis-parsing."""
    import pytest

    rng = np.random.default_rng(7)
    for (h, w) in [(1, 1), (3, 5), (8, 7), (16, 16), (5, 2)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        payload = multimodal.encode_bmp(img)
        w2, h2, back = multimodal.decode_bmp(payload)
        assert (w2, h2) == (w, h)
        assert np.array_equal(back, img)
        # header bookkeeping: declared file size == real size
        assert len(payload) == 54 + h * (((3 * w + 3) // 4) * 4)
    with pytest.raises(ValueError):
        multimodal.decode_bmp(b"not a bitmap at all........................")
    with pytest.raises(ValueError):
        multimodal.decode_bmp(multimodal.encode_bmp(
            rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8))[:40])


def test_bmp_features_and_resize_real_pixels(spark):
    """bmp_features reports the actual channel means of the decoded
    pixels, and bmp_resize's nearest-neighbour output matches direct
    numpy indexing — the image path is no longer a stub."""
    rng = np.random.default_rng(11)
    imgs = {i: rng.integers(0, 256, size=(6 + i, 9 - i, 3), dtype=np.uint8)
            for i in range(3)}
    media = spark.createDataFrame(
        [(i, bytearray(multimodal.encode_bmp(img)), "image/bmp", {})
         for i, img in imgs.items()],
        multimodal.MEDIA_SCHEMA,
    )
    feats = multimodal.bmp_features(media).toPandas().set_index("media_id")
    for i, img in imgs.items():
        h, w = img.shape[:2]
        assert (feats.width[i], feats.height[i]) == (w, h)
        for ci, c in enumerate(["mean_r", "mean_g", "mean_b"]):
            assert abs(feats[c][i] - img[:, :, ci].mean()) < 1e-6, (i, c)
    rs = multimodal.bmp_resize(media, 4, 3).toPandas().set_index("media_id")
    for i, img in imgs.items():
        h, w = img.shape[:2]
        sx = (np.arange(4) * w) // 4
        sy = (np.arange(3) * h) // 3
        want = img[sy][:, sx]
        for ci, c in enumerate(["mean_r", "mean_g", "mean_b"]):
            assert abs(rs[c][i] - want[:, :, ci].mean()) < 1e-6, (i, c)
        assert rs.n_bytes_out[i] == 54 + 3 * (((3 * 4 + 3) // 4) * 4)


def test_wav_codec_round_trips_and_rejects_garbage():
    """Pure-numpy PCM-WAV codec: encode→decode is the identity for
    arbitrary int16 clips (mono and stereo), and decode refuses
    non-WAV / non-PCM payloads instead of mis-parsing."""
    import pytest

    rng = np.random.default_rng(13)
    for (n, ch, rate) in [(1, 1, 8000), (64, 2, 8000), (100, 1, 44100),
                          (33, 2, 16000)]:
        clip = rng.integers(-32768, 32768, size=(n, ch), dtype=np.int16)
        payload = multimodal.encode_wav(clip, rate)
        rate2, back = multimodal.decode_wav(payload)
        assert rate2 == rate
        assert np.array_equal(back, clip)
    # 1-D input is treated as mono
    mono = rng.integers(-100, 100, size=17, dtype=np.int16)
    _, back = multimodal.decode_wav(multimodal.encode_wav(mono))
    assert np.array_equal(back[:, 0], mono)
    with pytest.raises(ValueError):
        multimodal.decode_wav(b"RIFFxxxxJUNKthis is not audio.............")
    with pytest.raises(ValueError):
        multimodal.decode_wav(b"short")
    with pytest.raises(ValueError):  # float array refused at encode
        multimodal.encode_wav(rng.normal(size=(8, 1)))
    # truncated data chunk fails loudly instead of decoding fewer samples
    whole = multimodal.encode_wav(
        rng.integers(-100, 100, size=(64, 2), dtype=np.int16)
    )
    with pytest.raises(ValueError):
        multimodal.decode_wav(whole[:-10])


def test_wav_features_real_waveform_stats(spark):
    """wav_features reports the actual per-channel RMS/mean/duration of
    the decoded samples — the audio path is no longer a stub."""
    rng = np.random.default_rng(17)
    clips = {i: rng.integers(-2048, 2048, size=(50 + 30 * i, 1 + i % 2),
                             dtype=np.int16) for i in range(4)}
    media = spark.createDataFrame(
        [(i, bytearray(multimodal.encode_wav(clip, 8000)), "audio/wav", {})
         for i, clip in clips.items()],
        multimodal.MEDIA_SCHEMA,
    )
    feats = multimodal.wav_features(media).toPandas()
    assert len(feats) == sum(c.shape[1] for c in clips.values())
    feats = feats.set_index(["media_id", "channel"])
    for i, clip in clips.items():
        n = clip.shape[0]
        for c in range(clip.shape[1]):
            col = clip[:, c].astype(np.float64)
            assert feats.n_samples[(i, c)] == n
            assert abs(feats.duration[(i, c)] - n / 8000) < 1e-9
            assert abs(feats.mean_amp[(i, c)] - col.mean()) < 1e-6
            assert abs(feats.rms[(i, c)] - np.sqrt((col ** 2).mean())) < 1e-6


def test_planted_wav_oracle_matches(spark, duck):
    """End-to-end audio parity: executor-built planted WAV corpus →
    decode → features equals the DuckDB SQL rule mirror exactly."""
    ids = spark.createDataFrame([(i,) for i in range(16)], "media_id long")
    got = (
        multimodal.wav_features(multimodal.planted_wav_media(ids))
        .toPandas().sort_values(["media_id", "channel"])
        .reset_index(drop=True)
    )
    want = (
        duck.execute(multimodal.planted_wav_features_sql(
            "SELECT unnest(range(0, 16)) AS media_id"))
        .df().sort_values(["media_id", "channel"]).reset_index(drop=True)
    )
    assert got.columns.tolist() == want.columns.tolist()
    for c in got.columns:
        assert np.allclose(got[c].astype(float), want[c].astype(float),
                           rtol=0, atol=0), c


def test_avi_codec_round_trips_and_rejects_garbage():
    """Pure-numpy uncompressed-AVI codec: encode→decode is the identity
    for arbitrary RGB frame stacks (incl. widths needing row padding),
    and decode refuses non-AVI / compressed payloads."""
    import pytest

    rng = np.random.default_rng(23)
    for (n, h, w, fps) in [(1, 1, 1, 10), (3, 5, 7, 10), (4, 8, 8, 25),
                           (2, 6, 3, 10)]:
        clip = rng.integers(0, 256, size=(n, h, w, 3), dtype=np.uint8)
        payload = multimodal.encode_avi(clip, fps)
        fps2, back = multimodal.decode_avi(payload)
        assert fps2 == fps
        assert np.array_equal(back, clip)
    with pytest.raises(ValueError):
        multimodal.decode_avi(b"RIFFxxxxWAVEnot a video.............")
    with pytest.raises(ValueError):
        multimodal.decode_avi(b"short")
    whole = multimodal.encode_avi(
        rng.integers(0, 256, size=(2, 4, 4, 3), dtype=np.uint8)
    )
    with pytest.raises(ValueError):  # truncated chunk fails loudly
        multimodal.decode_avi(whole[:-6])
    with pytest.raises(ValueError):  # float frames refused at encode
        multimodal.encode_avi(rng.normal(size=(2, 4, 4, 3)))


def test_avi_frame_stats_real_pixels(spark):
    """avi_frame_stats reports the actual channel means of the decoded,
    integer-floor-sampled frames — the video path is no longer a
    byte-chunk stub."""
    rng = np.random.default_rng(29)
    clips = {i: rng.integers(0, 256, size=(3 + i, 5, 4 + i, 3),
                             dtype=np.uint8) for i in range(3)}
    media = spark.createDataFrame(
        [(i, bytearray(multimodal.encode_avi(clip, 10)), "video/avi", {})
         for i, clip in clips.items()],
        multimodal.MEDIA_SCHEMA,
    )
    got = (
        multimodal.avi_frame_stats(media, n_sample=2)
        .toPandas().set_index(["media_id", "frame_idx"])
    )
    for i, clip in clips.items():
        n = clip.shape[0]
        for s in range(2):
            fi = (s * n) // 2
            frame = clip[fi]
            for ci, c in enumerate(["mean_r", "mean_g", "mean_b"]):
                assert abs(got[c][(i, fi)] - frame[:, :, ci].mean()) < 1e-6
            assert got.n_frames[(i, fi)] == n
            assert got.fps[(i, fi)] == 10


def test_planted_avi_oracle_matches(spark, duck):
    """End-to-end video parity: executor-built planted AVI corpus →
    decode → sampled frame stats equals the DuckDB SQL rule mirror."""
    ids = spark.createDataFrame([(i,) for i in range(16)], "media_id long")
    got = (
        multimodal.avi_frame_stats(multimodal.planted_avi_media(ids), 3)
        .toPandas().sort_values(["media_id", "frame_idx"])
        .reset_index(drop=True)
    )
    want = (
        duck.execute(multimodal.planted_avi_frame_stats_sql(
            "SELECT unnest(range(0, 16)) AS media_id", 3))
        .df().sort_values(["media_id", "frame_idx"]).reset_index(drop=True)
    )
    assert got.columns.tolist() == want.columns.tolist()
    assert len(got) == len(want)
    for c in got.columns:
        assert np.allclose(got[c].astype(float), want[c].astype(float),
                           rtol=0, atol=0), c


def test_embedding_neardup_exact_and_distributed(spark):
    """Cell-blocked near-dup join: exact vs a numpy brute-force reference,
    identical across quantizers, and — the scale contract — no driver
    collect anywhere on the corpus path."""
    import inspect

    import numpy as np

    emb = testdata.load_table(spark, SF_ORACLE, "embeddings")
    got = (
        similarity.embedding_neardup_pairs(emb, threshold=0.42)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    # brute-force reference
    pdf = emb.toPandas()
    mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = np.round(mat @ mat.T, 6)
    ii, jj = np.where(sims >= 0.42)
    keep = ii < jj
    ids = pdf["vec_id"].to_numpy()
    want = sorted(zip(ids[ii[keep]], ids[jj[keep]], sims[ii, jj][keep]))
    assert [tuple(r) for r in got.itertuples(index=False)] == [
        (int(a), int(b), float(c)) for a, b, c in want
    ]
    # kmeans-fitted cells must give the same exact answer
    km = (
        similarity.embedding_neardup_pairs(emb, threshold=0.42, quantizer="kmeans")
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    assert km.equals(got)
    # the corpus never reaches the driver: no toPandas/collect in the op
    src = inspect.getsource(similarity.embedding_neardup_pairs)
    assert "toPandas" not in src and ".collect()" not in src


def test_embedding_neardup_skew_decoupled_from_cell_occupancy(spark):
    """The r2 scale defect: per-cell grouping meant a hot cell = ONE task
    holding the whole cell. With block salting, a fixture whose vectors
    ALL land in one home cell must still fan out into more scoring
    groups than n_cells, and stay exact."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal(16)
    # 200 vectors in one tight cluster → one home cell for everything
    vecs = base[None, :] + 0.01 * rng.standard_normal((200, 16))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    n_cells, n_salts = 8, 4
    out = similarity.embedding_neardup_pairs(
        emb, threshold=0.9995, n_cells=n_cells, n_salts=n_salts
    )
    got = sorted(
        (int(a), int(b), float(c))
        for a, b, c in out.toPandas().itertuples(index=False)
    )
    sims = np.round(vecs @ vecs.T, 6)
    ii, jj = np.where(sims >= 0.9995)
    keep = ii < jj
    want = sorted(
        (int(a), int(b), float(c))
        for a, b, c in zip(ii[keep], jj[keep], sims[ii, jj][keep])
    )
    assert got == want and len(want) > 0
    # scoring-group fan-out: strictly more groups than cells even though
    # occupancy is concentrated in ONE cell (8 < 10 = S*(S+1)/2 here)
    n_groups = similarity.embedding_neardup_scoring_groups(
        emb, threshold=0.9995, n_cells=n_cells, n_salts=n_salts
    )
    assert n_groups > n_cells, f"only {n_groups} scoring groups"


def test_embedding_neardup_auto_salting_tracks_occupancy(spark):
    """n_salts='auto' (the default): cells under the chunk target use
    the MIN_SALTS floor (same fan-out as the proven fixed default —
    parallelism preserved on small corpora), a cell hotter than the
    chunk target fans out into MORE groups — and results stay exact
    either way."""
    import numpy as np

    from lightcurvesclassifier_spark.operators import similarity as sim

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((300, 16))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    # 300 rows << CHUNK_TARGET → every cell sits at the floor: group
    # count equals the fixed-S default's
    g_auto = sim.embedding_neardup_scoring_groups(
        emb, threshold=0.95, n_cells=8, n_salts="auto"
    )
    g_fixed = sim.embedding_neardup_scoring_groups(
        emb, threshold=0.95, n_cells=8, n_salts=sim.NEARDUP_MIN_SALTS
    )
    assert g_auto == g_fixed
    # force a hot cell past the chunk target → S above the floor → more
    # groups than the fixed default
    old = sim.NEARDUP_CHUNK_TARGET
    sim.NEARDUP_CHUNK_TARGET = 40
    try:
        g_hot = sim.embedding_neardup_scoring_groups(
            emb, threshold=0.95, n_cells=8, n_salts="auto"
        )
    finally:
        sim.NEARDUP_CHUNK_TARGET = old
    assert g_hot > g_auto
    # exactness under auto (the driver checks this too via the oracle)
    got = sim.embedding_neardup_pairs(emb, threshold=0.95, n_cells=8).toPandas()
    sims = np.round(vecs @ vecs.T, 6)
    ii, jj = np.where(sims >= 0.95)
    keep = ii < jj
    want = sorted(zip(ii[keep].tolist(), jj[keep].tolist()))
    assert sorted(zip(got.id_a, got.id_b)) == want


def test_lloyd_local_equals_inplan(spark):
    """r10: the driver-side numpy Lloyd fit (_fit_lloyd_local, one
    bounded sample collect) must reproduce the in-plan DataFrame chain
    (_lloyd_graph_inplan) CELL-FOR-CELL, BIT-FOR-BIT — the fold-order
    replication contract that let the optimization keep every IVF
    oracle byte-identical. Checked on both small SFs and on a
    multi-iteration fit (the declared queries run n_iter=1; 3
    iterations exercises the empty-cell coalesce arm and repeated
    assignment)."""
    for sf in (SF_SMOKE, SF_ORACLE):
        emb = testdata.load_table(spark, sf, "embeddings")
        v = similarity._vec_rows(emb, "vec_id", "embedding")
        for n_iter in (1, 3):
            _, local = similarity._lloyd_graph(v, n_cells=16, n_iter=n_iter)
            _, inplan = similarity._lloyd_graph_inplan(
                v, n_cells=16, n_iter=n_iter
            )
            lrows = {r["cell_idx"]: list(r["_cell_v"]) for r in local.collect()}
            irows = {
                r["cell_idx"]: list(r["_cell_v"]) for r in inplan.collect()
            }
            assert lrows.keys() == irows.keys(), (sf, n_iter)
            for ci in irows:
                assert lrows[ci] == irows[ci], (sf, n_iter, ci)


def test_embedding_ivf_recall(spark):
    emb = testdata.load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(emb, queries, k=10).toPandas()
    ivf = similarity.ivf_topk(emb, queries, k=10, n_lists=16, n_probe=10).toPandas()
    assert set(ivf.groupby("query_id").size()) == {10}
    e = {(q, v) for q, v in zip(exact.query_id, exact.vec_id)}
    a = {(q, v) for q, v in zip(ivf.query_id, ivf.vec_id)}
    recall = len(e & a) / len(e)
    assert recall > 0.8, f"ivf recall {recall}"


def test_simhash_pigeonhole_guarantee(spark):
    """Structural guarantee of the 4x15 banding: ANY pair with hamming
    distance <= 3 shares at least one band (pigeonhole over 4 bands), so
    simhash_pairs can never miss such a pair. Construct doc pairs whose
    fingerprints differ in exactly 0 and 1 known token and check the
    verified pairs agree with a brute-force hamming computation."""
    import itertools

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(i, base) for i in range(3)]
        + [(10 + i, base + " extra" + str(i % 2)) for i in range(4)],
        "doc_id long, text string",
    )
    fp = dedup.simhash(docs).toPandas().set_index("doc_id")
    pairs = dedup.simhash_pairs(docs, max_hamming=3).toPandas()
    got = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    for a, b in itertools.combinations(sorted(fp.index), 2):
        ham = sum(
            bin(int(fp.loc[a, f"band{i}"]) ^ int(fp.loc[b, f"band{i}"])).count("1")
            for i in range(4)
        )
        if ham <= 3:
            assert (a, b) in got, (a, b, ham)
        else:
            assert (a, b) not in got, (a, b, ham)


def test_minhash_exact_copies_always_candidates(spark):
    """Identical shingle sets have identical signatures in every band, so
    exact copies (with >= n tokens) are guaranteed candidates and verify
    at jaccard_dist 0 — regardless of the hash family constants."""
    docs = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6"), (2, "w1 w2 w3 w4 w5 w6"),
         (3, "completely different tokens here now yes")],
        "doc_id long, text string",
    )
    out = dedup.minhash_pairs(docs, threshold=0.5).toPandas()
    assert ((out.id_a == 1) & (out.id_b == 2)).any()
    row = out[(out.id_a == 1) & (out.id_b == 2)].iloc[0]
    assert row.jaccard_dist == 0.0


def test_lsh_bucket_determinism_across_sessions_constants(spark):
    """The SRP hyperplanes are pure functions of (seed, t, j, d) — no
    RNG state, no fit: two independent calls produce identical buckets,
    and changing the seed changes them."""
    from lightcurvesclassifier_spark.operators.similarity import _lsh_signs

    assert _lsh_signs(2, 2, 8, seed=42) == _lsh_signs(2, 2, 8, seed=42)
    assert _lsh_signs(2, 2, 8, seed=42) != _lsh_signs(2, 2, 8, seed=43)
    emb = testdata.load_table(spark, SF_ORACLE, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    a = similarity.lsh_topk(emb, q, k=5).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    b = similarity.lsh_topk(emb, q, k=5).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    assert a.equals(b)


def test_quantize_embeddings_reconstruction_and_edge_cases(spark):
    """Hand-built vectors: codes clamp to ±127, reconstruction error is
    bounded by scale/2 per element, and the zero vector quantizes to
    all-zero codes with zero error."""
    import hashlib

    from lightcurvesclassifier_spark.operators import similarity as sim

    rows = [
        (1, [1.0, -1.0, 0.5, 0.25]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [127.0, -0.5, 0.0, 63.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in sim.quantize_embeddings(df).collect()}

    # vec 1: scale = 1/127, codes are exactly [127, -127, 64, 32]
    # (0.5/scale = 63.5 rounds half-away-from-zero to 64)
    got = out[1]
    assert got["q_sum"] == 127 - 127 + 64 + 32
    assert got["q_abs_sum"] == 127 + 127 + 64 + 32
    assert got["q_md5"] == hashlib.md5(b"127,-127,64,32").hexdigest()
    assert got["recon_err"] <= (1.0 / 127.0) / 2 + 1e-12

    # zero vector: all-zero codes, exact reconstruction
    assert out[2]["scale"] == 0.0
    assert out[2]["q_sum"] == 0 and out[2]["q_abs_sum"] == 0
    assert out[2]["recon_err"] == 0.0
    assert out[2]["q_md5"] == hashlib.md5(b"0,0,0,0").hexdigest()

    # vec 3: max|x| lands exactly on a code (127); half-code values
    # round away from zero (63.5/scale = 63.5 -> 64)
    assert out[3]["q_md5"] == hashlib.md5(b"127,-1,0,64").hexdigest()


def test_dedup_canonical_keep_rule(spark):
    """Within every cluster exactly one keep, the canonical doc has the
    longest text (tie-break min id), and singleton docs keep themselves."""
    from lightcurvesclassifier_spark.operators import dedup

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta eta"),   # near-dup of 1, longer
        (3, "alpha beta gamma delta epsilon zeta"),       # exact dup of 1
        (9, "completely different text about nothing"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.dedup_canonical(df, n=3, threshold=0.5).collect()}
    assert len(out) == 4
    # 1,2,3 cluster together; 2 is longest -> canonical
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == out[3]["cluster_id"]
    for d in (1, 2, 3):
        assert out[d]["canonical_id"] == 2
        assert out[d]["cluster_size"] == 3
        assert out[d]["keep"] == (d == 2)
    # the singleton keeps itself
    assert out[9]["keep"] and out[9]["canonical_id"] == 9
    assert out[9]["cluster_size"] == 1


def test_embedding_ivf_flat_recall_and_coverage(spark):
    """The oracled flat-quantizer IVF: every query returns exactly k
    rows, recall vs exact tracks probed coverage (n_probe=10/16 on the
    near-uniform synthetic corpus), and every corpus vector lands in
    exactly one of the md5-seeded cells (the argmax is total)."""
    emb = testdata.load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(emb, queries, k=10).toPandas()
    flat = similarity.ivf_flat_topk(
        emb, queries, k=10, n_cells=16, n_probe=10
    ).toPandas()
    assert set(flat.groupby("query_id").size()) == {10}
    e = {(q, v) for q, v in zip(exact.query_id, exact.vec_id)}
    a = {(q, v) for q, v in zip(flat.query_id, flat.vec_id)}
    recall = len(e & a) / len(e)
    assert recall > 0.5, f"ivf_flat recall {recall}"


def test_corpus_diff_statuses(spark):
    from lightcurvesclassifier_spark.operators.text import corpus_diff

    old = spark.createDataFrame(
        [(1, "a b"), (2, "keep me"), (3, "gone soon")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "A  B"), (2, "keep me edited"), (4, "brand new")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    # case/whitespace-only edit is 'unchanged' by content fingerprint
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_corpus_diff_null_text_presence(spark):
    from lightcurvesclassifier_spark.operators.text import corpus_diff

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "now real"), (2, None), (4, None)], "doc_id long, text string"
    )
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    # NULL text is a PRESENT doc with a NULL fingerprint: 1 changed
    # (null -> value), 2 unchanged (null == null, null-safe), 3 removed,
    # 4 added
    assert got == {1: "changed", 2: "unchanged", 3: "removed", 4: "added"}


def test_string_profile_accuracy_and_nulls(spark):
    from lightcurvesclassifier_spark.operators.profile import string_profile

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", "x"), (3, "a", "yy"), (4, None, "yy")],
        "id long, s1 string, s2 string",
    )
    out = {r.col_name: r for r in string_profile(df, ["s1", "s2"]).collect()}
    assert out["s1"].n == 4 and out["s1"].n_null == 1
    assert out["s1"].min_len == 1 and out["s1"].max_len == 1
    # tiny cardinalities: linear counting is near-exact
    assert abs(out["s1"].distinct_est - 2) < 0.1
    assert abs(out["s2"].distinct_est - 2) < 0.1
    assert out["s2"].min_len == 1 and out["s2"].max_len == 2


def test_pretraining_pipeline_composed_stages(spark):
    """The composed pipeline drops exactly what its stages say: short
    docs at the quality gate, planted exact dups at dedup (canonical
    kept), verbatim-slice docs at decontamination — and an untouched
    doc flows through."""
    from pyspark.sql import functions as F
    from lightcurvesclassifier_spark.operators.pipelines import (
        pretraining_corpus,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [
            (1, base),                       # clean → kept
            (2, base),                       # exact dup of 1 → dropped
            (3, "too short"),                # < 5 tokens → dropped
            (4, "one two three four five six seven eight nine ten"),
            (5, "x " * 3 + base),            # contains eval slice? no
        ],
        "doc_id long, text string",
    )
    # eval doc = a verbatim 8-token slice of doc 4 → doc 4 contaminated
    evals = spark.createDataFrame(
        [(100, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    kept = {
        r.doc_id: r for r in pretraining_corpus(corpus, evals).collect()
    }
    assert 1 in kept and 2 not in kept        # canonical min-id survives
    assert 3 not in kept                      # quality gate
    assert 4 not in kept                      # decontaminated
    assert 5 in kept
    assert kept[1].n_tokens == 10


def test_neardup_degree_dist_planted_graph(spark):
    """Three exact copies form a triangle (degree 2 each); a pair forms
    an edge (degree 1 each); a loner is degree 0 — and the histogram
    covers the whole corpus."""
    from lightcurvesclassifier_spark.operators.dedup import (
        neardup_degree_dist,
    )

    t1 = "alpha beta gamma delta epsilon zeta eta theta"
    t2 = "one two three four five six seven eight nine"
    docs = [(1, t1), (2, t1), (3, t1), (4, t2), (5, t2),
            (6, "lonely words that match nothing else at all here")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.degree: r.n_docs
        for r in neardup_degree_dist(df, threshold=0.9).collect()
    }
    assert out == {2: 3, 1: 2, 0: 1}


def test_minhash_bands_must_divide_and_cc_validates_hops(spark):
    """bands must divide num_hashes (a silent //-truncation paid for
    hash functions the banding never read); hops_per_round validates
    like max_iter instead of silently clamping."""
    import pytest as _pytest

    from lightcurvesclassifier_spark.operators import dedup as dd

    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="must divide"):
        dd.minhash_pairs(docs, num_hashes=20, bands=8)
    with _pytest.raises(ValueError, match="must divide"):
        dd.minhash_pairs_sql("SELECT 1", num_hashes=20, bands=8)
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with _pytest.raises(ValueError, match="hops_per_round"):
        dd.connected_components_star(pairs, hops_per_round=0)


def test_cosine_topk_empty_queries_returns_empty(spark):
    """No queries → empty result, not a driver-side np.vstack crash."""
    from lightcurvesclassifier_spark.operators.similarity import cosine_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    out = cosine_topk(corpus, corpus.filter("vec_id < 0"), k=3)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "vec_id", "cos", "rank"}


def test_cluster_safe_split_no_leakage_and_fractions(spark, corpus):
    """Every member of a near-dup cluster lands in the SAME split (the
    leakage property that doc-level splitting violates), fractions are
    honored to sampling noise, and bad fractions fail loudly."""
    import pytest as _pytest

    out = dedup.cluster_safe_split(corpus, threshold=0.6).toPandas()
    assert set(out.columns) == {"doc_id", "cluster_id", "split"}
    # (a) split is a function of the cluster: one split per cluster_id
    per_cluster = out.groupby("cluster_id").split.nunique()
    assert (per_cluster == 1).all()
    # (b) every doc assigned exactly once
    assert out.doc_id.is_unique and len(out) == corpus.count()
    # (c) cluster-level fractions near (0.9, 0.05, 0.05): binomial
    # noise over n_clusters clusters
    n_cl = out.cluster_id.nunique()
    frac = out.drop_duplicates("cluster_id").split.value_counts() / n_cl
    assert frac.get("train", 0) > 0.8
    assert 0.0 < frac.get("val", 0) < 0.15
    assert 0.0 < frac.get("test", 0) < 0.15
    with _pytest.raises(ValueError, match="sum to 1"):
        dedup.cluster_safe_split(corpus, fractions=(0.5, 0.1, 0.1))
    with _pytest.raises(ValueError, match="non-negative"):
        dedup.cluster_safe_split(corpus, fractions=(1.5, -0.4, -0.1))
    # (d) an ulp-above-1.0 cumulative sum must not raise (r7 advice):
    # 0.7 + 0.3 == 1.0 exactly is float-luck; force the pathological
    # case via fractions that sum to 1 within 1e-9 but above 1.0
    f0 = 0.9999999999
    out2 = dedup.cluster_safe_split(
        corpus.limit(5), fractions=(f0, 1.0 - f0 + 1e-10, 0.0)
    )
    assert out2.count() == 5


def test_cluster_safe_split_stratified_leakage_and_fractions(spark):
    """Stratified variant: one split per cluster (leakage-free), the
    cluster stratum is the min-id member's, and per-stratum fractions
    steer the holdout (a 0.5/0.25/0.25 stratum must hold out more than
    a 0.9/0.05/0.05 one). Spark and DuckDB mirrors agree exactly."""
    import duckdb

    corpus_l = testdata.dedup_corpus_lang(spark, SF_ORACLE).cache()
    fr = {"zh": (0.5, 0.25, 0.25)}
    out = dedup.cluster_safe_split_stratified(
        corpus_l, stratum_col="lang", fractions=fr, threshold=0.6
    ).toPandas()
    assert set(out.columns) == {"doc_id", "cluster_id", "stratum", "split"}
    assert (out.groupby("cluster_id").split.nunique() == 1).all()
    assert (out.groupby("cluster_id").stratum.nunique() == 1).all()
    assert out.doc_id.is_unique and len(out) == corpus_l.count()
    # per-stratum cluster-level fractions: zh holds out ~0.5, others ~0.9
    cl = out.drop_duplicates("cluster_id")
    zh = cl[cl.stratum == "zh"].split.value_counts(normalize=True)
    rest = cl[cl.stratum != "zh"].split.value_counts(normalize=True)
    assert zh.get("train", 0) < 0.75
    assert rest.get("train", 0) > 0.8
    # exact DuckDB mirror parity
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_ORACLE}/documents.parquet'"
    )
    o = con.execute(
        dedup.cluster_safe_split_stratified_sql(
            testdata.DEDUP_CORPUS_LANG_SQL,
            stratum_col="lang",
            fractions=fr,
            threshold=0.6,
        )
    ).df()
    cols = ["doc_id", "cluster_id", "stratum", "split"]
    s2 = out[cols].sort_values(cols).reset_index(drop=True)
    o2 = o[cols].sort_values(cols).reset_index(drop=True)
    assert s2.equals(o2)


def test_exact_substr_scrub_semantics(spark):
    """Scrub removes every duplicated-span occurrence except the globally
    first (min (doc_id, pos)); overlapping marks merge at the token
    level; short docs pass through untouched."""
    base = "a b c d e f g h"  # 8 tokens -> 5 spans at k=4
    docs = spark.createDataFrame(
        [
            (1, base),               # first occurrence: kept intact
            (2, base),               # exact copy: fully scrubbed
            (3, "p q r s p q r s"),  # in-doc repeat: 2nd occurrence cut
            (4, "u v w x y z zz zzz"),  # unique: untouched
            (5, "too short"),        # < k tokens: untouched
        ],
        "doc_id long, text string",
    )
    out = dedup.exact_substr_scrub(docs, k=4).toPandas().set_index("doc_id")
    assert out.loc[1, "n_removed"] == 0 and out.loc[1, "clean_text"] == base
    assert out.loc[2, "n_removed"] == 8 and out.loc[2, "clean_text"] == ""
    # doc 3: span 'p q r s' at pos 0 kept, at pos 4 scrubbed -> tokens 4-7
    assert out.loc[3, "n_removed"] == 4
    assert out.loc[3, "clean_text"] == "p q r s"
    assert out.loc[4, "n_removed"] == 0
    assert out.loc[5, "n_removed"] == 0 and out.loc[5, "clean_text"] == "too short"
    # token accounting: n_tokens - n_removed == |clean tokens| everywhere
    for _, r in out.iterrows():
        kept = len(r["clean_text"].split(" ")) if r["clean_text"] else 0
        assert r["n_tokens"] - r["n_removed"] == kept


def test_exact_substr_scrub_planted_corpus(spark, corpus):
    """Planted exact copies (+2000000 twins) duplicate the original's
    every span, and originals sort first: the twin is scrubbed to empty,
    the original keeps its tokens unless some OTHER duplicated span
    overlaps it."""
    out = dedup.exact_substr_scrub(corpus, k=12).toPandas().set_index("doc_id")
    twins = [i for i in out.index if i >= 2000000 and out.loc[i, "n_tokens"] >= 12]
    assert twins, "planted corpus must contain long exact twins"
    for i in twins:
        assert out.loc[i, "n_removed"] == out.loc[i, "n_tokens"], i
        assert out.loc[i, "clean_text"] == "", i
    # the scrub never removes tokens from docs with no duplicated span
    spans = dedup.repeated_spans(corpus, k=12).toPandas().set_index("doc_id")
    clean_ids = spans[spans["n_dup_spans"] == 0].index
    assert (out.loc[clean_ids, "n_removed"] == 0).all()


def test_ann_recall_bounds_and_exactness(spark):
    """ann_recall's per-query recall matches a direct recomputation from
    the two legs, and stays within [0, 1] with n_exact == k."""
    emb = testdata.load_table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = similarity.ann_recall(emb, queries, k=10, n_probe=10).toPandas()
    assert len(out) == 5
    assert (out["n_exact"] == 10).all()
    assert ((out["recall"] >= 0.0) & (out["recall"] <= 1.0)).all()
    # direct recomputation from the legs
    exact = similarity.cosine_topk(emb, queries, k=10).toPandas()
    approx = similarity.ivf_topk(emb, queries, k=10, n_probe=10).toPandas()
    for qid, grp in exact.groupby("query_id"):
        a = set(approx[approx["query_id"] == qid]["vec_id"])
        hits = len(set(grp["vec_id"]) & a)
        row = out[out["query_id"] == qid].iloc[0]
        assert row["n_hits"] == hits
        assert abs(row["recall"] - round(hits / len(grp), 6)) < 1e-12
    # the synthetic near-uniform corpus at n_probe=10/16 should not
    # collapse: mean recall well above chance
    assert out["recall"].mean() >= 0.5


def _ref_scrub_marks(docs, k, merge_runs):
    """Pure-Python marked-position sets for exact_substr_scrub, both
    modes: per-span (global-first occurrence exempt, every other dup
    occurrence marks its k tokens) and run-merged (consecutive dup
    positions coalesce; a run is exempt only if EVERY span in it is the
    global first of its content, else its whole extent is marked)."""
    toks = {d: t.split(" ") for d, t in docs}
    spans = {}
    for d in sorted(toks):
        tk = toks[d]
        for p in range(len(tk) - k + 1):
            spans.setdefault(" ".join(tk[p : p + k]), []).append((d, p))
    exempt = set()
    dup_occ = {d: [] for d in toks}
    for occs in spans.values():
        if len(occs) >= 2:
            exempt.add(sorted(occs)[0])
            for d, p in occs:
                dup_occ[d].append(p)
    marked = {d: set() for d in toks}
    for d, ps in dup_occ.items():
        ps = sorted(set(ps))
        if not merge_runs:
            for p in ps:
                if (d, p) not in exempt:
                    marked[d].update(range(p, p + k))
            continue
        runs, cur = [], []
        for p in ps:
            if cur and p == cur[-1] + 1:
                cur.append(p)
            else:
                if cur:
                    runs.append(cur)
                cur = [p]
        if cur:
            runs.append(cur)
        for run in runs:
            if not all((d, p) in exempt for p in run):
                marked[d].update(range(run[0], run[-1] + k))
    return toks, marked


def _ref_exact_substr_scrub(docs, k, merge_runs=True):
    toks, marked = _ref_scrub_marks(docs, k, merge_runs)
    out = {}
    for d, tk in toks.items():
        kept = [t for i, t in enumerate(tk) if i not in marked[d]]
        out[d] = (len(tk), len(marked[d]), " ".join(kept))
    return out


@pytest.mark.parametrize("seed", [0, 1, 7, 42])
@pytest.mark.parametrize("merge_runs", [True, False])
def test_exact_substr_scrub_random_differential(spark, seed, merge_runs):
    """Differential test on repetition-heavy random corpora (tiny vocab
    so k-spans genuinely repeat within and across docs) against the
    pure-Python reference — BOTH marking modes."""
    rng = np.random.default_rng(seed)
    vocab = ["a", "b", "c", "d"]
    k = 3
    docs = []
    for d in range(40):
        n = int(rng.integers(0, 14))  # includes < k docs
        docs.append((d, " ".join(rng.choice(vocab, n)) if n else ""))
    out = (
        dedup.exact_substr_scrub(
            spark.createDataFrame(docs, "doc_id long, text string"),
            k=k, merge_runs=merge_runs,
        )
        .toPandas()
        .set_index("doc_id")
    )
    ref = _ref_exact_substr_scrub(docs, k, merge_runs)
    assert len(out) == len(ref)
    for d, (n_tok, n_rm, clean) in ref.items():
        row = out.loc[d]
        assert row["n_tokens"] == n_tok, d
        assert row["n_removed"] == n_rm, d
        assert row["clean_text"] == clean, d


@pytest.mark.parametrize("seed", [0, 3, 11])
def test_exact_substr_scrub_run_merge_properties(spark, seed):
    """The r8-verdict stretch pins: merged marks ⊇ per-span marks;
    merged marks decompose into FULL run extents (maximal runs); a run
    whose every span is globally canonical survives whole."""
    rng = np.random.default_rng(seed)
    vocab = ["a", "b", "c"]
    k = 3
    docs = []
    for d in range(30):
        n = int(rng.integers(0, 16))
        docs.append((d, " ".join(rng.choice(vocab, n)) if n else ""))
    toks, per_span = _ref_scrub_marks(docs, k, merge_runs=False)
    _, merged_ref = _ref_scrub_marks(docs, k, merge_runs=True)
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    merged = (
        dedup.exact_substr_scrub(sdf, k=k, merge_runs=True)
        .toPandas().set_index("doc_id")
    )
    # engine == reference at the mark-count level, and superset holds
    for d in toks:
        assert merged.loc[d, "n_removed"] == len(merged_ref[d]), d
        assert per_span[d] <= merged_ref[d], d
    assert any(len(merged_ref[d]) > len(per_span[d]) for d in toks) or all(
        per_span[d] == merged_ref[d] for d in toks
    )


def test_semantic_dedup_dominance_soundness(spark):
    """Every dropped point has an earlier-ranked same-cell point with
    cos >= tau; every kept point has none — recomputed directly with
    numpy from the operator's own cell/rank assignment."""
    emb = testdata.load_table(spark, SF_ORACLE, "embeddings")
    tau = 0.42
    out = similarity.semantic_dedup(emb, tau=tau, n_cells=16).toPandas()
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=float)
        for r in emb.collect()
    }
    assert (~out["keep"]).sum() > 0  # planted near-dups must drop
    for cell, grp in out.groupby("cell_idx"):
        g = grp.sort_values("cell_rank")
        assert list(g["cell_rank"]) == list(range(1, len(g) + 1))
        seen = []
        for _, r in g.iterrows():
            x = vecs[r["vec_id"]]
            dominated = any(
                round(
                    float(x @ y) / (np.linalg.norm(x) * np.linalg.norm(y)), 6
                )
                >= tau
                for y in seen
            )
            assert dominated == (not r["keep"]), (cell, r["vec_id"])
            seen.append(x)


def test_semantic_dedup_auto_n_cells(spark):
    """The default n_cells='auto' applies the measured occupancy rule
    (max(16, ceil(N/256)) — COVERAGE.md r8 scaling table) and is
    result-identical to passing the computed value explicitly."""
    from lightcurvesclassifier_spark.operators.similarity import (
        _auto_n_cells,
    )

    # the occupancy rule itself
    assert _auto_n_cells(0) == 16
    assert _auto_n_cells(2000) == 16       # base profile keeps 16 cells
    assert _auto_n_cells(4096) == 16
    assert _auto_n_cells(4097) == 17
    assert _auto_n_cells(20_000) == 79     # the 10x probe regime
    assert _auto_n_cells(1_000_000) == 3907

    emb = testdata.load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    auto = similarity.semantic_dedup(emb, tau=0.42).toPandas()
    explicit = similarity.semantic_dedup(
        emb, tau=0.42, n_cells=_auto_n_cells(n)
    ).toPandas()
    cols = ["vec_id", "cell_idx", "cell_rank", "cos_seed", "keep"]
    a = auto[cols].sort_values("vec_id").reset_index(drop=True)
    e = explicit[cols].sort_values("vec_id").reset_index(drop=True)
    assert a.equals(e)

    with pytest.raises(ValueError):
        similarity.semantic_dedup(emb, n_cells="sixteen")


def test_semantic_dedup_gemm_equals_sql(spark):
    """method='gemm' (Arrow GEMM assignment + per-cell pairwise GEMM
    dominance) is row-identical to the SQL path on the fixture — same
    seeds, same rounded cosines, same keep set — for both the explicit
    and the auto cell counts."""
    emb = testdata.load_table(spark, SF_ORACLE, "embeddings")
    cols = ["vec_id", "cell_idx", "cell_rank", "cos_seed", "keep"]
    for nc in (16, "auto"):
        sql = (
            similarity.semantic_dedup(emb, tau=0.42, n_cells=nc)
            .toPandas()[cols]
            .sort_values("vec_id")
            .reset_index(drop=True)
        )
        gemm = (
            similarity.semantic_dedup(
                emb, tau=0.42, n_cells=nc, method="gemm"
            )
            .toPandas()[cols]
            .sort_values("vec_id")
            .reset_index(drop=True)
        )
        assert sql.equals(gemm), nc
    with pytest.raises(ValueError):
        similarity.semantic_dedup(emb, method="numpy")


def test_semantic_dedup_keeps_exactly_all_on_high_tau(spark):
    """tau above every attainable cosine keeps everything; tau <= -1
    keeps exactly one point per cell (everything dominated by rank 1)."""
    emb = testdata.load_table(spark, SF_SMOKE, "embeddings")
    all_keep = similarity.semantic_dedup(emb, tau=1.000001, n_cells=16).toPandas()
    assert all_keep["keep"].all()
    one_per_cell = similarity.semantic_dedup(emb, tau=-1.1, n_cells=16).toPandas()
    kept = one_per_cell[one_per_cell["keep"]]
    assert (kept["cell_rank"] == 1).all()
    assert len(kept) == one_per_cell["cell_idx"].nunique()


def test_lsh_recall_summary_invariants_and_weak_vs_strong(spark):
    """The self-eval's counts obey the set containments (hits ≤
    verified ≤ cands on the verified side, hits ≤ truth), the weak
    2-band config misses real pairs (recall < 1 — the metric is
    informative), and the production 8-band config saturates recall on
    the planted corpus. Verified candidates are all true at this
    threshold, so precision is 1 on both configs."""
    docs = testdata.dedup_corpus(spark, SF_ORACLE)
    weak = dedup.lsh_recall(
        docs, threshold=0.5, num_hashes=16, bands=2
    ).collect()[0]
    assert weak.n_hit <= weak.n_verified <= weak.n_cand
    assert weak.n_hit <= weak.n_true
    assert 0 < weak.recall < 1.0
    assert weak.precision == 1.0
    strong = dedup.lsh_recall(
        docs, threshold=0.5, num_hashes=16, bands=8
    ).collect()[0]
    assert strong.n_true == weak.n_true  # truth leg is config-free
    assert strong.recall == 1.0
    # the verified leg equals the production pair query's output count
    n_pairs = dedup.minhash_pairs(
        docs, threshold=0.5, num_hashes=16, bands=8
    ).count()
    assert strong.n_verified == n_pairs


def test_winnow_guarantee_and_boilerplate_guard(spark):
    """Winnowing's paper guarantee: any shared run of >= w+k-1 tokens
    yields >= 1 shared fingerprint (the planted near-dups must all
    pair). The max_df guard: on the boilerplate corpus the hot shared
    fingerprints would pair ~every doc with every doc — the guard
    drops them and only real-overlap pairs remain."""
    dd = testdata.dedup_corpus(spark, SF_ORACLE)
    pairs = dedup.winnow_pairs(
        dd, k=4, w=5, min_shared=1, max_df=50
    ).toPandas()
    got = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    # planted structure: +1M near-dups and +2M exact dups of base ids
    base_ids = {int(i) for i in dd.filter("doc_id < 1000000")
                .select("doc_id").toPandas().doc_id}
    planted = {int(i) for i in dd.filter("doc_id >= 1000000")
               .select("doc_id").toPandas().doc_id}
    for p in planted:
        b = p % 1_000_000
        if b in base_ids:
            assert (min(b, p), max(b, p)) in got, (b, p)
    assert (pairs.containment <= 1.0).all()
    # boilerplate corpus: the guard collapses the quadratic blowup
    lc = testdata.lines_corpus(spark, SF_ORACLE)
    unguarded = dedup.winnow_pairs(lc, 4, 5, 2, max_df=None).count()
    guarded = dedup.winnow_pairs(lc, 4, 5, 2, max_df=20).count()
    assert guarded * 50 < unguarded


def test_lsh_band_curve_nesting_and_point_equivalence(spark):
    """Divisor-chain nesting: a full b-band match is a concatenation of
    the finer partition's bands, so candidate sets are NESTED along
    1|2|4|8|16 — n_cand and recall must be non-decreasing in bands.
    Each curve row must also equal the single-point lsh_recall run at
    the same (num_hashes, bands) — the curve is a shared-subtree
    rewrite, not a different metric."""
    docs = testdata.dedup_corpus(spark, SF_ORACLE)
    rows = {
        r.bands: r
        for r in dedup.lsh_band_curve(
            docs, threshold=0.5, num_hashes=16, bands_set=(1, 2, 4, 8, 16)
        ).collect()
    }
    assert sorted(rows) == [1, 2, 4, 8, 16]
    chain = [rows[b] for b in (1, 2, 4, 8, 16)]
    for prev, cur in zip(chain, chain[1:]):
        assert cur.n_cand >= prev.n_cand
        assert cur.n_hit >= prev.n_hit
        assert cur.rows_per_band == prev.rows_per_band // 2
    for r in chain:
        assert r.n_hit <= r.n_cand
        assert r.n_hit <= r.n_true
    # cross-pin two points against the standalone self-eval: the curve
    # counts hits as cands ∩ truth (no verify leg), which equals
    # lsh_recall's verified ∩ truth whenever the verifier is consistent
    # with the truth predicate — the consistency lsh_recall itself pins
    for b in (2, 8):
        pt = dedup.lsh_recall(
            docs, threshold=0.5, num_hashes=16, bands=b
        ).collect()[0]
        assert (rows[b].n_true, rows[b].n_cand, rows[b].n_hit) == (
            pt.n_true, pt.n_cand, pt.n_hit
        )
        assert rows[b].recall == pt.recall
        assert rows[b].precision == pt.precision


def test_lsh_band_curve_validates_bands(spark):
    docs = testdata.dedup_corpus(spark, SF_ORACLE)
    with pytest.raises(ValueError, match="divide"):
        dedup.lsh_band_curve(docs, num_hashes=16, bands_set=(1, 3))
    with pytest.raises(ValueError, match="duplicate"):
        dedup.lsh_band_curve(docs, num_hashes=16, bands_set=(2, 2))


def test_soft_dedup_weights_sum_to_one_per_cluster(spark, corpus):
    """Every cluster's weights sum to 1 (one expected copy per cluster
    per epoch), every doc is kept, and the label/size columns agree
    with dedup_clusters row for row."""
    w = dedup.soft_dedup_weights(corpus).toPandas()
    assert len(w) == corpus.count()  # soft: nothing dropped
    assert ((w.weight > 0) & (w.weight <= 1.0)).all()
    per_cluster = w.groupby("cluster_id").weight.sum()
    assert np.allclose(per_cluster, 1.0, atol=1e-4)
    cl = dedup.dedup_clusters(corpus).toPandas()
    merged = w.merge(cl, on="doc_id", suffixes=("", "_cl"))
    assert (merged.cluster_id == merged.cluster_id_cl).all()
    assert (merged.cluster_size == merged.cluster_size_cl).all()


def test_dedup_token_report_consistent_with_scrub(spark, corpus):
    """The report row IS the column sums of the scrub's per-doc
    verdicts (composition, not recomputation), and the clean-text
    rebuild is pruned out of the aggregate's physical plan."""
    rep = dedup.dedup_token_report(corpus, k=12).collect()[0]
    per_doc = dedup.exact_substr_scrub(corpus, k=12).toPandas()
    assert rep.n_docs == len(per_doc)
    assert rep.n_docs_touched == int((per_doc.n_removed > 0).sum())
    assert rep.n_tokens == int(per_doc.n_tokens.sum())
    assert rep.n_removed_tokens == int(per_doc.n_removed.sum())
    assert 0 < rep.dup_token_frac < 1  # planted dups → nonzero, sane
    plan = (
        dedup.dedup_token_report(corpus, k=12)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "array_join" not in plan  # clean_text pruned
