"""Dedup + similarity operator tests with planted duplicates and
brute-force oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dea_coastlines_spark.operators import dedup, multimodal, similarity

BASE_DOCS = [
    "the quick brown fox jumps over the lazy dog and runs away to the hills",
    "a completely different document about spark engines and shuffle partitions",
    "coastal erosion rates are computed from annual shoreline positions over time",
    "numerical weather prediction uses spectral methods and data assimilation",
    "sorting networks and merge joins dominate the cost of wide aggregations",
]


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = []
    did = 0
    for i, t in enumerate(BASE_DOCS * 4):
        rows.append({"doc_id": did, "text": t + f" variant {i % 3}"}); did += 1
    # exact duplicates
    rows.append({"doc_id": did, "text": rows[0]["text"]}); did += 1
    # near duplicate (one word changed)
    rows.append({"doc_id": did, "text": rows[0]["text"].replace("lazy", "sleepy")}); did += 1
    df = spark.createDataFrame(pd.DataFrame(rows))
    df.cache().count()
    return df, pd.DataFrame(rows)


def _jaccard(a, b, k=3):
    sa, sb = set(dedup.char_shingles(a, k)), set(dedup.char_shingles(b, k))
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def test_exact_dedup_groups(spark, docs_df):
    df, pdf = docs_df
    out = dedup.exact_dedup(df, ["text"], "doc_id").toPandas()
    dup_groups = out[out.group_size > 1]
    assert len(dup_groups) >= 1
    assert out.group_size.sum() == len(pdf)
    # the planted exact dup pair shares a group with canonical = min id
    t0 = pdf.iloc[0].text
    g = out[out.group_size >= 2]
    assert (g.canonical_id == 0).any()


def test_minhash_lsh_finds_planted_neardup(spark, docs_df):
    df, pdf = docs_df
    pairs = dedup.minhash_lsh_pairs(df, "text", "doc_id", threshold=0.6).toPandas()
    # precision: every returned pair is truly >= threshold (exact verify)
    for r in pairs.itertuples():
        assert _jaccard(pdf.text[r.id_a], pdf.text[r.id_b]) >= 0.6
        assert abs(_jaccard(pdf.text[r.id_a], pdf.text[r.id_b]) - r.jaccard) < 1e-12
    # recall on strong pairs (jaccard >= 0.9): LSH with 16 bands of 4 rows
    # catches these with prob ~1
    strong = [
        (a, b)
        for a in range(len(pdf))
        for b in range(a + 1, len(pdf))
        if _jaccard(pdf.text[a], pdf.text[b]) >= 0.9
    ]
    assert strong, "fixture must contain strong pairs"
    found = {(r.id_a, r.id_b) for r in pairs.itertuples()}
    hit = sum(1 for p in strong if p in found)
    assert hit / len(strong) >= 0.9


def test_cross_corpus_neardup_semantics(spark, docs_df):
    """One-sided cross-corpus screening with a brute-force oracle:
    exact/near copies of reference docs drop (identical signatures
    share every LSH band, so recall on them is certain), unrelated
    docs are kept, matches count cross-table only, and the best-match
    tie rule is (highest jaccard, then lowest ref id) — pinned by a
    new doc equal to TWO identical reference docs."""
    ref_rows = [
        {"doc_id": i, "text": t + " ref"} for i, t in enumerate(BASE_DOCS)
    ]
    # two identical reference docs (ids 5 and 6) for the tie rule
    ref_rows.append({"doc_id": 5, "text": ref_rows[0]["text"]})
    ref_rows.append({"doc_id": 6, "text": ref_rows[0]["text"]})
    new_rows = [
        {"doc_id": 100, "text": ref_rows[0]["text"]},          # 3 exact matches
        {"doc_id": 101, "text": ref_rows[2]["text"]},          # 1 exact match
        {"doc_id": 102, "text": "q1x " * 30},                  # unrelated
        {"doc_id": 103, "text": ref_rows[3]["text"] + " x"},   # near copy
    ]
    ref = spark.createDataFrame(pd.DataFrame(ref_rows))
    new = spark.createDataFrame(pd.DataFrame(new_rows))
    out = (
        dedup.cross_corpus_neardup(new, ref, "text", "doc_id", threshold=0.7)
        .orderBy("doc_id")
        .toPandas()
    )
    assert out.doc_id.tolist() == [100, 101, 102, 103]  # exactly the new ids
    by = {r.doc_id: r for r in out.itertuples()}
    assert by[100].kept == 0 and by[100].n_ref_matches == 3
    assert by[100].best_jaccard == 1.0 and by[100].best_ref_id == 0  # lowest of {0,5,6}
    assert by[101].kept == 0 and by[101].best_ref_id == 2
    assert by[102].kept == 1 and by[102].n_ref_matches == 0
    assert by[102].best_jaccard == -1.0 and by[102].best_ref_id == -1
    assert by[103].kept == 0 and by[103].best_ref_id == 3
    # brute-force parity on every (kept, n, best) triple
    for r in new_rows:
        hits = [
            (p["doc_id"], _jaccard(r["text"], p["text"]))
            for p in ref_rows
            if _jaccard(r["text"], p["text"]) >= 0.7
        ]
        got = by[r["doc_id"]]
        assert got.n_ref_matches == len(hits)
        if hits:
            bj = max(j for _, j in hits)
            assert abs(got.best_jaccard - bj) < 1e-12
            assert got.best_ref_id == min(i for i, j in hits if j == bj)


def test_simhash_pairs_hamming_oracle(spark, docs_df):
    df, pdf = docs_df
    sigs = dedup.simhash_signatures(df, "text", "doc_id").toPandas()
    pairs = dedup.simhash_pairs(df, "text", "doc_id", max_hamming=8).toPandas()
    sig = dict(zip(sigs.doc_id, sigs.simhash))

    def ham(a, b):
        return bin((sig[a] ^ sig[b]) & 0xFFFFFFFFFFFFFFFF).count("1")

    for r in pairs.itertuples():
        assert ham(r.id_a, r.id_b) == r.hamming <= 8
    # exact-recall oracle: the auto-picked chunk count (16 chunks of 4
    # bits for max_hamming=8) guarantees EVERY true pair is found
    want = {
        (a, b)
        for a in sig for b in sig if a < b and ham(a, b) <= 8
    }
    got = {(r.id_a, r.id_b) for r in pairs.itertuples()}
    assert want == got


def test_simhash_exact_dups_zero_hamming(spark, docs_df):
    df, pdf = docs_df
    sigs = dedup.simhash_signatures(df, "text", "doc_id").toPandas().set_index("doc_id")
    dup_id = len(pdf) - 2  # exact duplicate of doc 0
    assert sigs.loc[0, "simhash"] == sigs.loc[dup_id, "simhash"]


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(8)
    n, d = 300, 32
    mat = rng.standard_normal((n, d)).astype(np.float32)
    mat[10] = mat[0] + 0.01 * rng.standard_normal(d).astype(np.float32)  # near-dup
    pdf = pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(mat)})
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": pdf.vec_id, "embedding": [list(map(float, v)) for v in pdf.embedding]})
    )
    df.cache().count()
    return df, mat


def test_brute_force_topk_matches_numpy(spark, emb_df):
    df, mat = emb_df
    queries = df.filter(F.col("vec_id") < 5)
    got = similarity.brute_force_topk(df, queries, k=3).toPandas()
    norms = np.linalg.norm(mat.astype(np.float64), axis=1)
    cos = (mat.astype(np.float64) @ mat.astype(np.float64).T) / np.outer(norms, norms)
    for q in range(5):
        c = np.round(cos[q], 6)
        c[q] = -np.inf
        order = np.lexsort((np.arange(len(c)), -c))[:3]
        want = [int(i) for i in order]
        have = got[got.query_id == q].sort_values("rank").item_id.tolist()
        assert have == want, f"query {q}: {have} vs {want}"


def test_lsh_topk_recall(spark, emb_df):
    df, mat = emb_df
    queries = df.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(df, queries, k=5).toPandas()
    # 4 planes x 8 tables: collision prob for cosine~0.5 neighbors is
    # ~(2/3)^4 per table -> ~0.83 union recall on unclustered Gaussians
    approx = similarity.lsh_topk(df, queries, dim=32, k=5, n_planes=4, n_tables=8).toPandas()
    recall_hits = 0
    for q in range(10):
        e = set(exact[exact.query_id == q].item_id)
        a = set(approx[approx.query_id == q].item_id)
        recall_hits += len(e & a)
    assert recall_hits / (10 * 5) >= 0.5  # multi-table LSH recall floor
    # the planted near-dup must be found (cosine ~1 -> same buckets w.h.p.)
    nd = approx[(approx.query_id == 0) & (approx["rank"] == 1)]
    assert len(nd) == 1 and nd.item_id.iloc[0] == 10


def test_embedding_neardup_finds_planted(spark, emb_df):
    df, mat = emb_df
    pairs = similarity.embedding_neardup_pairs(df, dim=32, threshold=0.95).toPandas()
    assert ((pairs.id_a == 0) & (pairs.id_b == 10)).any()


def test_embedding_neardup_lsh_matches_exact_on_duplicates(spark, emb_df):
    """The default (LSH-fronted) near-dup path returns exactly the same
    pairs as the quadratic exact path on this fixture: the qualifying
    pairs are near-parallel, where hyperplane recall is ~1."""
    df, mat = emb_df
    got = sorted(
        map(tuple, similarity.embedding_neardup_pairs(df, dim=32, threshold=0.95)
            .select("id_a", "id_b", "cosine").collect())
    )
    want = sorted(
        map(tuple, similarity.embedding_neardup_pairs_exact(df, threshold=0.95)
            .select("id_a", "id_b", "cosine").collect())
    )
    assert got == want and len(want) >= 1


def _assert_no_nested_loop(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_neardup_plans_have_no_nested_loop_join(spark, docs_df, emb_df):
    """Scale-safety gate: the DEFAULT near-dup paths (prefix-filtered
    n-gram Jaccard with NO blocking key, charset Jaccard, LSH embedding
    near-dup) must plan as equi-joins — no CartesianProduct, no
    BroadcastNestedLoopJoin anywhere in the physical plan."""
    df, _ = docs_df
    edf, _ = emb_df
    _assert_no_nested_loop(
        dedup.word_ngram_jaccard_pairs(df, "text", "doc_id", n=2, threshold=0.5)
    )
    _assert_no_nested_loop(
        dedup.cross_corpus_neardup(
            df.filter(F.col("doc_id") < 5), df, "text", "doc_id"
        )
    )
    charset = df.withColumn("lang", F.lit("en"))
    _assert_no_nested_loop(
        dedup.charset_jaccard_pairs(charset, "text", "doc_id", "lang", threshold=0.8)
    )
    _assert_no_nested_loop(
        similarity.embedding_neardup_pairs(edf, dim=32, threshold=0.95)
    )
    _assert_no_nested_loop(dedup.minhash_lsh_pairs(df, "text", "doc_id"))
    _assert_no_nested_loop(dedup.simhash_pairs(df, "text", "doc_id"))


def test_multimodal_resize_halves_dims(spark):
    from dea_coastlines_spark.synth import corpus

    spec = corpus.CorpusSpec(tile_px=64, halo_px=0, tiles_x=1, tiles_y=1,
                             year0=2000, year1=2000, obs_per_year=1, cloud_frac=0.0, seed=2)
    tiles = spark.createDataFrame(corpus.generate_pandas(spec))
    out = multimodal.resize(tiles, factor=2).toPandas()
    assert (out.w == 32).all() and (out.h == 32).all()
    from dea_coastlines_spark.codecs import image as ic

    small = ic.decode_tile(bytes(out.bytes.iloc[0]), out.fmt.iloc[0])
    big, _ = corpus.make_tile(spec, 0, 0, 2000, 0)
    want = big.reshape(32, 2, 32, 2).mean(axis=(1, 3))
    assert np.allclose(small, want, atol=3e-4)


def test_multimodal_resize_jpeg_roundtrip(spark):
    # lossy leg of the fmt contract: resize decodes + re-encodes jpeg
    from dea_coastlines_spark.synth import corpus

    spec = corpus.CorpusSpec(tile_px=64, halo_px=0, tiles_x=1, tiles_y=1,
                             year0=2000, year1=2000, obs_per_year=1,
                             cloud_frac=0.0, seed=2, fmt="jpeg")
    tiles = spark.createDataFrame(corpus.generate_pandas(spec))
    out = multimodal.resize(tiles, factor=2).toPandas()
    assert (out.w == 32).all() and (out.fmt == "jpeg").all()
    from dea_coastlines_spark.codecs import image as ic

    small = ic.decode_tile(bytes(out.bytes.iloc[0]), "jpeg")
    big, _ = corpus.make_tile(spec, 0, 0, 2000, 0)
    want = big.reshape(32, 2, 32, 2).mean(axis=(1, 3))
    # two lossy 8-bit round trips: tolerance is the codec's, not float's
    assert ic.psnr(want.astype(np.float32), small) >= 35.0


def test_multimodal_frame_sample(spark):
    from dea_coastlines_spark.operators import composite as comp_op
    from dea_coastlines_spark.synth import corpus

    spec = corpus.CorpusSpec(tile_px=32, halo_px=0, tiles_x=1, tiles_y=1,
                             year0=2000, year1=2000, obs_per_year=6, cloud_frac=0.0, seed=2)
    tiles = comp_op.with_caption(spark.createDataFrame(corpus.generate_pandas(spec)))
    out = multimodal.frame_sample(tiles, every_k=2).toPandas()
    assert len(out) == 3 and out.frame_idx.tolist() == [0, 2, 4]


def test_audio_features_closed_forms(spark):
    """WAV decode + features vs closed forms: a pure sine at frequency f
    has RMS A/sqrt(2), zero-crossing rate 2f, spectral centroid f."""
    from dea_coastlines_spark.codecs import wav

    rate, f, amp, dur = 8000, 440.0, 0.5, 1.0
    t = np.arange(int(rate * dur)) / rate
    mono = (amp * np.sin(2 * np.pi * f * t)).astype(np.float32)
    stereo = np.stack([mono, mono], axis=1)
    pdf = pd.DataFrame(
        {
            "audio_id": ["sine_mono", "sine_stereo"],
            "bytes": [wav.encode_pcm16(mono, rate), wav.encode_pcm16(stereo, rate)],
        }
    )
    out = (
        multimodal.audio_features(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("audio_id")
    )
    for aid in ("sine_mono", "sine_stereo"):
        r = out.loc[aid]
        assert r.sample_rate == rate and abs(r.duration_s - dur) < 1e-9
        assert abs(r.rms - amp / np.sqrt(2)) < 1e-3
        assert abs(r.zcr_hz - 2 * f) < 5.0
        assert abs(r.spectral_centroid_hz - f) < 2.0


def test_wav_roundtrip_bits(spark):
    from dea_coastlines_spark.codecs import wav

    rng = np.random.default_rng(3)
    x = rng.uniform(-1, 1, (500, 2)).astype(np.float32)
    y, rate = wav.decode_pcm16(wav.encode_pcm16(x, 44100))
    assert rate == 44100 and y.shape == (500, 2)
    assert np.abs(y - np.clip(x, -1, 1)).max() <= 1.5 / 32767


def test_ivf_topk_recall_vs_brute_force(spark):
    from dea_coastlines_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = brute_force_topk(emb, queries, k=5).collect()
    approx = ivf_topk(emb, queries, k=5, n_clusters=8, nprobe=4).collect()
    exact_set = {(r.query_id, r.item_id) for r in exact}
    approx_set = {(r.query_id, r.item_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5  # nprobe/half the clusters -> decent recall
    # deterministic: same call twice -> identical rows
    again = {(r.query_id, r.rank, r.item_id) for r in
             ivf_topk(emb, queries, k=5, n_clusters=8, nprobe=4).collect()}
    assert again == {(r.query_id, r.rank, r.item_id) for r in approx}


def test_semdedup_matches_numpy_semantics(spark, emb_df):
    """Full numpy recompute of the SemDeDup semantics (explicit
    centroids so both sides share only the constants): nearest-centroid
    assignment, rounded c_sim, keep-priority pairing (lower c_sim
    first, id tie-break), within-cluster cosine prune, per-item max
    duplicate cosine."""
    df, mat = emb_df
    x = mat.astype(np.float64)
    cents = similarity.kmeans_fit(x, n_clusters=8, n_iter=10, seed=3)
    got = (
        similarity.semdedup(df, eps=0.95, centroids=cents)
        .orderBy("vec_id")
        .toPandas()
    )

    u = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = u @ cents.T
    cl = sims.argmax(axis=1)
    c_sim = np.round(sims[np.arange(len(x)), cl], 6)
    cos = np.round(u @ u.T, 6)
    n = len(x)
    dup_cos = np.full(n, -1.0)
    for a in range(n):
        best = -1.0
        for b in range(n):
            if b == a or cl[b] != cl[a]:
                continue
            if (c_sim[b] < c_sim[a]) or (c_sim[b] == c_sim[a] and b < a):
                if cos[a, b] >= 0.95:
                    best = max(best, cos[a, b])
        dup_cos[a] = best

    assert got.vec_id.tolist() == list(range(n))
    assert got.cluster.tolist() == cl.tolist()
    assert np.allclose(got.c_sim.to_numpy(), c_sim, atol=2e-6)
    assert np.allclose(got.dup_cos.to_numpy(), dup_cos, atol=2e-6)
    assert got.kept.tolist() == [int(d < 0) for d in dup_cos]
    # the planted near-dup pair (0, 10) resolved: exactly one dropped,
    # and the survivor is the one farther from its centroid
    pair = got[got.vec_id.isin([0, 10])]
    assert sorted(pair.kept.tolist()) == [0, 1]
    keep = pair[pair.kept == 1].iloc[0]
    drop = pair[pair.kept == 0].iloc[0]
    assert keep.c_sim <= drop.c_sim


def test_semdedup_plan_is_equi_join(spark, emb_df):
    """Scale gate: the within-cluster prune plans as an equi-join on
    cluster — no CartesianProduct / BroadcastNestedLoopJoin."""
    df, mat = emb_df
    cents = similarity.kmeans_fit(mat.astype(np.float64), 8, 10, 3)
    _assert_no_nested_loop(similarity.semdedup(df, centroids=cents))


def test_phash_neardup_matches_bruteforce(spark):
    """Engine's pigeonhole phash join == brute-force O(n^2) hamming scan
    (exact recall: the auto-picked chunk count exceeds max_hamming)."""
    import itertools

    from dea_coastlines_spark.synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=64, halo_px=4, tiles_x=3, tiles_y=2,
                              year0=2000, year1=2002, obs_per_year=4,
                              cloud_frac=0.05, seed=9)
    pdf = _corpus.generate_pandas(spec)
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.phash_neardup_pairs(
            spark.createDataFrame(pdf), max_hamming=6
        ).collect()
    }

    def ham(a, b):
        return bin((int(a) ^ int(b)) & 0xFFFFFFFFFFFFFFFF).count("1")

    want = set()
    rows = sorted(zip(pdf["image_id"], pdf["phash"]))
    for (ia, pa), (ib, pb) in itertools.combinations(rows, 2):
        h = ham(pa, pb)
        if h <= 6:
            want.add((ia, ib, h))
    assert got == want and len(want) > 50

    # explicit n_chunks=4 is the lossy recall/cost dial: a subset
    lossy = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.hamming_pairs(
            spark.createDataFrame(pdf).select("image_id", "phash"),
            "phash", "image_id", max_hamming=6, n_chunks=4,
        ).collect()
    }
    assert lossy <= got


def test_phash_pigeonhole_exact_below_chunk_count(spark):
    """For max_hamming < n_chunks the pigeonhole stage has perfect
    recall: hand-built signatures differing in 1-3 bits are all found."""
    base = 0x0123456789ABCDEF
    rows = [("a", base), ("b", base ^ 0b1), ("c", base ^ (1 << 17) ^ (1 << 40)),
            ("d", base ^ 0b111), ("e", ~base & 0xFFFFFFFFFFFFFFFF)]
    sdf = spark.createDataFrame(
        pd.DataFrame({"image_id": [r[0] for r in rows],
                      "phash": [int(np.uint64(r[1]).astype(np.int64)) for r in rows]})
    )
    got = {(r.id_a, r.id_b, r.hamming)
           for r in dedup.phash_neardup_pairs(sdf, max_hamming=3).collect()}
    assert got == {("a", "b", 1), ("a", "c", 2), ("a", "d", 3),
                   ("b", "d", 2), ("b", "c", 3)}


def test_word_ngram_jaccard_matches_python(spark, docs_df):
    """JVM array-expression bigram Jaccard == a python set oracle,
    including the single-token and empty-text degenerate cases."""
    df, pdf = docs_df
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.word_ngram_jaccard_pairs(
            df, "text", "doc_id", n=2, threshold=0.3
        ).collect()
    }

    def grams(t):
        toks = (t or "").lower().split()
        if not toks:
            return set()
        if len(toks) == 1:
            return {toks[0]}
        return {" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)}

    gs = {r.doc_id: grams(r.text) for r in pdf.itertuples()}
    want = {}
    ids = sorted(gs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            u = len(gs[a] | gs[b])
            j = len(gs[a] & gs[b]) / u if u else 0.0
            if j >= 0.3:
                want[(a, b)] = round(j, 6)
    assert got == want and len(want) > 0


def test_word_ngram_jaccard_degenerate_docs(spark):
    """Empty and single-token docs: two empty docs score 0.0 (not 1.0 —
    the empty gram is dropped), identical single tokens score 1.0."""
    sdf = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3, 4],
                "text": ["", "   ", "hello", "hello", "hello world"],
            }
        )
    )
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.word_ngram_jaccard_pairs(
            sdf, "text", "doc_id", n=2, threshold=0.0
        ).collect()
    }
    # empty x empty and empty x anything: union 0 -> 0.0 (kept only
    # because threshold is 0.0 here)
    assert pairs[(0, 1)] == 0.0
    assert pairs[(0, 2)] == 0.0
    # identical single-token docs -> {"hello"} vs {"hello"} = 1.0
    assert pairs[(2, 3)] == 1.0
    # "hello" vs "hello world": {"hello"} vs {"hello world"} -> disjoint
    assert pairs[(2, 4)] == 0.0
    # above-zero threshold excludes all degenerate pairs
    kept = dedup.word_ngram_jaccard_pairs(
        sdf, "text", "doc_id", n=2, threshold=0.5
    ).collect()
    assert {(r.id_a, r.id_b) for r in kept} == {(2, 3)}


def test_augment_images_crop_flip_deterministic(spark):
    from dea_coastlines_spark.codecs import image as ic
    from dea_coastlines_spark.synth import corpus

    spec = corpus.CorpusSpec(tile_px=32, halo_px=0, tiles_x=2, tiles_y=1,
                             year0=2000, year1=2000, obs_per_year=2,
                             cloud_frac=0.0, seed=4, fmt="tiff")
    tiles = spark.createDataFrame(corpus.generate_pandas(spec))
    out = multimodal.augment_images(
        tiles, crop_px=4, hflip=True, brightness=0.1
    ).toPandas().set_index("image_id")
    assert (out.w == 24).all() and (out.h == 24).all()
    # verify against a directly computed transform (tiff = bit-exact)
    src = corpus.generate_pandas(spec).set_index("image_id")
    iid = out.index[0]
    arr = ic.decode_tile(bytes(src.loc[iid, "bytes"]), "tiff")[4:-4, 4:-4]
    want = np.clip(arr[:, ::-1] + 0.1, -1.0, 1.0).astype(np.float32)
    got = ic.decode_tile(bytes(out.loc[iid, "bytes"]), "tiff")
    assert np.allclose(got, want, equal_nan=True)
    # seeded per-image flips are partition-invariant
    a = multimodal.augment_images(tiles, hflip=True, seed=9).toPandas()
    b = multimodal.augment_images(
        tiles.repartition(5), hflip=True, seed=9
    ).toPandas()
    pa = a.set_index("image_id").bytes.apply(bytes).to_dict()
    pb = b.set_index("image_id").bytes.apply(bytes).to_dict()
    assert pa == pb


def test_caption_alignment_cosine_identities(spark):
    """phash == caption SimHash -> cosine exactly 1; complement -> -1;
    empty caption embeds to signature 0."""
    import pandas as pd

    from dea_coastlines_spark.operators.dedup import simhash64
    from dea_coastlines_spark.operators.multimodal import caption_alignment

    cap = "annual shoreline tile composite"
    sig = simhash64([cap])[0]
    rows = pd.DataFrame(
        {
            "image_id": ["same", "opposite", "empty"],
            "caption": [cap, cap, ""],
            "phash": [sig, ~sig, 12345],
        }
    )
    got = (
        caption_alignment(spark.createDataFrame(rows), threshold=0.0)
        .toPandas()
        .set_index("image_id")
    )
    assert got.loc["same", "hamming"] == 0
    assert got.loc["same", "alignment"] == 1.0
    assert bool(got.loc["same", "keep"])
    assert got.loc["opposite", "hamming"] == 64
    assert got.loc["opposite", "alignment"] == -1.0
    assert not bool(got.loc["opposite", "keep"])
    assert got.loc["empty", "caption_sig"] == 0


def test_caption_alignment_prunes_bytes_before_arrow(spark):
    """Image bytes must never cross into the Python tower pass: the
    operator narrows to (id, caption, phash) before mapInPandas."""
    from dea_coastlines_spark.operators.multimodal import caption_alignment
    from dea_coastlines_spark.synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=32, halo_px=2, tiles_x=2, tiles_y=1,
                              year0=2000, year1=2000, obs_per_year=2,
                              cloud_frac=0.0, seed=4)
    tiles = spark.createDataFrame(_corpus.generate_pandas(spec))
    out = caption_alignment(tiles)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    (arrow_schema,) = re.findall(r"MapInPandas.*", plan)[:1] or [""]
    assert "bytes" not in arrow_schema
    got = out.toPandas()
    assert len(got) == 4 and got["alignment"].between(-1, 1).all()


def test_hard_negatives_matches_bruteforce(spark):
    """Uncapped mining equals a pandas brute force over the same hash
    towers; the donor cap only ever shrinks each image's donor pool to
    the md5-first members of its bucket."""
    import hashlib

    import pandas as pd

    from dea_coastlines_spark.operators.dedup import simhash64
    from dea_coastlines_spark.operators.multimodal import hard_negatives
    from dea_coastlines_spark.synth import corpus as _corpus

    spec = _corpus.CorpusSpec(tile_px=32, halo_px=2, tiles_x=3, tiles_y=2,
                              year0=2000, year1=2001, obs_per_year=3,
                              cloud_frac=0.05, seed=21)
    pdf = _corpus.generate_pandas(spec)
    tiles = spark.createDataFrame(pdf)
    k, bits = 2, 6

    got = (
        hard_negatives(tiles, k=k, prefix_bits=bits, bucket_cap=None)
        .toPandas()
        .sort_values(["image_id", "rank"])
        .reset_index(drop=True)
    )

    sigs = simhash64(pdf["caption"])
    rows = []
    for i in range(len(pdf)):
        bucket_i = int(pdf["phash"].iloc[i]) >> (64 - bits)
        cands = []
        for j in range(len(pdf)):
            if i == j or (int(pdf["phash"].iloc[j]) >> (64 - bits)) != bucket_i:
                continue
            ham = bin((int(pdf["phash"].iloc[i]) ^ sigs[j]) & ((1 << 64) - 1)).count("1")
            cands.append((round(1 - ham * 2 / 64, 6), pdf["image_id"].iloc[j]))
        cands.sort(key=lambda t: (-t[0], t[1]))
        for r, (al, nid) in enumerate(cands[:k], 1):
            rows.append((pdf["image_id"].iloc[i], r, nid, al))
    want = pd.DataFrame(
        rows, columns=["image_id", "rank", "neg_image_id", "neg_alignment"]
    ).sort_values(["image_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype({"rank": "int64"}), want.astype({"rank": "int64"})
    )

    # cap semantics: donors restricted to each bucket's md5-first 3
    capped = hard_negatives(
        tiles, k=k, prefix_bits=bits, bucket_cap=3
    ).toPandas()
    by_bucket = {}
    for j in range(len(pdf)):
        b = int(pdf["phash"].iloc[j]) >> (64 - bits)
        by_bucket.setdefault(b, []).append(pdf["image_id"].iloc[j])
    allowed = set()
    for b, ids in by_bucket.items():
        ids.sort(key=lambda s: (hashlib.md5(s.encode()).hexdigest(), s))
        allowed |= set(ids[:3])
    assert set(capped["neg_image_id"]) <= allowed
    # an image receives negatives iff its bucket's capped donor set
    # contains someone other than itself
    recv = set(capped["image_id"])
    for i in range(len(pdf)):
        b = int(pdf["phash"].iloc[i]) >> (64 - bits)
        iid = pdf["image_id"].iloc[i]
        cap_set = set(
            sorted(by_bucket[b],
                   key=lambda s: (hashlib.md5(s.encode()).hexdigest(), s))[:3]
        ) - {iid}
        assert (iid in recv) == bool(cap_set)


def test_verify_jaccard_bitset_budget_fallback(spark, docs_df, monkeypatch):
    """The vectorized bitset verify degrades to the per-pair probe loop
    when a batch's (docs x vocab) bitset would exceed the memory
    budget. Force the budget to zero and pin that the fallback returns
    the exact same pairs and jaccard values as the vectorized path —
    the 100 TB wide-vocab story relies on these two kernels being
    interchangeable."""
    df, pdf = docs_df
    fast = (
        dedup.minhash_lsh_pairs(df, "text", "doc_id", threshold=0.6)
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    monkeypatch.setattr(dedup, "_BITSET_BUDGET_BYTES", 0)
    slow = (
        dedup.minhash_lsh_pairs(df, "text", "doc_id", threshold=0.6)
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    assert fast[["id_a", "id_b"]].values.tolist() == slow[["id_a", "id_b"]].values.tolist()
    assert np.allclose(fast["jaccard"], slow["jaccard"], rtol=0, atol=0)


def test_charset_jaccard_distinct_set_collapse_parity(spark, docs_df):
    """charset_jaccard_pairs routes through the distinct-set collapse
    (_dedup_set_jaccard); its output must be row-for-row identical to
    the direct per-row PPJoin path, including the identical-set 1.0
    pairs and empty-text exclusion."""
    df, _ = docs_df
    charset = df.withColumn("lang", F.lit("en"))
    # planted degenerates: empty text (empty set), exact charset dup
    extra = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [9001, 9002, 9003],
                "text": ["", "", "zzzz qqqq"],
                "lang": ["en", "en", "en"],
            }
        )
    )
    src = charset.select("doc_id", "text", "lang").unionByName(extra)
    base = src.select(
        F.col("doc_id"),
        F.col("lang").alias("grp"),
        F.array_remove(
            F.array_distinct(F.split(F.lower(F.col("text")), "")), ""
        ).alias("chars"),
    )
    for t in (0.8, 0.99):
        fast = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup._dedup_set_jaccard(base, "doc_id", "chars", t).collect()
        }
        direct = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup._pairwise_set_jaccard(base, "doc_id", "chars", t).collect()
        }
        assert fast == direct and len(fast) > 0
