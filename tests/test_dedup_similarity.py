"""Dedup operator tests with planted duplicates and brute-force
oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dea_coastlines_spark.operators import dedup

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


def _assert_no_nested_loop(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_neardup_plans_have_no_nested_loop_join(spark, docs_df):
    """Scale-safety gate: the DEFAULT near-dup paths (prefix-filtered
    n-gram Jaccard with NO blocking key, cross-corpus, charset Jaccard,
    MinHash and SimHash) must plan as equi-joins — no CartesianProduct,
    no BroadcastNestedLoopJoin anywhere in the physical plan."""
    df, _ = docs_df
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
    _assert_no_nested_loop(dedup.minhash_lsh_pairs(df, "text", "doc_id"))
    _assert_no_nested_loop(dedup.simhash_pairs(df, "text", "doc_id"))


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
