"""Deduplication operators for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, n-gram and char-set Jaccard, and image
pHash near-dup.

All are DataFrame plans over the `documents` table (pHash: over tile
rows); Python appears only in Arrow-batched kernels (minhash/simhash
signatures, Jaccard verify).

Scale notes:
  * exact dedup is one hash-groupBy (map-side partial agg free).
  * MinHash LSH: signature UDF -> explode to (band, bucket) -> self-join
    on bucket equality -> verify exact Jaccard on candidates only. The
    band explode replicates each doc num_bands times (constant factor);
    the self-join shuffles on bucket hash, never all-pairs.
  * SimHash: 64-bit signature; candidate pairs via 4x16-bit pigeonhole
    bands (hamming<=3 cannot differ in all 4 chunks); verify with
    bit_count(xor) <= k JVM-side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _spread(df: DataFrame) -> DataFrame:
    """Repartition RAW input rows up to default parallelism before an
    expensive projection. Must run on the un-projected frame: a
    repartition applied after the projection executes the projection
    below the exchange — still single-threaded for a one-file input."""
    want = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df


def _splitmix(z: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = (z + np.uint64(0x9E3779B97F4A7C15)) & _M64
        z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _M64
        z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _M64
        return z ^ (z >> np.uint64(31))


def _hash_str_array(strings: list[str]) -> np.ndarray:
    """Deterministic 64-bit FNV-1a over utf-8 bytes (intentional uint64
    wraparound). Vectorized: inputs are bucketed by byte length and the
    byte columns folded with numpy ops — bit-identical to the scalar
    per-byte loop (same fold order), ~50x faster on shingle batches,
    which dominate minhash/simhash kernel CPU."""
    bs = [s.encode("utf-8") for s in strings]
    out = np.empty(len(bs), np.uint64)
    if not bs:
        return out
    prime = np.uint64(0x100000001B3)
    with np.errstate(over="ignore"):
        lens = np.fromiter((len(b) for b in bs), np.intp, len(bs))
        for ln in np.unique(lens):
            idx = np.nonzero(lens == ln)[0]
            if ln == 0:
                out[idx] = np.uint64(0xCBF29CE484222325)
                continue
            flat = (
                np.frombuffer(b"".join(bs[i] for i in idx), np.uint8)
                .reshape(len(idx), ln)
                .astype(np.uint64)
            )
            h = np.full(len(idx), 0xCBF29CE484222325, np.uint64)
            for j in range(int(ln)):
                h = ((h ^ flat[:, j]) * prime) & _M64
            out[idx] = h
    return out


def char_shingles(text: str, k: int = 3) -> list[str]:
    t = text.lower()
    if len(t) < k:
        return [t] if t else []
    return list({t[i : i + k] for i in range(len(t) - k + 1)})


def shingle_hashes(text: str, k: int = 3) -> np.ndarray:
    """Sorted unique FNV-1a hashes of a text's k-char shingles —
    identical values to _hash_str_array(char_shingles(text, k)) (then
    uniqued), but for ASCII text the shingling never builds Python
    strings: the lowered bytes are viewed as sliding k-byte windows
    (byte windows == char windows for ASCII), packed into integer keys,
    uniqued, and FNV-folded column-wise. ~10x less per-doc Python than
    the set-of-strings path that dominated the minhash signature pass.
    Non-ASCII text falls back to the string path (char slices and byte
    windows disagree under multi-byte encodings)."""
    t = text.lower()
    if len(t) < k:
        if not t:
            return np.empty(0, np.uint64)
        return np.unique(_hash_str_array([t]))
    b = t.encode("utf-8")
    if len(b) != len(t) or k > 8:
        return np.unique(_hash_str_array(char_shingles(text, k)))
    a = np.frombuffer(b, np.uint8)
    win = np.lib.stride_tricks.sliding_window_view(a, k).astype(np.uint64)
    # big-endian byte pack: distinct windows <-> distinct keys (k <= 8)
    key = np.zeros(win.shape[0], np.uint64)
    for j in range(k):
        key = (key << np.uint64(8)) | win[:, j]
    uk = np.unique(key)
    # FNV-1a fold over the k bytes recovered in original order
    prime = np.uint64(0x100000001B3)
    h = np.full(uk.size, 0xCBF29CE484222325, np.uint64)
    with np.errstate(over="ignore"):
        for j in range(k - 1, -1, -1):
            byte = (uk >> np.uint64(8 * j)) & np.uint64(0xFF)
            h = ((h ^ byte) * prime) & _M64
    return np.unique(h)


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Exact duplicate groups by md5 of the concatenated key columns
    (hash-groupBy; the canonical web-scale first pass). Returns one row
    per group: canonical id (min id), group size."""
    keyed = df.withColumn("dup_key", F.md5(F.concat_ws("\x1f", *cols)))
    return (
        keyed.groupBy("dup_key")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("group_size"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    shingle_k: int = 3,
    with_shingles: bool = False,
) -> DataFrame:
    """MinHash signatures via one permutation-free scheme: h_i(s) =
    splitmix64(fnv(s) ^ seed_i); signature[i] = min over shingles.
    with_shingles=True additionally emits each doc's sorted unique
    shingle-hash array (already computed for the signature) so a
    broadcast-verify caller needs no second shingling pass."""
    with np.errstate(over="ignore"):
        seeds = _splitmix(
            np.arange(1, num_perm + 1, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        )

    def kernel(batches):
        for pdf in batches:
            sigs = []
            shs = []
            for text in pdf[text_col]:
                # distinct-shingle hash SET == _hash_str_array over
                # char_shingles (min/unique below are set functions)
                base = shingle_hashes(text or "", shingle_k)
                if base.size == 0:
                    sigs.append([int(0x7FFFFFFFFFFFFFFF)] * num_perm)
                    if with_shingles:
                        shs.append(np.empty(0, np.int64))
                    continue
                mat = _splitmix(base[:, None] ^ seeds[None, :])  # (n, num_perm)
                sigs.append((mat.min(axis=0) >> np.uint64(1)).astype(np.int64).tolist())
                if with_shingles:
                    shs.append(base.view(np.int64))
            out = {id_col: pdf[id_col], "signature": sigs}
            if with_shingles:
                out["sh"] = shs
            yield pd.DataFrame(out)

    schema = f"{id_col} long, signature array<long>"
    if with_shingles:
        schema += ", sh array<long>"
    # single-split corpora (one parquet row-group) would run the whole
    # signature pass in ONE task; spread raw rows first (same fix as
    # the heavy text queries — results are per-row, partition-invariant)
    return _spread(df.select(id_col, text_col)).mapInPandas(kernel, schema)


def _banded_buckets(
    sigs: DataFrame, id_col: str, num_perm: int, bands: int
) -> DataFrame:
    """(id, signature) -> (id, band, bucket): each signature exploded
    into its band slices, bucket = xxhash64 of the slice string (equal
    slices hash equal; collisions across different slices only add
    candidates the exact verify rejects)."""
    rows_per_band = num_perm // bands
    # explode_OUTER: a plain explode's inferred size>0/isnotnull filter
    # inlines every band's xxhash64+concat_ws twice more per row; the
    # array is fixed-size bands >= 1 with non-null struct elements, so
    # outer is row-for-row identical
    return sigs.select(
        id_col,
        F.explode_outer(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("signature")[i].cast("string")
                                    for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


# byte -> set-bit count, for the bitset-intersection verify kernel
# (numpy < 2.0 has no bitwise_count ufunc)
_POP8 = np.array(
    [bin(i).count("1") for i in range(256)], dtype=np.uint16
)


def _popcount64(a: np.ndarray) -> np.ndarray:
    """Vectorized SWAR popcount over a uint64 array (numpy < 2.0 has no
    bitwise_count ufunc). Replaces the _POP8 byte-gather: the gather
    did one table lookup PER BYTE (8 per word — the dominant cost of
    the bitset verify at millions of pairs x hundreds of words), while
    this is 12 elementwise vector ops per word, no gathers. Exact for
    all 2^64 inputs (the standard Hacker's Delight reduction)."""
    with np.errstate(over="ignore"):
        x = a - ((a >> np.uint64(1)) & np.uint64(0x5555555555555555))
        x = (x & np.uint64(0x3333333333333333)) + (
            (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
        )
        x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)
# cap on the per-batch (docs x vocab-words) bitset matrix; above it the
# kernel degrades to the per-pair probe loop instead of blowing memory
_BITSET_BUDGET_BYTES = 256 << 20

# broadcast-verify gate: corpora at or below this row count ship their
# per-doc shingle-hash arrays to every task as ONE broadcast instead of
# join-attaching text payloads to every candidate pair (guide §8:
# decide with small rows, move heavy bytes once — here the heavy bytes
# never move at all). Byte-capped too, since row count alone does not
# bound the arrays.
_BC_VERIFY_ROW_CAP = 100_000
_BC_VERIFY_BYTES = 256 << 20


def _batch_set_jaccard(arrs, lens, ca, cb):
    """Exact set-Jaccard for pairs (ca[i], cb[i]) over distinct sorted
    uint64-hash arrays `arrs`: compact-rank bitset pack + SWAR popcount
    (see _verify_jaccard's docstring for the derivation). Returns None
    when the (docs x vocab) bitset would exceed _BITSET_BUDGET_BYTES —
    the caller falls back to per-pair probes."""
    n = len(ca)
    jac = np.zeros(n, np.float64)
    vocab = (
        np.unique(np.concatenate(arrs))
        if len(arrs) and lens.sum()
        else np.empty(0, np.uint64)
    )
    words = (int(vocab.size) + 63) >> 6
    if len(arrs) * words * 8 > _BITSET_BUDGET_BYTES:
        return None
    if not vocab.size:
        return jac
    bits = np.zeros((len(arrs), words), np.uint64)
    doc_rep = np.repeat(np.arange(len(arrs)), lens)
    rank = np.searchsorted(vocab, np.concatenate([a for a in arrs if a.size]))
    # flat (doc, word) keys are globally ascending (ranks sorted within
    # each doc), so OR-pack with reduceat
    key = doc_rep * words + (rank >> 6)
    bit = np.left_shift(np.uint64(1), (rank & 63).astype(np.uint64))
    starts = np.concatenate([[0], np.flatnonzero(np.diff(key)) + 1])
    bits.reshape(-1)[key[starts]] = np.bitwise_or.reduceat(bit, starts)
    # chunk the pair dimension so the AND+popcount scratch stays CACHE
    # resident (~256 KB): the SWAR popcount makes ~6 temporaries the
    # size of the AND buffer per chunk, so a 64 MB chunk streamed every
    # temporary through DRAM — measured 4.2x slower than 256 KB chunks
    # (24.7 s vs 5.2 s per 2M pairs x 312 words, single-thread; the gap
    # widens with 32 tasks sharing memory bandwidth)
    step = max(1, (256 << 10) // max(words * 8, 1))
    inter = np.empty(n, np.int64)
    for s in range(0, n, step):
        e = min(n, s + step)
        both = bits[ca[s:e]] & bits[cb[s:e]]
        inter[s:e] = _popcount64(both).sum(axis=1, dtype=np.int64)
    union = lens[ca] + lens[cb] - inter
    nz = union > 0
    jac[nz] = inter[nz] / union[nz]
    return jac


def _pair_probe_jaccard(arrs, ca, cb, jac):
    """Budget fallback: per-pair sorted-array membership probes over the
    same distinct arrays (bounded memory; parity-pinned vs the bitset
    path by tests/test_dedup_similarity.py)."""
    for i in range(len(jac)):
        sa, sb = arrs[ca[i]], arrs[cb[i]]
        if sa.size > sb.size:
            sa, sb = sb, sa
        idx = np.searchsorted(sb, sa)
        idx[idx == sb.size] = 0  # out-of-range can't match
        inter = int(np.count_nonzero(sb[idx] == sa))
        union = sa.size + sb.size - inter
        if union:
            jac[i] = inter / union


def _verify_jaccard_bc(
    pairs: DataFrame, bc_a, bc_b, a_id: str, b_id: str
) -> DataFrame:
    """Exact shingle-Jaccard over SLIM (a, b) candidate rows: per-doc
    arrays come from broadcast maps instead of join-attached texts, so
    nothing heavier than two longs crosses the shuffle or the Python
    boundary per pair. Same bitset kernel and budget fallback as the
    join-attach path — identical jaccard values by construction."""
    same = bc_a is bc_b

    def verify(batches):
        amap = bc_a.value
        bmap = bc_b.value
        empty = np.empty(0, np.uint64)
        for pdf in batches:
            n = len(pdf)
            ia = pdf[a_id].to_numpy()
            ib = pdf[b_id].to_numpy()
            if same:
                codes, uniq = pd.factorize(np.concatenate([ia, ib]))
                arrs = [amap.get(i, empty) for i in uniq]
                ca, cb = codes[:n], codes[n:]
            else:
                # distinct id spaces: factorize per side, offset b codes
                ca, ua = pd.factorize(ia)
                cb, ub = pd.factorize(ib)
                arrs = [amap.get(i, empty) for i in ua] + [
                    bmap.get(i, empty) for i in ub
                ]
                cb = cb + len(ua)
            lens = np.fromiter((a.size for a in arrs), np.int64, len(arrs))
            jac = _batch_set_jaccard(arrs, lens, ca, cb)
            if jac is None:
                jac = np.zeros(n, np.float64)
                _pair_probe_jaccard(arrs, ca, cb, jac)
            yield pd.DataFrame({a_id: ia, b_id: ib, "jaccard": jac})

    return pairs.mapInPandas(
        verify, f"{a_id} long, {b_id} long, jaccard double"
    )


def _verify_jaccard(
    pairs: DataFrame,
    shingle_k: int,
    a_id: str,
    b_id: str,
    spread: bool = True,
) -> DataFrame:
    """Exact shingle-Jaccard over candidate pairs carrying text_a/text_b
    columns; returns (a_id, b_id, jaccard). Arrow-batched; runs only on
    LSH candidates, never all-pairs. The kernel is the per-row CPU hot
    spot, so (a) pairs are explicitly hash-repartitioned first — AQE
    coalesces post-join exchanges by BYTES and would funnel a small-
    bytes/heavy-CPU candidate set into one task (the explicit partition
    count opts this exchange out of coalescing) — and (b) the whole
    batch is verified with ZERO per-pair Python: batch texts are
    factorized, each distinct text shingled + FNV-hashed once
    (memoized across batches), the hash values remapped to compact
    ranks over the batch vocabulary (np.unique), each doc packed into
    a dense bitset row, and every pair's intersection computed as
    popcount(bits[a] & bits[b]) across the batch in a handful of
    vectorized ops (~6x over the prior per-pair searchsorted loop,
    whose cost was numpy call overhead on ~300-element arrays, 6M
    times). Batches whose (docs x vocab) bitset would exceed
    _BITSET_BUDGET_BYTES (wide-vocab corpora at real scale) fall back
    to the per-pair probe loop — bounded memory either way. "Exact"
    means exact up to 64-bit shingle-hash equality — the same stance
    (and the same FNV fold) as _pairwise_set_jaccard; the driver
    oracle compares the STRING-set ground truth, so a collision would
    surface as a hash-gate mismatch rather than hide."""
    want = pairs.sparkSession.sparkContext.defaultParallelism

    def verify(batches):
        memo: dict[str, np.ndarray] = {}

        def sh(t):
            a = memo.get(t)
            if a is None:
                with np.errstate(over="ignore"):
                    a = shingle_hashes(t, shingle_k)
                memo[t] = a
            return a

        for pdf in batches:
            n = len(pdf)
            ta = pdf["text_a"].fillna("").to_numpy(object)
            tb = pdf["text_b"].fillna("").to_numpy(object)
            codes, uniq = pd.factorize(np.concatenate([ta, tb]))
            arrs = [sh(t) for t in uniq]
            lens = np.fromiter((a.size for a in arrs), np.int64, len(arrs))
            ca, cb = codes[:n], codes[n:]
            jac = _batch_set_jaccard(arrs, lens, ca, cb)
            if jac is None:
                jac = np.zeros(n, np.float64)
                _pair_probe_jaccard(arrs, ca, cb, jac)
            yield pd.DataFrame(
                {
                    a_id: pdf[a_id].to_numpy(),
                    b_id: pdf[b_id].to_numpy(),
                    "jaccard": jac,
                }
            )

    src = pairs.repartition(want, a_id, b_id) if spread else pairs
    return src.mapInPandas(
        verify, f"{a_id} long, {b_id} long, jaccard double"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH + exact Jaccard verify.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >=
    threshold. Verification computes EXACT shingle Jaccard on candidate
    pairs only, so precision is 1.0; recall follows the LSH S-curve.

    Cost note (measured at sf0.1, ambient shingle-J ~0.45 vs t=0.6 —
    a pathological near-threshold corpus with 6.1M candidates and
    807k TRUE pairs out of 12.5M possible): the memoized Arrow text
    verify (16 s) beats a JVM array_intersect verify over broadcast
    per-doc shingle-hash arrays (24.5 s) — codegen set-intersection
    over ~900-element arrays costs more per pair than a memoized
    frozenset intersection, and the PPJoin-style length filter prunes
    only 10% here (uniform doc lengths). The cost is candidate+output
    volume, not plan shape; on a real web corpus (low ambient
    similarity) candidates ≈ true pairs and this plan is optimal.
    (r6: below _BC_VERIFY_ROW_CAP the verify consumes the slim id
    pairs directly with the shingle-hash arrays broadcast from the
    signature pass — the bitset kernel then beats both options above
    because no text ever crosses a shuffle or the Python boundary.)"""
    small = (
        df.limit(_BC_VERIFY_ROW_CAP + 1).count() <= _BC_VERIFY_ROW_CAP
    )
    sigs = minhash_signatures(
        df, text_col, id_col, num_perm, shingle_k, with_shingles=small
    )
    bc = None
    if small:
        # one kernel pass serves both consumers: the banded-bucket
        # branch reads signatures from the cached checkpoint, and the
        # arrays are collected for the verify broadcast
        sigs = sigs.localCheckpoint(eager=False)
        pdf = sigs.select(id_col, "sh").toPandas()
        amap: dict = {}
        total = 0
        for i, a in zip(pdf[id_col].tolist(), pdf["sh"]):
            arr = np.sort(np.asarray(a, np.int64).view(np.uint64))
            total += arr.nbytes
            amap[i] = arr
        if total <= _BC_VERIFY_BYTES:
            bc = df.sparkSession.sparkContext.broadcast(amap)
        sigs = sigs.select(id_col, "signature")
    banded = _banded_buckets(sigs, id_col, num_perm, bands)

    left = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    right = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    # repartition the SLIM (id, id) candidates BEFORE dedup and text
    # attach (guide §2.3 "shuffle keys, not payloads" / §8): the
    # explicit exchange both opts the CPU-heavy verify out of AQE's
    # by-bytes coalescing AND satisfies the distinct aggregate's
    # clustering requirement, so the dedup runs partition-local with no
    # second exchange. The texts join in AFTER the shuffle (broadcast
    # when the corpus side fits; the join re-clusters only above
    # broadcast size, where its own exchange is load-bearing anyway) —
    # the prior shape attached texts first and then repartitioned,
    # shuffling every candidate's two document payloads (~GBs at sf0.1
    # candidate volume) to move a 16-byte id pair.
    want = df.sparkSession.sparkContext.defaultParallelism
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .repartition(want, "id_a", "id_b")
        .distinct()
    )

    # broadcast-size corpora: verify over the slim candidate pairs with
    # the per-doc shingle arrays broadcast once — no text joins, no
    # text bytes through the Python boundary (measured: the join-attach
    # verify spent ~2s/6M pairs on Arrow text transfer + per-task
    # re-shingling at sf0.1). Above the cap, the join-attach path.
    if bc is not None:
        ver = _verify_jaccard_bc(cand, bc, bc, "id_a", "id_b")
    else:
        docs = df.select(id_col, text_col)
        pairs = (
            cand.join(docs.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a")), "id_a")
            .join(docs.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b")), "id_b")
        )
        ver = _verify_jaccard(pairs, shingle_k, "id_a", "id_b", spread=False)

    return ver.filter(F.col("jaccard") >= threshold)


def cross_corpus_neardup(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """One-sided cross-corpus near-dedup: label every NEW-corpus doc
    that near-duplicates ANY reference-corpus doc (exact shingle
    Jaccard >= threshold). The training-pipeline primitive for "don't
    re-ingest what the last crawl already contributed" / "drop rows
    near-copying a held-out set" — unlike n-gram decontamination
    (containment of a tiny eval vocabulary) this scores whole-document
    set similarity against an arbitrarily large reference corpus.

    Candidates come only from shared (band, bucket) pairs ACROSS the
    two tables — never new x new or ref x ref, never all-pairs — then
    exact Jaccard verify on candidates. Returns one row per new doc:
      (id, n_ref_matches, best_jaccard, best_ref_id, kept)
    best_ref_id is the highest-Jaccard reference match (ties -> lowest
    ref id); (-1.0, -1) when no match; kept = 1 iff no match. The
    output is deterministic and independent of partitioning.

    Scale shape: one Arrow signature pass per table, a (band, bucket)
    equi-join whose build side is the banded NEW table (typically the
    small delta against a big reference), two id equi-joins to fetch
    texts, one grouped max, one left join back onto the new ids.

    Banding defaults to 8 bands x 8 rows, not the pair-mining 16 x 4:
    the S-curve midpoint (1/b)^(1/r) is ~0.77, matched to the 0.7
    default threshold. 16 x 4 (midpoint ~0.5) over-generates ~30x on
    corpora with high ambient similarity — candidate volume, not the
    signature pass, is this operator's cost at scale. Recall at the
    threshold follows the S-curve either way; results stay
    deterministic for any (num_perm, bands) choice."""
    sig_new = minhash_signatures(new_df, text_col, id_col, num_perm, shingle_k)
    sig_ref = minhash_signatures(ref_df, text_col, id_col, num_perm, shingle_k)
    b_new = _banded_buckets(sig_new, id_col, num_perm, bands).select(
        F.col(id_col).alias("new_id"), "band", "bucket"
    )
    b_ref = _banded_buckets(sig_ref, id_col, num_perm, bands).select(
        F.col(id_col).alias("ref_id"), "band", "bucket"
    )
    # same shape as minhash_lsh_pairs: shuffle the slim id pairs, fold
    # the dedup into the explicit exchange, attach texts after
    want = new_df.sparkSession.sparkContext.defaultParallelism
    cand = (
        b_new.join(b_ref, ["band", "bucket"])
        .select("new_id", "ref_id")
        .repartition(want, "new_id", "ref_id")
        .distinct()
    )
    # join-attach verify (NOT the minhash broadcast gate: measured at
    # sf0.1, two extra probe+collect+broadcast rounds cost more than
    # this operator's smaller candidate volume saves)
    pairs = (
        cand.join(
            new_df.select(F.col(id_col).alias("new_id"), F.col(text_col).alias("text_a")),
            "new_id",
        ).join(
            ref_df.select(F.col(id_col).alias("ref_id"), F.col(text_col).alias("text_b")),
            "ref_id",
        )
    )
    matches = (
        _verify_jaccard(pairs, shingle_k, "new_id", "ref_id", spread=False)
        .filter(F.col("jaccard") >= threshold)
        .groupBy("new_id")
        .agg(
            F.count("*").alias("n_ref_matches"),
            # struct max: highest jaccard, ties -> lowest ref id
            F.max(F.struct(F.col("jaccard"), (-F.col("ref_id")).alias("nri"))).alias("b"),
        )
        .select(
            "new_id",
            "n_ref_matches",
            F.col("b.jaccard").alias("best_jaccard"),
            (-F.col("b.nri")).alias("best_ref_id"),
        )
    )
    return (
        new_df.select(F.col(id_col).alias("new_id"))
        .join(matches, "new_id", "left")
        .select(
            F.col("new_id").alias(id_col),
            F.coalesce("n_ref_matches", F.lit(0)).alias("n_ref_matches"),
            F.coalesce("best_jaccard", F.lit(-1.0)).alias("best_jaccard"),
            F.coalesce("best_ref_id", F.lit(-1)).alias("best_ref_id"),
            F.col("n_ref_matches").isNull().cast("int").alias("kept"),
        )
    )


def simhash64(texts) -> list:
    """64-bit SimHash (sign of FNV-hash-weighted bit sums over
    lowercased whitespace tokens) for an iterable of strings; int64
    (two's-complement) per text, 0 for empty/None; the signature of the
    text near-dup kernel.

    Fully batch-vectorized: all texts' tokens are hashed in ONE
    _hash_str_array call, per-bit ±1 sums are segment-reduced with
    np.add.reduceat, and the sign bits are packed with a matrix-vector
    product — the prior per-text loop spent ~200 us/text on a
    64-iteration Python bit loop over np.uint64 scalars (the dominant
    cost of simhash_pairs' signature pass). Bit-identical results:
    same FNV token hashes, same bit order, same >0 sign rule."""
    tok_lists = [(t or "").lower().split() for t in texts]
    lens = np.fromiter((len(t) for t in tok_lists), np.intp, len(tok_lists))
    flat: list[str] = [tok for toks in tok_lists for tok in toks]
    out = np.zeros(len(tok_lists), np.int64)
    if flat:
        hs = _hash_str_array(flat)  # (n_tokens,)
        shifts = np.arange(64, dtype=np.uint64)[None, :]
        nz = np.nonzero(lens)[0]
        starts = np.concatenate([[0], np.cumsum(lens[nz])[:-1]])
        # chunk the (tokens x 64) ±1 matrix so scratch stays bounded;
        # chunk boundaries always fall ON text boundaries so reduceat
        # segments never split
        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
        pos = 0
        tok_budget = 1 << 20
        while pos < len(nz):
            end = pos
            tok0 = starts[pos]
            while end < len(nz) and starts[end] + lens[nz[end]] - tok0 <= tok_budget:
                end += 1
            end = max(end, pos + 1)
            tok1 = starts[end - 1] + lens[nz[end - 1]]
            bits = ((hs[tok0:tok1, None] >> shifts) & np.uint64(1)).astype(
                np.int16
            )
            pm = 2 * bits - 1
            acc = np.add.reduceat(pm, (starts[pos:end] - tok0), axis=0)
            # disjoint bit weights: the uint64 sum IS the bit-OR pack
            sig = ((acc > 0).astype(np.uint64) * weights[None, :]).sum(
                axis=1, dtype=np.uint64
            )
            out[nz[pos:end]] = sig.view(np.int64)
            pos = end
    return out.tolist()


def simhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash over whitespace tokens (sign of hash-weighted sum)."""

    def kernel(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {id_col: pdf[id_col], "simhash": simhash64(pdf[text_col])}
            )

    return _spread(df.select(id_col, text_col)).mapInPandas(
        kernel, f"{id_col} long, simhash long"
    )


def exact_recall_chunks(max_hamming: int) -> int:
    """Smallest power-of-two chunk count with PERFECT pigeonhole recall
    for the given radius: a pair differing in fewer bits than n_chunks
    must agree on at least one chunk, so recall is exact iff
    n_chunks > max_hamming."""
    n = 2
    while n <= max_hamming:
        n *= 2
    return min(n, 64)


def hamming_pairs(
    sigs: DataFrame,
    sig_col: str,
    id_col: str,
    max_hamming: int,
    n_chunks: int | None = None,
) -> DataFrame:
    """Pairs of rows whose 64-bit signatures differ in <= max_hamming
    bits: chunk-pigeonhole candidates, JVM-side bit_count(xor) verify.
    Entirely whole-stage-codegen — zero Python.

    n_chunks=None (default) picks the smallest chunk count with EXACT
    recall (n_chunks > max_hamming — with fewer chunks, a pair whose
    differing bits span every chunk is silently missed). Passing an
    explicit smaller n_chunks is the web-scale recall/cost dial: fewer
    chunks mean wider keys (64/n bits -> more buckets, fewer candidate
    comparisons) at the cost of missing pairs in (n_chunks, max_hamming].

    At web scale the chunk join shuffles each row n_chunks times on a
    (64/n_chunks)-bit key; AQE skew-join splits pathological buckets
    (all-equal signatures)."""
    if n_chunks is None:
        n_chunks = exact_recall_chunks(max_hamming)
    bits = 64 // n_chunks
    mask = (1 << bits) - 1
    chunks = sigs.select(
        id_col, sig_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(sig_col, c * bits).bitwiseAND(F.lit(mask)).alias("key"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("cc"),
    ).select(id_col, sig_col, F.col("cc.chunk").alias("chunk"), F.col("cc.key").alias("key"))
    left = chunks.select(F.col(id_col).alias("id_a"), F.col(sig_col).alias("sig_a"), "chunk", "key")
    right = chunks.select(F.col(id_col).alias("id_b"), F.col(sig_col).alias("sig_b"), "chunk", "key")
    return (
        left.join(right, ["chunk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming. Candidates by
    16-bit-chunk pigeonhole (<=3 differing bits cannot hit all 4 chunks);
    verify with JVM-side bit_count(xor)."""
    sigs = simhash_signatures(df, text_col, id_col)
    return hamming_pairs(sigs, "simhash", id_col, max_hamming)


def phash_neardup_pairs(
    tiles: DataFrame, max_hamming: int = 6, id_col: str = "image_id"
) -> DataFrame:
    """Image near-duplicate pairs via the 64-bit perceptual hash the
    tiles table already carries (input_hint `phash`; codecs.image.
    phash64 = 8x8 block-mean + median threshold). Same pigeonhole plan
    as simhash_pairs — the image analog of text SimHash dedup, and the
    first-pass near-dup filter for a 10^12-image training corpus: no
    decode, no Python, one chunk-keyed shuffle over (id, phash)."""
    return hamming_pairs(
        tiles.select(id_col, "phash"), "phash", id_col, max_hamming
    )


def _dedup_set_jaccard(
    base: DataFrame, id_col: str, set_col: str, threshold: float
) -> DataFrame:
    """Distinct-set collapse around _pairwise_set_jaccard (guide §2.3:
    shuffle/verify PROXIES, expand payload rows once at the end).

    For small-universe set similarity (character sets: <= a few dozen
    distinct elements), many rows share EXACTLY the same set — at sf0.1
    the en-documents corpus has 2,059 rows but only 266 distinct char
    sets, so the prefix join + verify ran ~60x more pair work than the
    distinct structure requires. Group rows by (grp, canonical sorted
    set), run the full PPJoin machinery over one representative per
    group, then expand each qualifying set pair over both groups' id
    lists (identical-set pairs score exactly 1.0 and are emitted by the
    within-group combination branch). Row-for-row identical output:
    Jaccard is a pure function of the two sets, so every expanded pair
    carries the same value the direct path would have computed.

    Scale note: the collapse is one extra hash-shuffle keyed by the
    set itself; it pays for itself whenever rows-per-distinct-set > 1
    (templated/boilerplate corpora), and the grouped id lists are
    bounded by group size, not corpus size. Callers with near-unique
    sets (word n-grams over real text) keep the direct path."""
    canon = base.select(
        id_col, "grp", F.array_sort(F.col(set_col)).alias(set_col)
    )
    groups = (
        canon.groupBy("grp", set_col)
        .agg(
            F.collect_list(F.col(id_col)).alias("_ids"),
            F.min(id_col).alias("_rep"),
        )
        .localCheckpoint(eager=False)  # reps pipeline + two expansions
    )
    reps = groups.select(F.col("_rep").alias(id_col), "grp", set_col)
    pairs = _pairwise_set_jaccard(reps, id_col, set_col, threshold)
    ga = groups.select(F.col("_rep").alias("id_a"), F.col("_ids").alias("_ids_a"))
    gb = groups.select(F.col("_rep").alias("id_b"), F.col("_ids").alias("_ids_b"))
    cross = (
        pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select(F.explode("_ids_a").alias("_ia"), "_ids_b", "jaccard")
        .select("_ia", F.explode("_ids_b").alias("_ib"), "jaccard")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "jaccard",
        )
    )
    if float(threshold) > 1.0:
        return cross
    # identical non-empty sets: J = 1.0 exactly (empty sets score 0.0
    # under the union>0 convention and can never reach a t>0 threshold)
    within = (
        groups.filter(F.size(set_col) > 0)
        .select(F.explode("_ids").alias("id_a"), "_ids")
        .select("id_a", F.explode("_ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(F.lit(1.0), 6).alias("jaccard"))
    )
    return cross.unionByName(within)


def _pairwise_set_jaccard(
    base: DataFrame, id_col: str, set_col: str, threshold: float
) -> DataFrame:
    """Exact set-Jaccard pairs >= threshold via PREFIX FILTERING
    (AllPairs / PPJoin family: Chaudhuri et al. ICDE'06, Bayardo et al.
    WWW'07) — never an all-pairs join. base must have (id_col, grp,
    set_col); grp additionally blocks the pairing (lit(0) = unblocked,
    still scale-safe because the join key is (grp, prefix_element)).

    Exact recall: order every set by one global total order; a pair
    with J >= t has overlap o >= ceil(t/(1+t)*(|x|+|y|)) >= ceil(t*|x|)
    for each side (since |y| >= t*|x| for qualifying pairs), and any two
    sets with overlap >= a share an element within their
    (|x|-a+1)-prefixes. So joining on exploded
    (size - ceil(t*size) + 1)-prefixes finds every qualifying pair;
    exact intersect/union verify then makes precision 1.0. Candidate
    volume ~ sum of prefix-bucket squares, vs n^2 for all-pairs.
    Elements are compared by 64-bit xxhash64 past the df join (see
    inline note on why 64 and not wider) — "exact" means exact up to
    64-bit element-hash equality; the driver oracle compares against
    the string-set ground truth, so a collision surfaces as a
    correctness mismatch instead of hiding.

    The total order is ASCENDING GLOBAL DOCUMENT FREQUENCY (ties by
    element value) — the canonical AllPairs/PPJoin ordering: prefixes
    then hold each set's RAREST elements, so candidate buckets stay
    small. (Any total order preserves exact recall; a hash order puts
    hot elements — "of the"-style n-grams — into prefixes, and those
    buckets square: measured 13x slower at sf0.1.) Costs one extra
    df-count aggregation + per-element join + per-set regroup — three
    narrow shuffles that are linear in corpus size, vs the quadratic
    hot-bucket blowup they remove. Thresholds on the UNROUNDED value
    (same order the DuckDB oracles use), then rounds the reported value
    to 6 dp."""
    if threshold <= 0:
        # t=0 means "every pair qualifies" — the OUTPUT is quadratic, so
        # prefix pruning is meaningless (and would drop empty-set pairs
        # that legitimately score 0.0). Plain within-group pairing.
        a = base.select(F.col(id_col).alias("id_a"), "grp", F.col(set_col).alias("_sa"))
        b = base.select(F.col(id_col).alias("id_b"), "grp", F.col(set_col).alias("_sb"))
        inter0 = F.size(F.array_intersect("_sa", "_sb"))
        union0 = F.size("_sa") + F.size("_sb") - inter0
        j0 = F.when(union0 == 0, F.lit(0.0)).otherwise(inter0 / union0)
        return (
            a.join(b, "grp")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("_j", j0)
            .filter(F.col("_j") >= threshold)
            .select("id_a", "id_b", F.round("_j", 6).alias("jaccard"))
        )
    # Rarest-first ordering: explode ONCE, aggregate the global df of
    # each element, join it back, regroup sorting by (df, element).
    # groupBy + join rather than count() OVER (PARTITION BY _e): a
    # window funnels EVERY occurrence of a hot element ("of the")
    # through one un-splittable task, while the aggregate combines
    # map-side and the re-join is broadcast when the vocabulary fits
    # (it does here) or AQE-skew-splittable when it doesn't. Empty
    # sets vanish at the explode — safe for t > 0, where an empty set
    # can never reach the threshold (union > 0 forces j = 0).
    # Materialize base before fanning out: (1) the elems subtree feeds
    # both the df-count aggregate and its re-join, so the set-building
    # expression would execute twice; (2) InferFiltersFromGenerate adds
    # size(set)>0 under the explode, and predicate pushdown substitutes
    # the FULL set-building expression into it — re-running the
    # interpreted gram build once per row (measured 8.6 s at sf0.1).
    # Behind the checkpoint barrier both touch a materialized attribute.
    base = base.localCheckpoint(eager=False)
    elems = base.select(id_col, "grp", F.explode(set_col).alias("_e"))
    dfreq = elems.groupBy("_e").agg(F.count("*").alias("_df"))
    # After the df join, each element is replaced by its 64-bit
    # xxhash64 and the strings never travel further: every downstream
    # cost center — the per-set sort, the prefix join keys, the verify
    # array_intersect — compares longs instead of ~30-char strings.
    # LONGS specifically, not a wider struct: ArrayIntersect only has
    # the OpenHashSet fast path for atomic types — on struct elements
    # it degrades to pairwise O(|x|*|y|) equality (measured 620 s CPU
    # vs 5 s at sf0.1). Trade-off, stated honestly: two distinct
    # elements colliding in 64 bits would miscount one intersection;
    # the probability any collision exists is ~V^2/2^65 (~3% at a 10^9
    # vocabulary, negligible below), and a collision only perturbs
    # pairs containing both colliding elements. The driver oracle
    # brute-forces the STRING sets, so a collision would surface as a
    # hash mismatch rather than hide. Any total order preserves exact
    # recall; sorting by (df, hash) keeps the rarest-first property
    # that keeps prefix buckets small.
    elems = elems.join(dfreq, "_e").select(
        id_col, "grp", "_df", F.xxhash64("_e").alias("_h")
    )
    # collect raw structs only; the CPU-heavy array_sort + transform
    # projection is deferred until AFTER the explicit repartition below
    # — inside the agg it would execute in the AQE-coalesced reduce
    # stage (a handful of byte-optimal tasks for a CPU-bound projection)
    sets = (
        elems.groupBy(id_col, "grp")
        .agg(F.collect_list(F.struct("_df", "_h")).alias("_raw"))
    )
    # ceil(t*size) with an epsilon guard: a float product that lands
    # infinitesimally ABOVE the true integer would shorten the prefix
    # and break exact recall; erring long only costs candidates.
    plen = (
        F.size("_ord")
        - F.ceil(F.lit(float(threshold)) * F.size("_ord") - F.lit(1e-9))
        + 1
    ).cast("int")
    # asymmetric INDEX prefix (PPJoin): when probing the larger set x
    # against the smaller y, the required overlap alpha(x,y) =
    # ceil(t/(1+t)*(|x|+|y|)) >= ceil(2t/(1+t)*|y|), so y only needs a
    # (|y| - ceil(2t/(1+t)*|y|) + 1)-prefix in the index side — ~t/(2t)
    # shorter than the probe prefix, cutting candidate volume ~half.
    pilen = (
        F.size("_ord")
        - F.ceil(
            F.lit(2.0 * float(threshold) / (1.0 + float(threshold)))
            * F.size("_ord")
            - F.lit(1e-9)
        )
        + 1
    ).cast("int")
    # sets feeds three join branches (prefix explode + both verify
    # sides); Catalyst's ReuseExchange does not canonicalize the HOF
    # lambdas inside, so without truncation the gram pipeline runs 3-4x.
    # A lazy localCheckpoint materializes it once on first action.
    # Explicit repartition first: AQE coalesces the upstream regroup to
    # a handful of partitions (the shuffled BYTES are small) and the
    # checkpoint then FREEZES that width for every downstream stage —
    # the prefix explodes and verify joins are CPU-bound on array work,
    # so they must inherit full parallelism, not byte-optimal widths.
    par = base.sparkSession.sparkContext.defaultParallelism
    sets = (
        sets.repartition(par, id_col)
        .withColumn(
            "_ord",
            F.transform(F.array_sort("_raw"), lambda s: s["_h"]),
        )
        .drop("_raw")
        .withColumn("_p", plen)
        .withColumn("_pi", pilen)
        .localCheckpoint(eager=False)
    )
    probe = sets.select(
        id_col, "grp", F.size("_ord").alias("_sz"),
        F.posexplode(F.slice("_ord", 1, F.greatest("_p", F.lit(1)))).alias("_pos", "_pg"),
    )
    index = sets.select(
        id_col, "grp", F.size("_ord").alias("_sz"),
        F.posexplode(F.slice("_ord", 1, F.greatest("_pi", F.lit(1)))).alias("_pos", "_pg"),
    )
    # length filter (PPJoin): J >= t forces min(|x|,|y|) >= t*max, so
    # size-mismatched candidates are pruned before the verify join —
    # recall-safe (epsilon absorbs the float product)
    len_ok = (
        F.col("_sza") >= F.lit(float(threshold)) * F.col("_szb") - F.lit(1e-9)
    ) & (
        F.col("_szb") >= F.lit(float(threshold)) * F.col("_sza") - F.lit(1e-9)
    )
    # positional filter (PPJoin, Xiao et al. WWW'08): a qualifying pair
    # needs overlap alpha = ceil(t/(1+t) * (|x|+|y|)); both arrays are
    # sorted by the same global order, so the FIRST shared element sits
    # at the minimal position in both, bounding the total overlap by
    # 1 + min(remaining suffix lengths). That first-shared-element join
    # row always survives the filter, so exact recall is preserved while
    # late-position hot-token rows — the quadratic bulk in templated
    # corpora — are dropped before the distinct.
    alpha = F.ceil(
        F.lit(float(threshold) / (1.0 + float(threshold)))
        * (F.col("_sza") + F.col("_szb"))
        - F.lit(1e-9)
    )
    pos_ok = (
        F.lit(1) + F.least(F.col("_sza") - F.col("_pa"), F.col("_szb") - F.col("_pb"))
    ) >= alpha
    # probe the lexicographically-larger (size, id) side against the
    # smaller side's short index prefix: every qualifying pair has
    # |y| <= |x| for exactly one orientation, so each is caught once.
    smaller = (F.col("_szb") < F.col("_sza")) | (
        (F.col("_szb") == F.col("_sza")) & (F.col("id_b") < F.col("id_a"))
    )
    # The prefix join and the verify join below are CPU-bound (filter
    # cascade over the candidate fan-out; array_intersect over full
    # sets) while their shuffled BYTES are tiny, so AQE coalesces them
    # to a handful of tasks and one hot prefix bucket straggles.
    # Explicit fixed-width repartitions on the join keys pin full
    # parallelism AND satisfy the join's distribution requirement (no
    # extra exchange is added). Measured at sf0.1: 6.0 s -> 2.8 s.
    cand = (
        probe.select(
            F.col(id_col).alias("id_a"), "grp", "_pg",
            F.col("_sz").alias("_sza"), (F.col("_pos") + 1).alias("_pa"),
        )
        .repartition(par, "grp", "_pg")
        .join(
            index.select(
                F.col(id_col).alias("id_b"), "grp", "_pg",
                F.col("_sz").alias("_szb"), (F.col("_pos") + 1).alias("_pb"),
            ).repartition(par, "grp", "_pg"),
            ["grp", "_pg"],
        )
        .filter(smaller & len_ok & pos_ok)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        # repartition BEFORE the dedup: the explicit exchange satisfies
        # the distinct aggregate's clustering requirement, so the dedup
        # runs partition-local (one shuffle of the raw candidates
        # instead of distinct's exchange PLUS a re-spread exchange) and
        # the CPU-bound verify below still inherits full width instead
        # of an AQE byte-coalesced handful of tasks.
        .repartition(par, "id_a", "id_b")
        .distinct()
    )
    inter = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size("_sa") + F.size("_sb") - inter
    j = F.when(union == 0, F.lit(0.0)).otherwise(inter / union)
    return (
        cand.join(sets.select(F.col(id_col).alias("id_a"), F.col("_ord").alias("_sa")), "id_a")
        .join(sets.select(F.col(id_col).alias("id_b"), F.col("_ord").alias("_sb")), "id_b")
        .withColumn("_j", j)
        .filter(F.col("_j") >= threshold)
        .select("id_a", "id_b", F.round("_j", 6).alias("jaccard"))
    )


def charset_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, group_col: str, threshold: float
) -> DataFrame:
    """Exact character-set Jaccard pairs within a blocking group — pure
    JVM-side array ops (no Python): the SQL-oracle-able dedup variant
    (DuckDB `jaccard()` has identical char-set semantics). Candidates
    come from the prefix filter inside _pairwise_set_jaccard, never a
    within-group all-pairs join (the char universe is small, so the
    prefix join is less selective here than for n-grams — the blocking
    key carries most of the pruning)."""
    chars = _spread(df).select(
        F.col(id_col),
        F.col(group_col).alias("grp"),
        F.array_remove(
            F.array_distinct(F.split(F.lower(F.col(text_col)), "")), ""
        ).alias("chars"),
    )
    # distinct-set collapse: the char universe is tiny, so rows share
    # identical sets en masse (266 distinct sets / 2,059 rows at sf0.1)
    return _dedup_set_jaccard(chars, id_col, "chars", threshold)


def word_ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 2,
    threshold: float = 0.5,
    group_col: str | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard near-dup pairs — entirely JVM-side
    array expressions (split -> sliding n-grams via transform(sequence)
    -> array_distinct -> prefix-filtered candidate join -> exact
    intersect/union verify), zero Python: the SQL-oracle-able n-gram
    dedup variant. Scale-safe WITHOUT a blocking key: candidates come
    from the exact-recall prefix filter (see _pairwise_set_jaccard), so
    an unblocked corpus never degenerates to an all-pairs join.
    group_col optionally composes a blocking key into the join."""
    # explicit whitespace class, NOT \s: Java regex \s and the oracle's
    # RE2 \s disagree on \x0B, which would tokenize the same text
    # differently on the two engines.
    # The token array MATERIALIZES as a column before the n-gram lambda
    # touches it: higher-order functions evaluate interpreted, so an
    # inline token expression is re-split/re-lowered once PER ELEMENT —
    # measured 2 ms/row (10 s of a 22 s sf0.1 run) vs ~40 us
    # materialized.
    toks_col = F.col("_wj_toks")
    grams = F.array_remove(
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0), F.greatest(F.size(toks_col) - n, F.lit(0))
                ),
                lambda i: F.concat_ws(" ", F.slice(toks_col, i + 1, n)),
            )
        ),
        "",  # empty text degenerates to one empty gram; drop it so two
        # empty docs score 0.0, not 1.0
    )
    base = (
        _spread(df)
        .withColumn(
            "_wj_toks",
            F.filter(
                F.split(F.lower(F.col(text_col)), "[ \\t\\n\\r\\f\\x0B]+"),
                lambda t: t != "",
            ),
        )
        .select(
            F.col(id_col),
            *([F.col(group_col).alias("grp")] if group_col
              else [F.lit(0).alias("grp")]),
            grams.alias("grams"),
        )
    )
    return _pairwise_set_jaccard(base, id_col, "grams", threshold)
