"""Distributed Bloom-filter screening: membership of a huge seen-set
(URLs already crawled, doc ids already ingested) tested WITHOUT joining
the full incoming corpus against the full seen table.

The filter is a plain DataFrame of (word_idx, word) int64 rows — m bits
packed 64 per word — built with one groupBy(word_idx).agg(bit_or), so
the build is a single map-side-combinable shuffle over k·|seen| tiny
rows regardless of corpus size. Probing joins the incoming keys' k bit
positions against those words: broadcast when the filter is small
(num_bits/8 bytes is known a priori — no probe scan needed), a plain
equi-join on word_idx when it is not (a 10^11-bit filter is ~12 GiB —
partitionable, never driver-side).

Screening is EXACT end-to-end: a Bloom filter has no false negatives,
so keys with any unset bit are definitely new and skip the expensive
anti-join entirely; only the (tiny) bloom-positive remainder is
confirmed against the real seen table. The final output is therefore
hash-independent and identical to a full anti-join — the filter only
prunes the join's probe side (at 100 TB: ~99% of incoming keys never
reach the shuffle). False-positive rate only affects how much reaches
the confirm join; tests pin the no-false-negative invariant and the
(1 - e^{-kn/m})^k rate against theory.

Everything is JVM expressions (xxhash64 / pmod / shiftleft / bit_or);
zero Python in the plan.

Reference analog: the seen-tile / already-processed-run bookkeeping in
dea-coastlines is a pandas isin() over run lists (coastlines/utils.py);
at web scale the same "skip what we've seen" step needs a compact
sketch, not a materialized id list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Filters at or under this many bits (8 MiB of words) broadcast to every
# executor; larger ones stay distributed and the probe equi-joins on
# word_idx.
BROADCAST_BITS_MAX = 64 * 1024 * 1024


def _positions(key: F.Column, num_bits: int, num_hashes: int) -> F.Column:
    """Array of the key's num_hashes bit positions in [0, num_bits).

    Position i is xxhash64(key, i) mod num_bits — k independent seeded
    hashes (not the h1+i*h2 double-hashing shortcut: xxhash64 reseeding
    is just as cheap JVM-side and keeps the positions pairwise
    independent)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits))
            for i in range(num_hashes)
        ]
    )


def _pos_rows(df: DataFrame, key_col: str, num_bits: int, num_hashes: int) -> DataFrame:
    """One row per (key, hash_i): word_idx + single-bit mask."""
    # explode_outer: a plain explode's inferred size>0/isnotnull filter
    # inlines all num_hashes xxhash64 computations twice more per row;
    # positions are pmod results, never NULL, and the array is
    # fixed-size >= 1, so no null filter needed
    pos = F.explode_outer(
        _positions(F.col(key_col), num_bits, num_hashes)
    ).alias("_pos")
    return (
        df.select(key_col, pos)
        .withColumn("word_idx", (F.col("_pos") / 64).cast("long"))
        .withColumn(
            "mask", F.expr("shiftleft(1L, cast(_pos % 64 as int))")
        )
        .drop("_pos")
    )


def build_bloom(
    seen: DataFrame, key_col: str, num_bits: int, num_hashes: int = 5
) -> DataFrame:
    """Bloom filter over seen[key_col] as a (word_idx long, word long)
    DataFrame. One shuffle, map-side partial bit_or; at most
    ceil(num_bits/64) output rows (absent words are implicitly 0)."""
    if num_bits <= 0 or num_hashes <= 0:
        raise ValueError("num_bits and num_hashes must be positive")
    return (
        _pos_rows(seen, key_col, num_bits, num_hashes)
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_screen(
    incoming: DataFrame,
    seen: DataFrame,
    key_col: str,
    num_bits: int,
    num_hashes: int = 5,
    broadcast_positives: bool | str = "auto",
    positives_probe_rows: int = 100_000,
) -> DataFrame:
    """incoming rows whose key_col is NOT present in seen[key_col] —
    exactly `incoming ANTI JOIN seen ON key` — with the Bloom filter
    pruning the confirm join down to the bloom-positive sliver.

    Plan shape: distinct incoming keys explode to k position rows; a
    LEFT join against the filter words (broadcast under
    BROADCAST_BITS_MAX, else equi-join on word_idx) marks each bit,
    and one groupBy(key) counts unset bits. That per-key table is
    MATERIALIZED (lazy localCheckpoint) — both the definitely-new
    branch and the confirm branch read it, and without the pin Spark
    re-executes the whole probe pipeline under each union arm (2x the
    5-way explode join at 100 TB). Keys with any unset bit are new with certainty (a Bloom
    filter has no false negatives) and skip the confirm entirely; only
    bloom-positives (true members + the fp-rate share) are checked
    against the real seen table.

    The confirm join itself never shuffles the seen table when the
    positive set is broadcastable (the common case: positives ≈
    members, a sliver of incoming): seen is SCANNED against a
    broadcast semi-join of the positives, and the confirmed keys —
    at most the positive set — broadcast back into an anti-join.
    broadcast_positives="auto" probes the positive count with an
    early-exit limit; True forces it; False falls back to the plain
    shuffled anti-join (right when members dominate incoming)."""
    bloom = build_bloom(seen, key_col, num_bits, num_hashes)
    if num_bits <= BROADCAST_BITS_MAX:
        bloom = F.broadcast(bloom)

    keys = incoming.select(key_col).distinct()
    probes = _pos_rows(keys, key_col, num_bits, num_hashes)
    hits = (
        probes.join(bloom, "word_idx", "left")
        .withColumn(
            "_unset",
            F.when(
                F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("mask")) == 0,
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .groupBy(key_col)
        .agg(F.sum("_unset").alias("_misses"))
        # lazy localCheckpoint, not persist(): both keep the probe
        # from re-executing under each union arm, but a persisted DF
        # stays pinned in the cache manager for the session lifetime
        # (repeat bench/screen invocations would leak one probe table
        # each), while checkpoint blocks are reclaimed by the
        # ContextCleaner once the returned plan is unreferenced.
        .localCheckpoint(eager=False)
    )
    definitely_new = hits.filter(F.col("_misses") > 0).select(key_col)
    maybe_seen = hits.filter(F.col("_misses") == 0).select(key_col)

    if broadcast_positives == "auto":
        broadcast_positives = (
            maybe_seen.limit(positives_probe_rows + 1).count()
            <= positives_probe_rows
        )
    if broadcast_positives:
        # scan-side semi: seen is read once, never shuffled
        confirmed = (
            seen.select(key_col)
            .join(F.broadcast(maybe_seen), key_col, "left_semi")
            .distinct()
        )
        confirmed_new = maybe_seen.join(
            F.broadcast(confirmed), key_col, "left_anti"
        )
    else:
        confirmed_new = maybe_seen.join(seen.select(key_col), key_col, "left_anti")
    new_keys = definitely_new.unionByName(confirmed_new)
    # null-safe semi join: a NULL key never equi-matches, so a plain
    # semi would DROP null-key incoming rows — the opposite of the
    # anti-join contract (NULL keys never match seen, hence are new)
    return incoming.join(
        new_keys.withColumnRenamed(key_col, "_nk"),
        F.col(key_col).eqNullSafe(F.col("_nk")),
        "left_semi",
    )
