"""Mergeable summary sketches for web-scale corpus planning:
HyperLogLog distinct-count and Count-Min frequency estimation.

At 10^12 rows the questions "how many distinct users / URLs / tokens"
and "which tokens are heavy hitters" cannot afford an exact global
distinct or a full frequency table per planning pass; the standard
answer is a fixed-size mergeable sketch aggregated map-side.  Both
sketches here are built from deterministic FNV-1a / splitmix64
hashing (`_hash_str_array`, `_splitmix` and their SQL twins below), so
a DuckDB oracle reproduces every register and every counter bit-for-bit — the
estimates are hash-verifiable, not just plausible.

Scale notes:
  * HLL: one Arrow kernel computes (bucket, rho) per row (map-only),
    then groupBy(group, bucket).max(rho) — 2^p rows per group — and a
    final tiny groupBy(group).  Both aggregations combine map-side;
    the shuffle volume is O(groups * 2^p), independent of row count.
    The register table itself is the mergeable state: max() over
    register tables from disjoint corpus shards is the union sketch.
  * Count-Min: token frequencies are first reduced exactly per token
    (the word-count shuffle any corpus profile already pays), then the
    depth x width counter grid is folded from that distinct-token
    table — the sketch build adds NO extra pass over raw tokens.  The
    counter grid (depth*width rows) is broadcast back against the
    top-k probe set.

Estimate determinism: the HLL register sum uses exact integer
arithmetic (sum of 2^(RHO_MAX - rho) as DECIMAL(38,0) / UHUGEINT;
every term is an integer, so the sum is associative and
partition-order invariant — a double 2^-rho sum would not be), and
the only floating-point steps are one division and one log, rounded
to 4 dp on both engines.  Count-Min is integer end-to-end.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
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


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------


def _bit_length_u64(w: np.ndarray) -> np.ndarray:
    """Exact integer bit length of each uint64 (vectorized shift
    cascade).  np.log2/frexp round 54+-bit values across power-of-two
    boundaries, which would disagree with the oracle's integer
    length(bin(w)) — so no floats here."""
    bl = np.zeros(w.shape, np.uint64)
    v = w.copy()
    for s in (32, 16, 8, 4, 2, 1):
        m = v >= (np.uint64(1) << np.uint64(s))
        bl += np.uint64(s) * m
        v = v >> (np.uint64(s) * m)
    return bl + (v > 0)  # v is now 0 or 1


def hll_registers(
    df: DataFrame, key_col: str, group_cols: list[str], p: int = 10
) -> DataFrame:
    """HyperLogLog register table: one row per (group, bucket) with the
    max rank-of-first-one-bit.  hash = splitmix64(key as uint64);
    bucket = top p bits; rho = (64-p) - bitlength(low bits) + 1 (i.e.
    leading zeros of the low 64-p bits, plus one), rho = 64-p+1 when
    the low bits are all zero.

    The register table is the sketch's mergeable state: unioning the
    register tables of two corpus shards and re-taking max(rho) yields
    exactly the sketch of the union — this is what makes HLL usable as
    distributed aggregation state at 10^12 rows."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    low_bits = 64 - p
    # Validate the key type up front: a blind cast("long") on a
    # non-numeric key either throws deep in ANSI execution or (post
    # null-filter) silently nulls into wrong registers.  Integral keys
    # splitmix directly; strings pre-fold through FNV-1a (the same
    # fold fnv_sql replicates in DuckDB, so string-keyed sketches stay
    # oracle-verifiable); anything else is a clear error here.
    kind = dict(df.dtypes).get(key_col)
    if kind is None:
        raise ValueError(f"no column {key_col!r} in {df.columns}")
    if kind not in ("tinyint", "smallint", "int", "bigint", "string"):
        raise ValueError(
            f"hll key column {key_col!r} must be integral or string, "
            f"got {kind}"
        )
    is_str = kind == "string"

    def kernel(batches):
        for pdf in batches:
            if is_str:
                with np.errstate(over="ignore"):
                    keys = _hash_str_array(pdf[key_col].tolist())
            else:
                keys = pdf[key_col].to_numpy(np.int64).view(np.uint64)
            h = _splitmix(keys)
            bucket = (h >> np.uint64(low_bits)).astype(np.int32)
            w = h & ((np.uint64(1) << np.uint64(low_bits)) - np.uint64(1))
            rho = (low_bits - _bit_length_u64(w) + 1).astype(np.int32)
            out = pdf[group_cols].copy()
            out["bucket"] = bucket
            out["rho"] = rho
            yield out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*group_cols).schema.fields
    )
    key_expr = (
        F.col(key_col)
        if is_str
        else F.col(key_col).cast("long").alias(key_col)
    )
    pre = df.filter(F.col(key_col).isNotNull()).select(*group_cols, key_expr)
    return (
        _spread(pre)
        .mapInPandas(kernel, f"{schema}, bucket int, rho int")
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_distinct(
    df: DataFrame, key_col: str, group_cols: list[str], p: int = 10
) -> DataFrame:
    """Distinct-count estimate per group from a HyperLogLog sketch
    (Flajolet et al. 2007), with the standard linear-counting
    small-range correction.  Returns (group..., n_registers, estimate).

    The harmonic-mean denominator sum(2^-rho_j) is computed exactly:
    each term is scaled by 2^RHO_MAX into an integer (absent registers
    contribute 2^RHO_MAX each) and summed as DECIMAL(38,0), so the
    result is independent of partition count and combine order —
    required for the cross-engine value-hash gate, and a freebie for
    reproducible pipelines."""
    regs = hll_registers(df, key_col, group_cols, p)
    return registers_to_estimates(regs, group_cols, p)


def registers_to_estimates(
    regs: DataFrame, group_cols: list[str], p: int = 10
) -> DataFrame:
    """Register table -> (group..., n_registers, estimate).  A pure
    function of the registers, shared by the batch sketch and the
    streaming store reader (streaming/sketch_stream.py) — which is why
    the stream converges to the batch estimate exactly."""
    m = 1 << p
    rho_max = 64 - p + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    # integer term 2^(rho_max - rho) fits a bigint (rho >= 1); the sum
    # (up to m * 2^rho_max ~ 2^65 at p=10) needs decimal headroom
    # shiftleft() needs a literal bit count, so spell it in SQL
    term = F.expr(f"shiftleft(1L, {rho_max} - rho)").cast("decimal(38,0)")
    per_group = regs.groupBy(*group_cols).agg(
        F.count("*").cast("int").alias("n_registers"),
        F.sum(term).alias("present_sum"),
    )
    # absent registers have rho = 0 -> term 2^rho_max each
    absent = (F.lit(m) - F.col("n_registers")).cast("decimal(38,0)") * F.lit(
        1 << rho_max
    ).cast("decimal(38,0)")
    s = (F.col("present_sum") + absent).cast("double")
    raw = F.lit(alpha * m * m * float(1 << rho_max)) / s
    zeros = (F.lit(m) - F.col("n_registers")).cast("double")
    corrected = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return per_group.select(
        *group_cols,
        "n_registers",
        F.round(corrected, 4).alias("estimate"),
    )


def hll_sql(
    table: str, key_col: str, group_cols: list[str], p: int = 10,
    key_kind: str = "integral",
) -> str:
    """DuckDB oracle reproducing hll_distinct bit-for-bit: same
    splitmix64 on the key (string keys pre-folded through the same
    FNV-1a the engine kernel uses), same integer register sum
    (UHUGEINT), same correction, same 4 dp rounding.  Exposed here so
    the driver oracle and any shard-merge test share one definition."""
    m = 1 << p
    low = 64 - p
    rho_max = low + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    gcols = ", ".join(group_cols)
    if key_kind == "string":
        sm = _splitmix_sql_fragment(fnv_sql(key_col))
    elif key_kind == "integral":
        sm = _splitmix_sql_fragment(f"CAST({key_col} AS UBIGINT)::UHUGEINT")
    else:
        raise ValueError(key_kind)
    return f"""
WITH hashed AS (
  -- NULL keys are dropped, mirroring hll_registers' isNotNull filter
  SELECT {gcols}, ({sm}) AS h FROM {table} WHERE {key_col} IS NOT NULL
), br AS (
  SELECT {gcols}, CAST(h >> {low}::UHUGEINT AS INT) AS bucket,
         CAST(CASE WHEN (h & {(1 << low) - 1}::UHUGEINT) = 0 THEN {rho_max}
              ELSE {low} - LENGTH(BIN(h & {(1 << low) - 1}::UHUGEINT)) + 1
         END AS INT) AS rho
  FROM hashed
), regs AS (
  SELECT {gcols}, bucket, MAX(rho) AS rho FROM br GROUP BY {gcols}, bucket
), agg AS (
  SELECT {gcols}, CAST(COUNT(*) AS INT) AS n_registers,
         SUM((1::UHUGEINT << ({rho_max} - rho)::UHUGEINT)) AS present_sum
  FROM regs GROUP BY {gcols}
), est AS (
  SELECT {gcols}, n_registers,
         CAST(present_sum
              + ({m} - n_registers)::UHUGEINT * (1::UHUGEINT << {rho_max}::UHUGEINT)
              AS DOUBLE) AS s,
         ({m} - n_registers)::DOUBLE AS zeros
  FROM agg
)
SELECT {gcols}, n_registers,
       ROUND(CASE WHEN {alpha!r}::DOUBLE * {float(m * m)} * {float(1 << rho_max)} / s
                       <= {2.5 * m}
                  AND zeros > 0
             THEN {float(m)} * LN({float(m)} / zeros)
             ELSE {alpha!r}::DOUBLE * {float(m * m)} * {float(1 << rho_max)} / s
        END, 4) AS estimate
FROM est
"""


# ---------------------------------------------------------------------------
# Hashing primitives: numpy and DuckDB forms of the same uint64 math
# ---------------------------------------------------------------------------


def _splitmix(z: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 arrays (intentional wraparound);
    `_splitmix_sql_fragment` is its DuckDB twin."""
    with np.errstate(over="ignore"):
        z = (z + np.uint64(0x9E3779B97F4A7C15)) & _M64
        z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _M64
        z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _M64
        return z ^ (z >> np.uint64(31))


def _hash_str_array(strings: list[str]) -> np.ndarray:
    """Deterministic 64-bit FNV-1a over utf-8 bytes (intentional uint64
    wraparound). Vectorized: inputs are bucketed by byte length and the
    byte columns folded with numpy ops — bit-identical to the scalar
    per-byte loop (same fold order), ~50x faster on short-string batches.
    `fnv_sql` is its DuckDB twin."""
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


U64MASK_SQL = "18446744073709551615::UHUGEINT"


def _splitmix_sql_fragment(z0: str) -> str:
    """splitmix64 over a SQL fragment (UHUGEINT wraparound via mask);
    constants identical to `_splitmix` above, so the magic constants
    live in this one module in both forms."""
    mask = U64MASK_SQL
    z1 = f"(({z0}) + 11400714819323198485::UHUGEINT) & {mask}"
    z2 = f"(xor(({z1}), ({z1}) >> 30) * 13787848793156543929::UHUGEINT) & {mask}"
    z3 = f"(xor(({z2}), ({z2}) >> 27) * 10723151780598845931::UHUGEINT) & {mask}"
    return f"xor(({z3}), ({z3}) >> 31)"


def fnv_sql(var: str) -> str:
    """FNV-1a 64 fold over the utf-8 bytes of SQL variable `var`
    (DuckDB UHUGEINT; ASCII corpora, so ord(char) == utf-8 byte).
    Canonical copy — matches `_hash_str_array` above."""
    return (
        f"list_reduce(list_prepend(14695981039346656037::UHUGEINT, "
        f"list_transform(split({var}, ''), c -> ord(c)::UHUGEINT)), "
        f"(hh, b) -> (xor(hh, b) * 1099511628211::UHUGEINT) & {U64MASK_SQL})"
    )


# ---------------------------------------------------------------------------
# Count-Min heavy hitters
# ---------------------------------------------------------------------------

_TOKEN_RE = "[a-z0-9]+"


def _cms_seeds(depth: int) -> np.ndarray:
    with np.errstate(over="ignore"):
        return _splitmix(
            np.arange(1, depth + 1, dtype=np.uint64)
            * np.uint64(0x9E3779B97F4A7C15)
        )


def cms_heavy_hitters(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 20,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Top-k tokens with their exact count and Count-Min estimate.

    Plan: (1) tokenize JVM-side (regexp_extract_all + explode) and
    reduce exactly per token — the one data-sized shuffle, identical
    to any word-count; (2) hash each DISTINCT token depth times in one
    Arrow kernel (the kernel sees one row per distinct token, not per
    occurrence); (3) fold the counter grid with groupBy(row, bucket)
    over that small table; (4) probe the grid for the exact top-k.
    cms_count >= exact_count always (collisions only ever add), which
    the tests assert as the sketch's defining property.

    Returns (token, exact_count, cms_count, overcount) ordered by
    exact_count desc, token."""
    if width & (width - 1):
        raise ValueError("width must be a power of two")
    seeds = _cms_seeds(depth)

    tokens = docs.select(
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '{_TOKEN_RE}', 0)")
        ).alias("token")
    )
    counts = tokens.groupBy("token").agg(F.count("*").alias("exact_count"))

    def bucket_kernel(batches):
        for pdf in batches:
            base = _hash_str_array(pdf["token"].tolist())
            out = {"token": pdf["token"], "exact_count": pdf["exact_count"]}
            with np.errstate(over="ignore"):
                for i in range(depth):
                    h = _splitmix(base ^ seeds[i])
                    out[f"b{i}"] = (h & np.uint64(width - 1)).astype(np.int32)
            yield pd.DataFrame(out)

    bcols = ", ".join(f"b{i} int" for i in range(depth))
    bucketed = counts.mapInPandas(
        bucket_kernel, f"token string, exact_count long, {bcols}"
    )
    # localCheckpoint: the grid fold and the top-k probe both consume
    # `bucketed`; without it the tokenize+count+kernel lineage runs
    # twice (and the kernel must not re-run per consumer anyway).
    bucketed = bucketed.localCheckpoint(eager=False)

    # counter grid: depth*width rows, folded from distinct tokens
    melted = bucketed.select(
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_i"), F.col(f"b{i}").alias("bucket")
                    )
                    for i in range(depth)
                ]
            )
        ).alias("rb"),
    ).select("rb.row_i", "rb.bucket", "exact_count")
    grid = melted.groupBy("row_i", "bucket").agg(
        F.sum("exact_count").alias("cell_total")
    )

    topk = (
        bucketed.orderBy(F.desc("exact_count"), F.asc("token"))
        .limit(k)
        .select(
            "token",
            "exact_count",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("row_i"),
                            F.col(f"b{i}").alias("bucket"),
                        )
                        for i in range(depth)
                    ]
                )
            ).alias("rb"),
        )
        .select("token", "exact_count", "rb.row_i", "rb.bucket")
    )
    probed = (
        topk.join(F.broadcast(grid), ["row_i", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("cell_total").alias("cms_count"))
    )
    return probed.select(
        "token",
        "exact_count",
        "cms_count",
        (F.col("cms_count") - F.col("exact_count")).alias("overcount"),
    ).orderBy(F.desc("exact_count"), F.asc("token"))


def cms_sql(table: str, text_col: str = "text", k: int = 20,
            depth: int = 4, width: int = 1024) -> str:
    """DuckDB oracle for cms_heavy_hitters: same tokenizer, same FNV-1a
    + splitmix bucket hashes (UHUGEINT), same grid fold and min-probe."""
    seeds = _cms_seeds(depth)
    fnv = fnv_sql("token")
    bucket_cols = ",\n         ".join(
        f"CAST(({_splitmix_sql_fragment(f'xor(h, {int(seeds[i])}::UHUGEINT)')}) "
        f"& {width - 1}::UHUGEINT AS INT) AS b{i}"
        for i in range(depth)
    )
    melt = " UNION ALL ".join(
        f"SELECT {i} AS row_i, b{i} AS bucket, exact_count FROM bucketed"
        for i in range(depth)
    )
    probes = " UNION ALL ".join(
        f"SELECT token, exact_count, {i} AS row_i, b{i} AS bucket FROM topk"
        for i in range(depth)
    )
    return f"""
WITH tok AS (
  SELECT UNNEST(REGEXP_EXTRACT_ALL(LOWER({text_col}), '{_TOKEN_RE}')) AS token
  FROM {table}
), counts AS (
  SELECT token, COUNT(*) AS exact_count FROM tok GROUP BY token
), hashed AS (
  SELECT token, exact_count, {fnv} AS h FROM counts
), bucketed AS (
  SELECT token, exact_count,
         {bucket_cols}
  FROM hashed
), grid AS (
  -- DuckDB SUM(BIGINT) widens to HUGEINT (pandas float); pin BIGINT
  SELECT row_i, bucket, CAST(SUM(exact_count) AS BIGINT) AS cell_total
  FROM ({melt}) GROUP BY row_i, bucket
), topk AS (
  SELECT token, exact_count, b0{"".join(f", b{i}" for i in range(1, depth))}
  FROM bucketed ORDER BY exact_count DESC, token LIMIT {k}
), probed AS (
  SELECT p.token, p.exact_count, MIN(g.cell_total) AS cms_count
  FROM ({probes}) p JOIN grid g USING (row_i, bucket)
  GROUP BY p.token, p.exact_count
)
SELECT token, exact_count, cms_count,
       cms_count - exact_count AS overcount
FROM probed ORDER BY exact_count DESC, token
"""
