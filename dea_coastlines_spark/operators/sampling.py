"""Deterministic sampling / corpus mixing (training-data pipeline ops).

Production pipelines need REPRODUCIBLE sampling: the keep/drop decision
for a row must be a pure function of (key, seed) — invariant to
partitioning, row order, cluster size, and re-runs — so a resumed or
re-sharded job samples identically and train/eval splits never leak.
`df.sample()` gives none of that. These operators derive a uniform
u in [0,1) from a quadratic-congruential hash of the key:

    m  = 2^31 - 1 (prime)
    h0 = (key + seed) mod m
    h1 = h0 * 48271    mod m        (MINSTD step)
    h2 = (h1^2 + h1)   mod m        (nonlinear: breaks affine stripes)
    h3 = h2 * 69621    mod m
    u  = h3 / (m - 1)

Every intermediate is < 2^62, so the whole chain is plain JVM integer
arithmetic (ANSI-safe, no overflow, whole-stage codegen) AND bit-exactly
replicable in ANSI SQL for the DuckDB oracle — no Python anywhere.
This is a sampling-grade permutation hash, not a cryptographic one.

Scale: each operator is a row-local projection/filter — zero shuffle,
predicate sits directly on the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_M = 2**31 - 1


def u01(key: Column | str, seed: int = 0) -> Column:
    """Deterministic uniform [0,1) from an integer key column."""
    k = F.col(key) if isinstance(key, str) else key
    # reduce BEFORE adding: key + seed on the raw long overflows under
    # ANSI mode for keys near Long.MAX (e.g. xxhash64-derived); after
    # pmod both addends are < m so every intermediate is bounded.
    # Identical result mod m, so existing samples are unchanged.
    h0 = F.pmod(F.pmod(k.cast("long"), F.lit(_M)) + F.lit(int(seed) % _M), F.lit(_M))
    h1 = F.pmod(h0 * F.lit(48271), F.lit(_M))
    h2 = F.pmod(h1 * h1 + h1, F.lit(_M))
    h3 = F.pmod(h2 * F.lit(69621), F.lit(_M))
    return h3.cast("double") / F.lit(float(_M - 1))


def u01_sql(key_expr: str, seed: int = 0) -> str:
    """The identical chain as ANSI SQL (DuckDB oracle half)."""
    m = _M
    # mirrors u01's reduce-first chain: pmod(key) then add the reduced
    # seed (both < m, sum < 2m — no overflow on either engine)
    h0 = f"((((({key_expr}) % {m}) + {m}) % {m} + {int(seed) % _M}) % {m})"
    h1 = f"(({h0}) * 48271) % {m}"
    h2 = f"((({h1}) * ({h1})) + ({h1})) % {m}"
    h3 = f"(({h2}) * 69621) % {m}"
    return f"(({h3})::DOUBLE / {float(m - 1)})"


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, seed: int = 0
) -> DataFrame:
    """Keep ~fraction of rows, decided per key (reproducible,
    partition-invariant)."""
    return df.filter(u01(key_col, seed) < F.lit(float(fraction)))


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    seed: int = 0,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum sampling rates (df.sampleBy analog, deterministic).
    Strata absent from `fractions` get default_fraction."""
    rate = F.lit(float(default_fraction))
    for k, v in sorted(fractions.items()):
        rate = F.when(F.col(strata_col) == F.lit(k), F.lit(float(v))).otherwise(rate)
    return df.filter(u01(key_col, seed) < rate)


def split_assign(
    df: DataFrame,
    key_col: str,
    eval_frac: float,
    seed: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Leak-proof train/eval assignment: a key lands in the same split
    in every run, every shard, every job."""
    return df.withColumn(
        out_col,
        F.when(u01(key_col, seed) < F.lit(float(eval_frac)), F.lit("eval"))
        .otherwise(F.lit("train")),
    )


def mix_corpora(
    sources: list[tuple[DataFrame, float]],
    key_col: str,
    seed: int = 0,
    source_col: str = "source",
) -> DataFrame:
    """Weighted corpus mixture: per-source deterministic downsampling to
    `rate`, tagged with the source index, unioned by name. Rates are
    absolute sampling fractions (a 0.3/0.1 pair yields ~3:1 if the
    sources are equal-sized); compute them from target token budgets at
    the call site."""
    if not sources:
        raise ValueError("mix_corpora needs at least one source")
    out = None
    for i, (df, rate) in enumerate(sources):
        part = hash_sample(df, key_col, rate, seed=seed + i).withColumn(
            source_col, F.lit(i)
        )
        out = part if out is None else out.unionByName(part)
    return out


def temperature_rates(
    df: DataFrame,
    source_col: str,
    tau: float,
    total_rows: int | None = None,
) -> DataFrame:
    """Per-source sampling rates for temperature-based corpus mixing
    (the mT5/XLM-R scheme): target share_i ∝ n_i^(1/tau), so tau=1
    preserves natural proportions and tau→∞ approaches uniform across
    sources — low-resource sources get boosted without hand-tuning.

    Returns (source, n_rows, share, rate) where rate_i = total *
    share_i / n_i; rates above 1 mean the source is UPSAMPLED (repeat
    epochs — see temperature_mix). total defaults to the corpus size
    (pure re-mixture). One tiny groupBy; the normalization runs as an
    unpartitioned window over the per-source frame, which is one row
    per source — never large, so the single-task window is fine."""
    if tau <= 0:
        raise ValueError("tau must be positive")
    counts = df.groupBy(source_col).agg(F.count("*").alias("n_rows"))
    w = Window.partitionBy()
    pw = F.pow(F.col("n_rows").cast("double"), F.lit(1.0 / tau))
    out = counts.withColumn("share", pw / F.sum(pw).over(w))
    total = (
        F.lit(float(total_rows))
        if total_rows is not None
        else F.sum("n_rows").over(w).cast("double")
    )
    return out.withColumn(
        "rate", total * F.col("share") / F.col("n_rows").cast("double")
    )


def temperature_mix(
    df: DataFrame,
    key_col: str,
    source_col: str,
    tau: float,
    total_rows: int | None = None,
    seed: int = 0,
    epoch_col: str = "epoch",
) -> DataFrame:
    """Resample the corpus to the temperature-mixed distribution,
    deterministically: each row emits floor(rate) full copies plus one
    more when u01(key) < frac(rate), tagged 0..k-1 in epoch_col —
    downsampling (rate<1) degrades to hash_sample, upsampling (rate>1)
    emits the repeat epochs a pretraining reader consumes. Expected
    output size = total_rows. The per-source rate table broadcasts
    (one row per source); the copy fan-out is a row-local
    posexplode(array_repeat(...)) — sequence() is NOT used because
    Spark's sequence(0, -1) counts downward instead of being empty."""
    rates = temperature_rates(df, source_col, tau, total_rows).select(
        source_col, "rate"
    )
    n_copies = (
        F.floor(F.col("rate"))
        + F.when(
            u01(key_col, seed) < F.col("rate") - F.floor(F.col("rate")), 1
        ).otherwise(0)
    ).cast("int")
    # posexplode_OUTER: a plain explode's inferred size>0/isnotnull
    # filter builds the repeat array twice more per row. Outer emits
    # one NULL row for _nc = 0; the isNotNull filter restores
    # plain-explode semantics (rows whose copy count floors to zero are
    # dropped).
    # null-safe rate attachment: groupBy put NULL-source rows in their
    # own group with a real share, so the join must match them back
    # (a plain inner join on the key would silently drop every
    # NULL-source row and under-deliver total_rows)
    joined = df.join(
        F.broadcast(rates.withColumnRenamed(source_col, "_tm_src")),
        F.col(source_col).eqNullSafe(F.col("_tm_src")),
    ).drop("_tm_src")
    return (
        joined
        .withColumn("_nc", n_copies)
        .select(
            "*",
            F.posexplode_outer(F.array_repeat(F.lit(1), F.col("_nc"))).alias(
                epoch_col, "_one"
            ),
        )
        .filter(F.col("_one").isNotNull())
        .drop("_nc", "_one", "rate")
    )


def shuffle_shards(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    seed: int = 0,
) -> DataFrame:
    """Deterministic global shuffle + sharding for training-data
    export: every row gets (shard, pos) from the same u01 hash chain —
    the order is a pure function of (key, seed), so re-runs, resumed
    jobs, and different partitionings write byte-identical shards.

    shard = floor(u * n) gives near-equal shard sizes without a global
    sort; pos ranks within the shard only (ONE shuffle on shard, each
    shard sorts locally). Ties on u (distinct keys can collide in the
    2^31 hash space) break on the key, keeping the order total and
    deterministic."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    u = u01(key_col, seed)
    with_shard = df.withColumn("_u", u).withColumn(
        "shard", F.least(F.floor(F.col("_u") * n_shards), F.lit(n_shards - 1)).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("_u", key_col)
    return (
        with_shard.withColumn("pos", F.row_number().over(w) - 1).drop("_u")
    )


def weighted_systematic_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    n: int,
    n_buckets: int = 16,
    seed: int = 0,
) -> DataFrame:
    """Deterministic weighted sampling by systematic thresholding: lay
    the corpus out in a deterministic shuffled order (the u01 chain),
    concatenate the integer weights into one global interval [0, W),
    and select every item whose interval crosses one of n equally
    spaced boundaries.  Inclusion probability is proportional to
    weight, the pick multiset is EXACTLY n (sum of n_picks == n), and
    an item heavier than W/n is always selected — all as exact integer
    arithmetic: boundary test (C_i * n) div W > ((C_i - w_i) * n) div W
    on longs, so no float (or scale-rounded decimal quotient) ever
    enters and the DuckDB oracle matches bit-for-bit.  Requires
    W * n < 2^63 (ANSI mode raises rather than silently wraps); past
    that — a quadrillion token-weights sampled a million times — split
    into strata and sample per stratum, which is the recommended
    layout anyway at that scale.

    Scale shape: the global cumulative sum is two-phase — a per-bucket
    window over the deterministic order (parallel across n_buckets)
    plus a bucket-offset join from an n_buckets-row aggregate — the
    same plan family as shuffle_shards' per-shard window, never a
    single-partition global window.  W itself is a 1-row aggregate
    broadcast-crossed in (a scalar subquery).

    Returns the selected rows: (key, weight, cum_w, first_pick,
    n_picks), ordered by cum_w."""
    if n < 1:
        raise ValueError("n must be >= 1")
    u = u01(key_col, seed)
    # FLOOR before the long conversion: Spark's cast truncates but
    # DuckDB's rounds half-away, so a fractional weight column would
    # diverge; floor-then-filter is identical on both engines
    keyed = (
        df.select(
            F.col(key_col), F.floor(F.col(weight_col)).cast("long").alias("w")
        )
        .filter(F.col("w") > 0)
        .withColumn("_u", u)
        .withColumn(
            "bucket",
            F.least(F.floor(F.col("_u") * n_buckets), F.lit(n_buckets - 1)).cast(
                "int"
            ),
        )
    )
    wub = Window.partitionBy("bucket").orderBy("_u", key_col)
    inbucket = keyed.withColumn(
        "cum_in_bucket", F.sum("w").over(wub.rowsBetween(Window.unboundedPreceding, 0))
    )
    totals = keyed.groupBy("bucket").agg(F.sum("w").alias("bucket_w"))
    offs = totals.withColumn(
        "bucket_off",
        F.coalesce(
            F.sum("bucket_w").over(
                Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("long"),
        ),
    ).select("bucket", "bucket_off")
    total = keyed.agg(F.sum("w").cast("long").alias("_w_total"))
    cum = (
        inbucket.join(F.broadcast(offs), "bucket")
        .withColumn("cum_w", F.col("bucket_off") + F.col("cum_in_bucket"))
        .crossJoin(F.broadcast(total))
    )
    # exact long division: a decimal quotient is ROUNDED to its result
    # scale before floor(), which flips the boundary when the true
    # quotient sits within 5e-7 of an integer — `div` cannot
    picked = (
        cum.withColumn("pick_hi", F.expr(f"(cum_w * {n}L) div _w_total"))
        .withColumn("pick_lo", F.expr(f"((cum_w - w) * {n}L) div _w_total"))
        .filter(F.col("pick_hi") > F.col("pick_lo"))
    )
    return picked.select(
        F.col(key_col),
        F.col("w").alias(weight_col),
        "cum_w",
        (F.col("pick_lo") + 1).alias("first_pick"),
        (F.col("pick_hi") - F.col("pick_lo")).alias("n_picks"),
    ).orderBy("cum_w")


def weighted_systematic_sql(
    table: str, key_col: str, weight_col: str, n: int,
    n_buckets: int = 16, seed: int = 0,
) -> str:
    """DuckDB oracle: identical u01 chain, identical two-phase layout
    (the bucket decomposition is order-preserving, so a single global
    window would also match — the oracle keeps the bucket form to pin
    the exact construction), HUGEINT boundary arithmetic."""
    u = u01_sql(key_col, seed)
    return f"""
WITH keyed AS (
  SELECT {key_col}, CAST(FLOOR({weight_col}) AS BIGINT) AS w, ({u}) AS _u,
         LEAST(CAST(FLOOR(({u}) * {n_buckets}) AS INT), {n_buckets - 1}) AS bucket
  FROM {table} WHERE FLOOR({weight_col}) > 0
), cums AS (
  SELECT *, SUM(w) OVER (PARTITION BY bucket ORDER BY _u, {key_col}
                         ROWS UNBOUNDED PRECEDING) AS cum_in_bucket
  FROM keyed
), offs AS (
  SELECT bucket, COALESCE(SUM(bucket_w) OVER (ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS bucket_off
  FROM (SELECT bucket, SUM(w) AS bucket_w FROM keyed GROUP BY bucket)
), tot AS (SELECT CAST(SUM(w) AS BIGINT) AS W FROM keyed),
cum AS (
  SELECT c.{key_col}, c.w,
         CAST(o.bucket_off + c.cum_in_bucket AS BIGINT) AS cum_w
  FROM cums c JOIN offs o USING (bucket), tot
), picked AS (
  SELECT {key_col}, w, cum_w,
         (cum_w * {n}) // (SELECT W FROM tot) AS pick_hi,
         ((cum_w - w) * {n}) // (SELECT W FROM tot) AS pick_lo
  FROM cum
)
SELECT {key_col}, w AS {weight_col}, cum_w,
       CAST(pick_lo + 1 AS BIGINT) AS first_pick,
       CAST(pick_hi - pick_lo AS BIGINT) AS n_picks
FROM picked WHERE pick_hi > pick_lo
ORDER BY cum_w
"""
