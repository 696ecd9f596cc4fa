"""Deterministic sampling invariants: partition-invariance, split
stability, statistical plausibility, mixing proportions."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from dea_coastlines_spark.operators import sampling


def test_hash_sample_partition_invariant(spark):
    df = spark.range(20_000)
    a = sampling.hash_sample(df.repartition(3), "id", 0.3, seed=1)
    b = sampling.hash_sample(df.repartition(17), "id", 0.3, seed=1)
    ra = sorted(r.id for r in a.collect())
    rb = sorted(r.id for r in b.collect())
    assert ra == rb
    # rate within 2% absolute of target on 20k keys
    assert abs(len(ra) / 20_000 - 0.3) < 0.02


def test_u01_uniformity_and_nonlinearity(spark):
    df = spark.range(50_000).select(
        sampling.u01("id", seed=5).alias("u"), "id"
    )
    pdf = df.toPandas()
    u = pdf.u.to_numpy()
    assert (u >= 0).all() and (u < 1).all()
    # 10-bin chi-square far below catastrophic; sequential keys must not
    # produce affine stripes correlated with id
    counts, _ = np.histogram(u, bins=10, range=(0, 1))
    chi2 = float(((counts - 5000.0) ** 2 / 5000.0).sum())
    assert chi2 < 200.0
    corr = float(np.corrcoef(pdf.id.to_numpy(), u)[0, 1])
    assert abs(corr) < 0.02


def test_split_assign_disjoint_and_stable(spark):
    df = spark.range(5_000)
    s1 = {r.id: r.split for r in sampling.split_assign(df, "id", 0.25, seed=3).collect()}
    s2 = {r.id: r.split for r in sampling.split_assign(df.repartition(7), "id", 0.25, seed=3).collect()}
    assert s1 == s2
    frac = sum(1 for v in s1.values() if v == "eval") / len(s1)
    assert abs(frac - 0.25) < 0.03


def test_stratified_rates(spark):
    df = spark.range(30_000).withColumn(
        "lang", F.when(F.col("id") % 3 == 0, "en").otherwise("de")
    )
    out = sampling.stratified_sample(
        df, "id", "lang", {"en": 0.5, "de": 0.1}, seed=9
    ).groupBy("lang").count().collect()
    got = {r.lang: r["count"] for r in out}
    assert abs(got["en"] / 10_000 - 0.5) < 0.03
    assert abs(got["de"] / 20_000 - 0.1) < 0.02


def test_mix_corpora_tags_and_rates(spark):
    a = spark.range(10_000).withColumn("text", F.lit("a"))
    b = spark.range(10_000).withColumn("text", F.lit("b"))
    out = sampling.mix_corpora([(a, 0.4), (b, 0.1)], "id", seed=11)
    counts = {r.source: r["count"] for r in out.groupBy("source").count().collect()}
    assert abs(counts[0] / 10_000 - 0.4) < 0.03
    assert abs(counts[1] / 10_000 - 0.1) < 0.02


def test_sampling_plan_is_scan_side_filter(spark):
    # the keep/drop predicate must be a plain Filter over the scan —
    # no shuffle, no Python
    df = spark.range(1000)
    plan = sampling.hash_sample(df, "id", 0.5)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEvalPython" not in plan


def test_shuffle_shards_deterministic_and_balanced(spark):
    df = spark.range(8000).withColumnRenamed("id", "doc_id")
    a = sampling.shuffle_shards(df, "doc_id", 4, seed=2).toPandas()
    b = sampling.shuffle_shards(df.repartition(13), "doc_id", 4, seed=2).toPandas()
    ka = a.sort_values(["shard", "pos"]).doc_id.tolist()
    kb = b.sort_values(["shard", "pos"]).doc_id.tolist()
    assert ka == kb  # partition-invariant total order
    sizes = a.groupby("shard").size()
    assert len(sizes) == 4 and sizes.min() > 0.8 * 2000  # near-equal shards
    # pos is a dense 0..n-1 sequence within each shard
    for _, g in a.groupby("shard"):
        assert sorted(g.pos.tolist()) == list(range(len(g)))
    # a different seed produces a different order
    c = sampling.shuffle_shards(df, "doc_id", 4, seed=3).toPandas()
    assert c.sort_values(["shard", "pos"]).doc_id.tolist() != ka


def test_u01_extreme_keys_no_ansi_overflow(spark):
    """ADVICE r2: keys near Long.MAX (xxhash64-derived) must not throw
    under ANSI mode; Spark chain must still bit-match the SQL oracle."""
    import duckdb
    from dea_coastlines_spark.operators.sampling import u01, u01_sql

    keys = [2**63 - 1, 2**63 - 2, -(2**63), -1, 0, 7]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r.k: r.u for r in df.select("k", u01("k", seed=13).alias("u")).collect()
    }
    con = duckdb.connect()
    for k in keys:
        (exp,) = con.execute(
            f"select {u01_sql(f'({k})::HUGEINT', seed=13)}"
        ).fetchone()
        assert abs(got[k] - exp) < 1e-15, (k, got[k], exp)
        assert 0.0 <= got[k] < 1.0


def test_temperature_rates_tau1_is_natural_and_tau_half_boosts_small(spark):
    import pytest as _pytest

    from dea_coastlines_spark.operators.sampling import temperature_rates

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # tau=1: natural proportions -> every rate is exactly 1.0
    r1 = {r.source: r for r in temperature_rates(df, "source", 1.0).collect()}
    assert r1["big"].rate == 1.0 and r1["small"].rate == 1.0
    assert abs(r1["big"].share - 0.9) < 1e-12
    # tau=0.5: share ∝ n^2 -> majority upsampled, minority downsampled
    r2 = {r.source: r for r in temperature_rates(df, "source", 0.5).collect()}
    assert r2["big"].share == 810000 / 820000  # exact in doubles
    assert r2["big"].rate > 1.0 > r2["small"].rate
    # tau -> large approaches uniform shares
    r3 = {r.source: r for r in temperature_rates(df, "source", 100.0).collect()}
    assert abs(r3["small"].share - 0.5) < 0.01
    with _pytest.raises(ValueError):
        temperature_rates(df, "source", 0.0)


def test_temperature_mix_deterministic_and_sized(spark):
    from dea_coastlines_spark.operators.sampling import temperature_mix

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mix(df, "doc_id", "source", tau=0.5)
    got = sorted((r.doc_id, r.epoch) for r in out.collect())
    # partition-invariant: identical rows regardless of layout
    got2 = sorted(
        (r.doc_id, r.epoch)
        for r in temperature_mix(
            df.repartition(7), "doc_id", "source", tau=0.5
        ).collect()
    )
    assert got == got2
    # expected total = corpus size (within bernoulli noise)
    assert abs(len(got) - 1000) < 60
    # upsampled source emits epoch-1 repeats; every repeat has epoch 0 too
    epochs = {}
    for d, e in got:
        epochs.setdefault(d, []).append(e)
    assert any(es == [0, 1] for es in epochs.values())
    assert all(es == list(range(len(es))) for es in epochs.values())
    # explicit total_rows: downsample everything to ~300
    out300 = temperature_mix(df, "doc_id", "source", tau=0.5, total_rows=300)
    assert abs(out300.count() - 300) < 50


def test_temperature_mix_null_source_rows_participate(spark):
    """NULL is a source group like any other: groupBy assigns it a
    share, and the rate join must match it back (a plain inner join
    would drop every NULL-source row and under-deliver total_rows)."""
    from dea_coastlines_spark.operators.sampling import temperature_mix

    rows = [(i, None if i < 500 else "web") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mix(df, "doc_id", "source", tau=1.0).collect()
    # tau=1 preserves natural proportions: every row emits exactly one
    # copy (rate == 1 for both groups), so NULL rows must all survive
    assert len(out) == 1000
    assert sum(1 for r in out if r.source is None) == 500


# ---- weighted systematic sampling ----------------------------------------


def test_weighted_sample_exact_pick_count(spark):
    from dea_coastlines_spark.operators.sampling import weighted_systematic_sample

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = weighted_systematic_sample(d, "doc_id", "n_chars", n=37)
    rows = out.collect()
    assert sum(r["n_picks"] for r in rows) == 37
    assert all(r["n_picks"] >= 1 for r in rows)


def test_weighted_sample_heavy_item_always_in(spark):
    """An item heavier than W/n spans at least one boundary, so it can
    never be missed — the defining guarantee of systematic sampling."""
    from pyspark.sql import functions as F

    from dea_coastlines_spark.operators.sampling import weighted_systematic_sample

    rows = [(i, 10) for i in range(100)] + [(999, 5000)]  # W = 6000
    df = spark.createDataFrame(rows, "doc_id long, wt long")
    out = weighted_systematic_sample(df, "doc_id", "wt", n=6)  # step = 1000
    picked = {r["doc_id"]: r["n_picks"] for r in out.collect()}
    assert 999 in picked
    # the heavy item covers 5000/6000 of the interval -> 5 of 6 picks
    assert picked[999] == 5
    assert sum(picked.values()) == 6


def test_weighted_sample_partition_invariance(spark):
    from dea_coastlines_spark.operators.sampling import weighted_systematic_sample

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = weighted_systematic_sample(d.coalesce(1), "doc_id", "n_chars", n=50)
    b = weighted_systematic_sample(d.repartition(16), "doc_id", "n_chars", n=50)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_weighted_sample_zero_weight_excluded(spark):
    from dea_coastlines_spark.operators.sampling import weighted_systematic_sample

    df = spark.createDataFrame(
        [(1, 0), (2, 10), (3, 0), (4, 10)], "doc_id long, wt long"
    )
    out = weighted_systematic_sample(df, "doc_id", "wt", n=2)
    ids = {r["doc_id"] for r in out.collect()}
    assert ids <= {2, 4} and sum(r["n_picks"] for r in out.collect()) == 2
