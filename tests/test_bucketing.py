"""Aspect-ratio bucketing + shard packing invariants: nearest-rung
parity vs a numpy brute force, partition invariance, dense in-shard
positions, bounded shard counts."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from dea_coastlines_spark.operators import bucketing
from dea_coastlines_spark.operators.sampling import u01


def _img_df(spark, n=4000, parts=4):
    """Deterministic synthetic (image_id, w, h) with varied ratios."""
    return (
        spark.range(n)
        .repartition(parts)
        .select(
            F.col("id").alias("image_id"),
            (64 * (8 + F.floor(u01("id", 101) * 25))).cast("int").alias("w"),
            (64 * (8 + F.floor(u01("id", 202) * 25))).cast("int").alias("h"),
        )
    )


def test_ladder_shape():
    ladder = bucketing.ar_ladder()
    ratios = [w / h for w, h in ladder]
    assert ratios == sorted(ratios)
    assert len(set(ratios)) == len(ratios)
    # every rung near the pixel budget, on the step grid
    for w, h in ladder:
        assert w % 64 == 0 and h % 64 == 0
        assert 512 <= w <= 2048 and 512 <= h <= 2048


def test_bucket_assignment_matches_numpy_nearest_log_ratio(spark):
    ladder = bucketing.ar_ladder()
    pdf = bucketing.assign_ar_bucket(_img_df(spark)).toPandas()
    log_rungs = np.log([w / h for w, h in ladder])
    log_r = np.log(pdf.w.to_numpy() / pdf.h.to_numpy())
    want = np.abs(log_r[:, None] - log_rungs[None, :]).argmin(axis=1)
    assert (pdf.bucket_id.to_numpy() == want).all()
    # mapped target dims agree with the ladder
    ws = np.array([w for w, _ in ladder])
    hs = np.array([h for _, h in ladder])
    assert (pdf.bucket_w.to_numpy() == ws[pdf.bucket_id]).all()
    assert (pdf.bucket_h.to_numpy() == hs[pdf.bucket_id]).all()


def test_shards_partition_invariant_and_dense(spark):
    a = bucketing.ar_bucket_shards(
        _img_df(spark, parts=3), "image_id", shard_size=50, seed=9
    ).toPandas()
    b = bucketing.ar_bucket_shards(
        _img_df(spark, parts=17), "image_id", shard_size=50, seed=9
    ).toPandas()
    key = ["image_id"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert a.equals(b)

    for (_, _), g in a.groupby(["bucket_id", "shard"]):
        pos = np.sort(g.pos.to_numpy())
        assert (pos == np.arange(len(g))).all()

    # shard ids stay below ceil(bucket_count / shard_size); mean shard
    # size is ~shard_size (floor-of-uniform packing, Poisson spread)
    for _, g in a.groupby("bucket_id"):
        n_shards = math.ceil(len(g) / 50)
        assert g.shard.max() < n_shards
        if n_shards >= 4:
            assert abs(len(g) / (g.shard.max() + 1) - 50) < 25
