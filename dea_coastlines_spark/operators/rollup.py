"""Hierarchical grid-cell rollup — multi-resolution datacube
aggregation (overview-pyramid analog of the reference's gridded
continental layers; reference continental.py writes its hotspot
layers at three fixed radii — this operator generalises that to a
cell pyramid, the standard serving structure for a 10^12-row
tile/point corpus).

Points are binned to a square grid at the finest cell size, aggregated
once, and every coarser level is derived by RE-AGGREGATING the
previous level (count/sum → sum, min → min, max → max; mean derived
from sum/count at the end). This is the scale-critical design choice:

* One full shuffle of the raw data (the finest groupBy) — unavoidable.
* Level k>0 aggregates the *aggregate* of level k-1: with fanout f in
  2D each step shrinks the row count ~f², so the entire pyramid above
  level 0 costs a geometric tail of tiny shuffles. The alternative —
  Spark's GROUPING SETS / rollup — expands every raw row ×levels
  before the shuffle (Expand operator), multiplying 100 TB of map
  output by the level count. Re-aggregation never touches raw data
  twice.
* Each level is persisted before deriving the next so the final
  union does not recompute the chain.

Rollup-able aggregates only: count, sum, min, max (+ mean derived).
Median/std intentionally excluded — they don't re-aggregate; use the
salted two-phase paths in operators/skew.py against raw data instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hierarchical_rollup(
    df: DataFrame,
    x_col: str,
    y_col: str,
    value_col: str,
    base_size: float,
    levels: int = 4,
    fanout: int = 2,
) -> DataFrame:
    """Multi-resolution cell pyramid over point rows.

    Out: (level, cell_x, cell_y, n, sum_v, min_v, max_v, mean_v) —
    level 0 is the finest (cell = floor(coord / base_size)); level k
    bins at base_size * fanout**k, with cell ids related by
    cell_k = floor(cell_{k-1} / fanout) (floor semantics, so negative
    coordinates nest correctly).
    """
    if levels < 1:
        raise ValueError("levels must be >= 1")
    cur = (
        df.select(
            F.floor(F.col(x_col) / F.lit(float(base_size)))
            .cast("long")
            .alias("cell_x"),
            F.floor(F.col(y_col) / F.lit(float(base_size)))
            .cast("long")
            .alias("cell_y"),
            F.col(value_col).cast("double").alias("v"),
        )
        .groupBy("cell_x", "cell_y")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
    )
    out: list[DataFrame] = []
    for lvl in range(levels):
        cur = cur.persist()
        out.append(cur.select(F.lit(lvl).alias("level"), "*"))
        if lvl < levels - 1:
            cur = (
                cur.select(
                    F.floor(F.col("cell_x") / F.lit(float(fanout)))
                    .cast("long")
                    .alias("cell_x"),
                    F.floor(F.col("cell_y") / F.lit(float(fanout)))
                    .cast("long")
                    .alias("cell_y"),
                    "n",
                    "sum_v",
                    "min_v",
                    "max_v",
                )
                .groupBy("cell_x", "cell_y")
                .agg(
                    F.sum("n").alias("n"),
                    F.sum("sum_v").alias("sum_v"),
                    F.min("min_v").alias("min_v"),
                    F.max("max_v").alias("max_v"),
                )
            )
    pyramid = out[0]
    for lv in out[1:]:
        pyramid = pyramid.unionByName(lv)
    return pyramid.withColumn("mean_v", F.col("sum_v") / F.col("n"))
