"""Incremental annual updates via Structured Streaming.

The reference is pure batch (SURVEY.md §2.10); its real-world update
mode is "recompute affected tiles when new acquisitions land"
(README.md:27 'updated regularly as data continues to be acquired').
This module models that as a file-source stream of new tile rows:

    readStream(tiles dir) -> foreachBatch:
        affected = distinct (tile, year) keys in the micro-batch
        recompute composites for affected keys from the FULL tile store
        overwrite those keys' outputs (idempotent upsert)

foreachBatch + key-scoped dynamic overwrite is the Spark-native
equivalent of Iceberg snapshot-append + partition recompute. Exactly-
once per key follows from idempotent overwrite of (tile, year)
partitions.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators import composite as comp_op
from ..synth.corpus import TILES_SCHEMA


def start_incremental_composites(
    spark: SparkSession,
    tiles_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    apply_tide_filter: bool = False,
):
    """Start an availableNow stream that keeps the composites table in
    sync with the tiles directory. Returns the StreamingQuery."""
    stream = (
        spark.readStream.schema(TILES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(tiles_dir)
    )

    def process_batch(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        # recompute by TILE, not (tile, year): the tide-cutoff window is
        # a min/max over every year the run reads for a tile, so pulling
        # only the touched years would compute different cutoffs (and thus
        # different composites) than a batch run — the same tile-
        # completeness rule the shorelines job and the checkpointed
        # batch job apply. Median is not incrementally mergeable ->
        # key-scoped recompute, as the reference's rerun-per-tile
        # protocol encodes.
        affected = (
            comp_op.with_caption(batch_df)
            .select("tile_x", "tile_y")
            .distinct()
        )
        full = comp_op.with_caption(batch_df.sparkSession.read.parquet(tiles_dir))
        todo = full.join(F.broadcast(affected), ["tile_x", "tile_y"])
        out = comp_op.annual_composites(todo, apply_tide_filter)
        (
            out.withColumn(
                "pkey",
                F.concat_ws("|", F.col("tile_x"), F.col("tile_y"), F.col("year")),
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("pkey")
            .parquet(output_dir)
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_incremental_shorelines(
    spark: SparkSession,
    tiles_dir: str,
    table_path: str,
    checkpoint_dir: str,
    apply_tide_filter: bool = True,
):
    """Keep an annual-shoreline snapshot table in sync with a growing
    tile directory: each micro-batch recomputes shorelines ONLY for the
    (tile, year) keys its new files touch, then upserts those partitions
    into the snapshot table (overwrite_partitions) — Iceberg-style
    append + key-scoped recompute (SURVEY.md §2.10), end to end.

    Tide note: the cutoff window is a min/max over every year the run
    reads for a tile, so the recompute pulls ALL years of an affected
    tile (the same cell-completeness rule the checkpointed batch job
    uses)."""
    from ..plans.pipeline import shoreline_pipeline
    from ..sources.table import SnapshotTable

    stream = (
        spark.readStream.schema(TILES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(tiles_dir)
    )

    def process_batch(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        affected_tiles = (
            comp_op.with_caption(batch_df).select("tile_x", "tile_y").distinct()
        )
        full = comp_op.with_caption(sess.read.parquet(tiles_dir))
        todo = full.join(F.broadcast(affected_tiles), ["tile_x", "tile_y"])
        sl = shoreline_pipeline(todo, apply_tide_filter=apply_tide_filter)
        table = SnapshotTable(sess, table_path)
        if table.current_version() == 0:
            table.create(sl, partition_by=["tile_x", "tile_y"])
        else:
            # name the FULL recomputed set: a tile whose new data yields
            # zero shorelines must have its stale partition dropped —
            # dynamic overwrite alone can't delete an empty recompute
            drops = [
                {"tile_x": r.tile_x, "tile_y": r.tile_y}
                for r in affected_tiles.collect()
            ]
            table.overwrite_partitions(sl, drop_partitions=drops)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
