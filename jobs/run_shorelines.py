"""spark-submit entrypoint: tile snapshot table -> annual shorelines.

The north rule requires the engine to run "end-to-end via spark-submit
--py-files on multi-executor clusters". This script is that entrypoint:
it takes its SparkSession from spark-submit (master/executors/conf are
deploy-time choices, not code), imports the engine from the --py-files
zip, and prints ONE JSON metrics line.

Usage (local example; on a cluster swap --master for YARN/k8s):

    python scripts/package_pyfiles.py
    spark-submit --master 'local[8]' \
        --py-files dist/dea_coastlines_spark.zip \
        jobs/run_shorelines.py \
        --synth 4,2,2000,2002,3 --tiles-table /tmp/tiles \
        --output /tmp/shorelines --checkpoint-dir /tmp/ckpt

Re-running with the same --checkpoint-dir resumes: cells (cell_id, all
years together) committed by an earlier run are skipped via the
checkpoint stage's commit log (reference analog: run_completed markers,
coastlines/raster.py:716-725).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--tiles-table", required=True,
                   help="snapshot-table path of the tiles corpus")
    p.add_argument("--synth", default=None,
                   help="tiles_x,tiles_y,year0,year1,obs_per_year — create "
                        "the tiles table first from the deterministic "
                        "synthetic corpus (no external data)")
    p.add_argument("--tile-px", type=int, default=128)
    p.add_argument("--halo-px", type=int, default=8)
    p.add_argument("--seed", type=int, default=11)
    p.add_argument("--output", required=True,
                   help="snapshot-table path for shoreline rows")
    p.add_argument("--checkpoint-dir", default=None,
                   help="enable per-cell_id lineage + resume")
    p.add_argument("--checkpoint-batch-cells", type=int, default=None,
                   help="commit lineage every N cells so a killed job "
                        "resumes at the last completed batch")
    p.add_argument("--years", default=None,
                   help="lo:hi inclusive year range pushed down to the "
                        "tile manifest")
    p.add_argument("--no-tide-filter", action="store_true")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    # Only stop the session on exit if this job created it: when main()
    # is called in-process (tests, notebooks) getOrCreate() returns the
    # caller's session, and stopping it would kill their SparkContext.
    # getActiveSession() is thread-local, so also check the process-wide
    # SparkContext (a caller may have built the session on another
    # thread — getOrCreate() would still return it).
    from pyspark import SparkContext

    owns_session = (
        SparkSession.getActiveSession() is None
        and SparkContext._active_spark_context is None
    )
    from dea_coastlines_spark.session import submit_session

    spark = submit_session("dea-coastlines-spark:shorelines")

    from dea_coastlines_spark.plans.checkpoint import CheckpointedPipeline
    from dea_coastlines_spark.plans.pipeline import shoreline_pipeline
    from dea_coastlines_spark.sources import read_tiles, write_tiles
    from dea_coastlines_spark.sources.table import SnapshotTable
    from dea_coastlines_spark.synth import corpus

    if args.synth:
        tx, ty, y0, y1, obs = (int(v) for v in args.synth.split(","))
        spec = corpus.CorpusSpec(
            tile_px=args.tile_px, halo_px=args.halo_px, tiles_x=tx, tiles_y=ty,
            year0=y0, year1=y1, obs_per_year=obs, seed=args.seed,
        )
        write_tiles(corpus.generate_spark(spark, spec), args.tiles_table)

    years = None
    if args.years:
        lo, hi = args.years.split(":")
        years = (int(lo), int(hi))
    tiles = read_tiles(spark, args.tiles_table, years=years)
    n_tiles = tiles.count()

    t0 = time.perf_counter()
    resumed_keys = 0
    if args.checkpoint_dir:
        ckpt = CheckpointedPipeline(spark, args.checkpoint_dir)
        resumed_keys = len(ckpt.done_keys("shorelines"))
        # Keyed by cell_id ONLY (not (cell, year)): the tide-cutoff
        # window is a min/max over every year the run reads for a tile
        # (coastlines/raster.py:283-289), so a cell must recompute all
        # its years together or a partial resume would see a truncated
        # series and produce different cutoffs than the original run.
        out = ckpt.run_stage(
            "shorelines",
            tiles,
            key_cols=["cell_id"],
            fn=lambda todo: shoreline_pipeline(
                todo, apply_tide_filter=not args.no_tide_filter
            ),
            batch_keys=args.checkpoint_batch_cells,
        ).drop("cell_key")
    else:
        out = shoreline_pipeline(tiles, apply_tide_filter=not args.no_tide_filter)

    table = SnapshotTable(spark, args.output)
    if table.current_version() == 0:
        table.create(out, partition_by=["year"])
    else:
        table.overwrite_partitions(out)
    n_out = table.snapshots()[-1]["n_rows"]
    dt = time.perf_counter() - t0

    print(json.dumps({
        "job": "shorelines",
        "n_tiles": n_tiles,
        "n_shorelines": n_out,
        "resumed_keys": resumed_keys,
        "sec": round(dt, 3),
        "tiles_per_sec": round(n_tiles / dt, 2) if dt > 0 else None,
        "parallelism": spark.sparkContext.defaultParallelism,
    }))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
