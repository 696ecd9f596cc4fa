"""Structured Streaming incremental-composite test: stream two file
drops, assert the composites table converges to the batch result."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dea_coastlines_spark.operators import composite as comp_op
from dea_coastlines_spark.streaming.incremental import start_incremental_composites
from dea_coastlines_spark.synth import corpus

SPEC = corpus.CorpusSpec(
    tile_px=48, halo_px=4, tiles_x=2, tiles_y=1,
    year0=2000, year1=2001, obs_per_year=3, cloud_frac=0.0, seed=17,
)


@pytest.fixture()
def dirs():
    base = tempfile.mkdtemp(prefix="stream_")
    yield {
        "tiles": f"{base}/tiles",
        "out": f"{base}/composites",
        "ckpt": f"{base}/ckpt",
    }
    shutil.rmtree(base, ignore_errors=True)


def test_incremental_composites_converge(spark, dirs):
    pdf = corpus.generate_pandas(SPEC)
    half1 = pdf[pdf.image_id.str.contains("_2000_")]
    half2 = pdf[~pdf.image_id.str.contains("_2000_")]

    # drop 1: year 2000 only (explicit schema: the stream reader expects
    # the canonical tiles schema, not pandas-inferred int64)
    spark.createDataFrame(half1, schema=corpus.TILES_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(dirs["tiles"])
    q = start_incremental_composites(spark, dirs["tiles"], dirs["out"], dirs["ckpt"])
    q.awaitTermination(120)
    got1 = spark.read.parquet(dirs["out"])
    assert got1.select("year").distinct().count() == 1

    # drop 2: year 2001 arrives later
    spark.createDataFrame(half2, schema=corpus.TILES_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(dirs["tiles"])
    q = start_incremental_composites(spark, dirs["tiles"], dirs["out"], dirs["ckpt"])
    q.awaitTermination(120)

    got = (
        spark.read.parquet(dirs["out"])
        .select("tile_x", "tile_y", "year", F.md5("mndwi_bytes").alias("h"))
        .toPandas().sort_values(["tile_x", "tile_y", "year"]).reset_index(drop=True)
    )
    want = (
        comp_op.annual_composites(spark.createDataFrame(pdf), False)
        .select("tile_x", "tile_y", "year", F.md5("mndwi_bytes").alias("h"))
        .toPandas().sort_values(["tile_x", "tile_y", "year"]).reset_index(drop=True)
    )
    assert got.equals(want)


def test_incremental_shorelines_upsert(spark, tmp_path):
    """Streamed new-year arrivals update only affected shoreline
    partitions; final table equals a from-scratch batch run."""
    from dea_coastlines_spark.plans.pipeline import shoreline_pipeline
    from dea_coastlines_spark.sources.table import SnapshotTable
    from dea_coastlines_spark.streaming.incremental import (
        start_incremental_shorelines,
    )

    tiles_dir = str(tmp_path / "tiles")
    table_path = str(tmp_path / "sl")
    ckpt = str(tmp_path / "ck")

    spec1 = corpus.CorpusSpec(
        tile_px=96, halo_px=6, tiles_x=2, tiles_y=2,
        year0=2000, year1=2001, obs_per_year=4, cloud_frac=0.0, seed=3,
    )
    spark.createDataFrame(
        corpus.generate_pandas(spec1), schema=corpus.TILES_SCHEMA
    ).write.mode("append").parquet(tiles_dir)
    q = start_incremental_shorelines(spark, tiles_dir, table_path, ckpt)
    q.awaitTermination(300)
    t = SnapshotTable(spark, table_path)
    v1 = t.current_version()
    n1 = t.read().count()
    assert n1 > 0

    # a new year lands
    spec2 = corpus.CorpusSpec(
        tile_px=96, halo_px=6, tiles_x=2, tiles_y=2,
        year0=2002, year1=2002, obs_per_year=4, cloud_frac=0.0, seed=3,
    )
    spark.createDataFrame(
        corpus.generate_pandas(spec2), schema=corpus.TILES_SCHEMA
    ).write.mode("append").parquet(tiles_dir)
    q2 = start_incremental_shorelines(spark, tiles_dir, table_path, ckpt)
    q2.awaitTermination(300)
    assert t.current_version() > v1
    got = t.read()
    assert got.filter(F.col("year") == 2002).count() > 0

    # equals from-scratch batch output
    batch = shoreline_pipeline(
        comp_op.with_caption(spark.read.parquet(tiles_dir)),
        apply_tide_filter=True,
    )
    want = sorted(
        (r.tile_x, r.tile_y, r.year, bytes(r.geometry).hex())
        for r in batch.collect()
    )
    have = sorted(
        (r.tile_x, r.tile_y, r.year, bytes(r.geometry).hex())
        for r in got.collect()
    )
    assert have == want


def test_stateful_running_composite_converges(spark, dirs):
    """applyInPandasWithState running composite: after streaming all
    observations across multiple micro-batches, the last update per
    (tile, year) equals the batch mean/std computed from all obs."""
    import numpy as np

    from dea_coastlines_spark.codecs import image as img_codec
    from dea_coastlines_spark.codecs import tiff
    from dea_coastlines_spark.streaming.stateful import running_composite_stats

    pdf = corpus.generate_pandas(SPEC)
    spark.createDataFrame(pdf, schema=corpus.TILES_SCHEMA).coalesce(4).write.mode(
        "overwrite"
    ).parquet(dirs["tiles"])

    stream = (
        spark.readStream.schema(corpus.TILES_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force several micro-batches
        .parquet(dirs["tiles"])
    )
    q = (
        running_composite_stats(stream)
        .writeStream.format("memory")
        .queryName("running_comp")
        .outputMode("update")
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from running_comp").collect()
    assert rows
    # last update per key = the one with max n_obs
    final = {}
    for r in rows:
        k = (r.tile_x, r.tile_y, r.year)
        if k not in final or r.n_obs > final[k].n_obs:
            final[k] = r

    # batch oracle from the same parquet
    import collections

    import pandas as pd

    stacks = collections.defaultdict(list)
    for _, row in pdf.iterrows():
        import json as _json

        meta = _json.loads(row["caption"])
        stacks[(meta["tile_x"], meta["tile_y"], meta["year"])].append(
            img_codec.decode_tile(bytes(row["bytes"]), row["fmt"])
        )
    assert set(final) == set(stacks)
    for k, imgs in stacks.items():
        st = np.stack(imgs)
        n = np.isfinite(st).sum(axis=0)
        want_mean = np.nanmean(st.astype(np.float64), axis=0).astype(np.float32)
        with np.errstate(all="ignore"):
            want_std = np.nanstd(st.astype(np.float64), axis=0, ddof=1).astype(
                np.float32
            )
        r = final[k]
        assert r.n_obs == len(imgs)
        got_mean = tiff.decode_f32(bytes(r.mean_bytes))
        got_std = tiff.decode_f32(bytes(r.std_bytes))
        np.testing.assert_allclose(
            np.where(n > 0, got_mean, 0), np.where(n > 0, want_mean, 0),
            atol=1e-6,
        )
        np.testing.assert_allclose(
            np.where(n > 1, got_std, 0), np.where(n > 1, want_std, 0),
            atol=1e-5,
        )


def test_windowed_counts_with_watermark(spark, dirs):
    """Watermarked event-time window agg: counts per (tile, 90d window)
    match the obs-per-year layout; append mode emits only finalized
    windows."""
    from dea_coastlines_spark.streaming.stateful import windowed_obs_counts

    pdf = corpus.generate_pandas(SPEC)
    spark.createDataFrame(pdf, schema=corpus.TILES_SCHEMA).coalesce(2).write.mode(
        "overwrite"
    ).parquet(dirs["tiles"])
    stream = (
        spark.readStream.schema(corpus.TILES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(dirs["tiles"])
    )
    q = (
        windowed_obs_counts(stream, watermark="10 days", window="90 days")
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", dirs["ckpt"] + "_w")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from win_counts").collect()
    # all obs of a year land in days 0..obs_per_year-1 of January ->
    # exactly one 90-day window per (tile, year). Tumbling windows align
    # to the unix epoch, so the window containing Jan 2000 STARTS in Dec
    # 1999. Append mode only emits windows the watermark has passed:
    # the 2001 data finalizes the 2000 windows; the trailing 2001
    # windows stay open (correct late-data semantics), so exactly the
    # year-2000 windows appear, one per tile, with the full obs count.
    got = {(r.tile_x, r.tile_y): r.n_obs for r in rows}
    for r in rows:
        assert r.win_start.year in (1999, 2000)
        assert r.win_end.year == 2000
    n_tiles = SPEC.tiles_x * SPEC.tiles_y
    assert len(got) == n_tiles
    assert all(n == SPEC.obs_per_year for n in got.values())


def test_table_ingest_exactly_once(spark, tmp_path):
    """File-stream -> snapshot-table ingest: all rows land, a restart
    with the same checkpoint ingests only NEW files, and a replayed
    (txn_app, txn_version) append is a no-op (the crash-between-
    commits window)."""
    from dea_coastlines_spark.sources.table import SnapshotTable
    from dea_coastlines_spark.streaming.ingest import start_table_ingest

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "table")
    schema = "doc_id long, text string"

    spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = start_table_ingest(stream, table, ckpt, ingest_id="t1",
                               dedupe_cols=["doc_id"])
        q.awaitTermination(120)
        q.stop()

    run()
    t = SnapshotTable(spark, table)
    assert t.read().count() == 10

    # second wave of files, same checkpoint: only the delta appends
    spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8, 16)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    run()
    got = t.read()
    assert got.count() == 16  # 8..9 screened as duplicates by key
    assert got.select("doc_id").distinct().count() == 16

    # replayed batch id (crash between table commit and checkpoint
    # commit): same txn version appends nothing
    v_before = t.current_version()
    extra = spark.createDataFrame([(99, "replay")], schema)
    m = t._metadata()
    done = m["txns"]["t1"]
    assert t.append(extra, txn_app="t1", txn_version=done) == v_before
    assert t.read().count() == 16
    # a NEWER version still appends
    t.append(extra, txn_app="t1", txn_version=done + 1)
    assert t.read().count() == 17
    with pytest.raises(ValueError, match="come together"):
        t.append(extra, txn_app="t1")
