"""Kill-and-resume test (SURVEY.md §5): a restarted job skips completed
cells and produces identical output."""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from dea_coastlines_spark.operators import composite as comp_op
from dea_coastlines_spark.plans.checkpoint import CheckpointedPipeline
from dea_coastlines_spark.sources.table import CommitConflictError, SnapshotTable
from dea_coastlines_spark.synth import corpus

SPEC = corpus.CorpusSpec(
    tile_px=48, halo_px=4, tiles_x=3, tiles_y=1,
    year0=2000, year1=2001, obs_per_year=3, cloud_frac=0.0, seed=13,
)


@pytest.fixture()
def base_dir():
    d = tempfile.mkdtemp(prefix="ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_resume_skips_completed_cells(spark, base_dir):
    tiles = comp_op.with_caption(spark.createDataFrame(corpus.generate_pandas(SPEC)))
    calls: list[list[str]] = []

    def stage_fn(todo):
        keys = sorted(
            f"{r.tile_x}|{r.tile_y}"
            for r in todo.select("tile_x", "tile_y").distinct().collect()
        )
        calls.append(keys)
        return comp_op.annual_composites(todo, apply_tide_filter=False)

    # "killed" first run: only tile_x=0 was processed
    part = tiles.filter(F.col("image_id").startswith("t000_"))
    p1 = CheckpointedPipeline(spark, base_dir)
    p1.run_stage("composites", part, ["tile_x", "tile_y"], stage_fn)
    assert calls[-1] == ["0|0"]
    lin1 = p1.lineage().toPandas()
    assert set(lin1.cell_key) == {"0|0"} and (lin1.stage == "composites").all()

    # resumed full run: only the remaining tiles are computed
    p2 = CheckpointedPipeline(spark, base_dir)
    out = p2.run_stage("composites", tiles, ["tile_x", "tile_y"], stage_fn)
    assert calls[-1] == ["1|0", "2|0"]
    got = out.select("tile_x", "tile_y", "year").toPandas()
    assert len(got) == SPEC.tiles_x * SPEC.tiles_y * len(SPEC.years)

    # third run: nothing to do, stage_fn not invoked
    n_calls = len(calls)
    p3 = CheckpointedPipeline(spark, base_dir)
    out3 = p3.run_stage("composites", tiles, ["tile_x", "tile_y"], stage_fn)
    assert len(calls) == n_calls
    assert out3.count() == out.count()

    # metrics recorded per key
    m = p3.metrics().toPandas()
    assert set(m.cell_key) == {"0|0", "1|0", "2|0"}
    assert (m.n_rows == len(SPEC.years)).all()
    assert m.completed_at.notna().all()


def test_empty_todo_on_fresh_dir_returns_empty_frame(spark, base_dir):
    """A fresh checkpoint dir with a zero-row input must return an
    empty DataFrame with the stage schema, not die reading a parquet
    path that was never created."""
    tiles = comp_op.with_caption(
        spark.createDataFrame(corpus.generate_pandas(SPEC))
    ).limit(0)
    p = CheckpointedPipeline(spark, base_dir)
    out = p.run_stage(
        "composites", tiles, ["tile_x", "tile_y"],
        lambda todo: comp_op.annual_composites(todo, apply_tide_filter=False),
    )
    assert out.count() == 0
    assert "cell_key" in out.columns


def test_resumed_output_matches_uninterrupted(spark, base_dir):
    tiles = comp_op.with_caption(spark.createDataFrame(corpus.generate_pandas(SPEC)))

    def stage_fn(todo):
        return comp_op.annual_composites(todo, apply_tide_filter=False)

    # interrupted-then-resumed
    part = tiles.filter(F.col("image_id").startswith("t000_"))
    CheckpointedPipeline(spark, base_dir).run_stage("c", part, ["tile_x", "tile_y"], stage_fn)
    resumed = (
        CheckpointedPipeline(spark, base_dir)
        .run_stage("c", tiles, ["tile_x", "tile_y"], stage_fn)
        .select("tile_x", "tile_y", "year", F.md5(F.col("mndwi_bytes")).alias("h"))
        .toPandas().sort_values(["tile_x", "tile_y", "year"]).reset_index(drop=True)
    )
    # uninterrupted oracle
    clean = (
        comp_op.annual_composites(tiles, apply_tide_filter=False)
        .select("tile_x", "tile_y", "year", F.md5(F.col("mndwi_bytes")).alias("h"))
        .toPandas().sort_values(["tile_x", "tile_y", "year"]).reset_index(drop=True)
    )
    assert resumed.equals(clean)


def test_batched_commits_and_crash_window_idempotence(spark, base_dir,
                                                      monkeypatch):
    """batch_keys=1 commits per cell; a crash BETWEEN the data write and
    the commit that references it leaves only unreferenced staged files:
    the resumed run redoes exactly that cell, the output holds no
    duplicate, and vacuum reclaims the orphaned files."""
    tiles = comp_op.with_caption(
        spark.createDataFrame(corpus.generate_pandas(SPEC))
    )
    calls: list[list[str]] = []

    def stage_fn(todo):
        calls.append(sorted(
            f"{r.tile_x}|{r.tile_y}"
            for r in todo.select("tile_x", "tile_y").distinct().collect()
        ))
        return comp_op.annual_composites(todo, apply_tide_filter=False)

    # interrupted run: the first cell's files are written, then the
    # process "dies" before its commit
    class Boom(RuntimeError):
        pass

    def dying_commit(self, *args, **kwargs):
        raise Boom()

    p1 = CheckpointedPipeline(spark, base_dir)
    with monkeypatch.context() as mp, pytest.raises(Boom):
        mp.setattr(SnapshotTable, "_commit", dying_commit)
        p1.run_stage("comp", tiles, ["tile_x", "tile_y"], stage_fn,
                     batch_keys=1)
    assert calls == [["0|0"]]  # one cell was processed before the kill
    assert p1.done_keys("comp") == []  # staged files, no commit
    orphans = list((Path(base_dir) / "comp" / "data").rglob("*.parquet"))
    assert orphans

    # resumed run: the killed cell is redone, then the other two; one
    # commit per cell
    p2 = CheckpointedPipeline(spark, base_dir)
    out = p2.run_stage("comp", tiles, ["tile_x", "tile_y"], stage_fn,
                       batch_keys=1)
    assert calls == [["0|0"], ["0|0"], ["1|0"], ["2|0"]]
    lin = p2.lineage().toPandas()
    assert sorted(lin.cell_key) == ["0|0", "1|0", "2|0"]
    assert (lin.run_id == p2.run_id).all()
    assert lin.completed_at.nunique() == 3
    # duplicate check: one composite row per (tile, year)
    n_keys = out.select("tile_x", "tile_y", "year").distinct().count()
    assert out.count() == n_keys == 3 * len(SPEC.years)

    # the killed batch's staged files are the only unreferenced ones
    assert p2.table("comp").vacuum(min_age_s=0) == len(orphans)
    assert not any(f.exists() for f in orphans)

    # a third run has nothing to do and returns identical output
    p3 = CheckpointedPipeline(spark, base_dir)
    out3 = p3.run_stage("comp", tiles, ["tile_x", "tile_y"], stage_fn,
                        batch_keys=1)
    assert len(calls) == 4  # no new fn invocations
    assert out3.count() == out.count()


def test_concurrent_committers_conflict_then_rerun(spark, base_dir):
    """Two runners share one base dir and read the same work list. The
    one that commits second raises CommitConflictError instead of
    appending the same keys again; a rerun skips what the winner
    committed and leaves one row per (tile, year)."""
    tiles = comp_op.with_caption(
        spark.createDataFrame(corpus.generate_pandas(SPEC))
    )
    keys = ["tile_x", "tile_y"]
    p1 = CheckpointedPipeline(spark, base_dir)
    p2 = CheckpointedPipeline(spark, base_dir)

    def plain(todo):
        return comp_op.annual_composites(todo, apply_tide_filter=False)

    def racing(todo):
        # p1 has read its work list; p2 runs and commits the same keys
        # before p1 commits
        p2.run_stage("comp", tiles, keys, plain)
        return plain(todo)

    with pytest.raises(CommitConflictError):
        p1.run_stage("comp", tiles, keys, racing)
    assert sorted(p1.done_keys("comp")) == ["0|0", "1|0", "2|0"]
    assert set(p1.lineage().toPandas().run_id) == {p2.run_id}

    calls: list[int] = []

    def counted(todo):
        calls.append(1)
        return plain(todo)

    out = CheckpointedPipeline(spark, base_dir).run_stage(
        "comp", tiles, keys, counted
    )
    assert calls == []
    n_keys = out.select("tile_x", "tile_y", "year").distinct().count()
    assert out.count() == n_keys == 3 * len(SPEC.years)
