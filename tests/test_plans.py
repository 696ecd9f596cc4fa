"""Physical-plan regression tests: the optimizations we rely on at
scale must stay visible in explain output (predicate pushdown reaching
the scan, column pruning, broadcast joins, bounded exchange counts,
JVM-only caption parsing)."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from dea_coastlines_spark.operators import composite
from dea_coastlines_spark.plans import driver_queries as dq
from dea_coastlines_spark.plans.pipeline import shoreline_pipeline
from dea_coastlines_spark.synth import corpus

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_and_column_pruning(spark):
    p = plan_of(dq.QUERIES["pricing_summary"](spark, SF))
    assert "LessThanOrEqual(l_shipdate" in p  # predicate reached parquet
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert "l_comment" not in cols and len(cols) <= 6  # pruned scan


def test_star_join_broadcasts_all_dims(spark):
    p = plan_of(dq.QUERIES["join_star"](spark, SF))
    # formatted mode lists each node in the tree AND in the detail
    # section — count the numbered detail entries
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 3


def test_semi_anti_join_strategies(spark):
    p = plan_of(dq.QUERIES["semi_anti_join"](spark, SF))
    assert "LeftSemi" in p and "LeftAnti" in p


def _parquet_tiles(spark, tmp_path):
    spec = corpus.CorpusSpec(
        tile_px=64, halo_px=4, tiles_x=2, tiles_y=1,
        year0=2000, year1=2001, obs_per_year=2, seed=3,
    )
    spark.createDataFrame(
        corpus.generate_pandas(spec), schema=corpus.TILES_SCHEMA
    ).write.parquet(str(tmp_path / "t"))
    return spark.read.parquet(str(tmp_path / "t"))


def _nodes(p: str, name: str) -> list[str]:
    """Detail entries of the formatted plan's `name` nodes (formatted
    mode lists each node in the tree AND in the detail section)."""
    return re.findall(rf"^\(\d+\) {name} *\n(.*?)(?:\n\n|\Z)", p, re.M | re.S)


def test_flagship_parquet_plan_shape(spark, tmp_path):
    p = plan_of(shoreline_pipeline(_parquet_tiles(spark, tmp_path), apply_tide_filter=True))
    # the tide-cutoff window's exchange on (tile_x, tile_y) and its sort
    # on (tile_x, tile_y, year) are the grouped map's too: one shuffle,
    # one sort, and no cutoff aggregate joined back by broadcast
    assert len(_nodes(p, "Exchange")) == 1
    assert len(_nodes(p, "Sort")) == 1
    assert len(_nodes(p, "Window")) == 1
    assert not re.search(r"\(\d+\) Broadcast", p)
    assert not _nodes(p, "HashAggregate")
    # the tiles are scanned once, with the image bytes
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert len(schemas) == 1 and "bytes:binary" in schemas[0], schemas
    # image bytes cross into Python exactly once: composite and contours
    # run in the same Arrow grouped map
    assert len(_nodes(p, "FlatMapGroupsInArrow")) == 1
    assert not re.search(r"\(\d+\) (FlatMapGroupsInPandas|MapInPandas|MapInArrow)", p)


@pytest.mark.parametrize("build", ["annual_composites", "gapfill_composites"])
def test_composites_shuffle_image_bytes_once(spark, tmp_path, build):
    p = plan_of(getattr(composite, build)(_parquet_tiles(spark, tmp_path)))
    exchanges = _nodes(p, "Exchange")
    with_bytes = [e for e in exchanges if re.search(r"\bbytes#", e.split("\n")[0])]
    # only the tide window's exchange carries the pixels; gapfill's
    # explode and broadcast year join keep its (tile_x, tile_y)
    # partitioning, and its other exchanges are in the caption-only
    # `years` subquery
    assert len(with_bytes) == 1, exchanges
    assert re.search(r"hashpartitioning\(tile_x#\d+, tile_y#\d+, \d+\)", with_bytes[0])
    assert len(_nodes(p, "FlatMapGroupsInArrow")) == 1


def test_knn_k1_plan_has_single_aggregate_no_window(spark):
    p = plan_of(dq.QUERIES["knn_anchor_join"](spark, SF))
    assert "Window" not in p  # k=1 path is the argmin aggregation


