"""Annual composite stage: tiles -> per-(tile, year) median/std/count.

Reference semantics: `tidal_composite` (coastlines/raster.py:340-405) —
pixelwise median / std / valid-count over the year's observations, after
the tide-range subset (`load_tidal_subset`, coastlines/raster.py:330-337).

Spark plan (scale notes):
  * caption parsing is JVM-side `from_json` -> the per-tile tide cutoffs
    are a min/max window over (tile_x, tile_y) and the tide filter a row
    filter, pure DataFrame ops over the one scan of the tiles.
  * the pixel stack never leaves Python: ONE `applyInArrow` per
    (tile_x, tile_y, year) group reads its columns straight from the
    group's Arrow table (no pandas frame) and does decode -> stack ->
    nanmedian/std/count (`decode_stats`) -> float32-TIFF encode of the
    composite row. `shoreline_pipeline` runs the same `decode_stats` in
    its own grouped map and never encodes the rasters. Group size =
    obs_per_year tiles (bounded memory: the dask-chunk analog,
    raster.py:549).
  * the tide window's hash exchange on (tile_x, tile_y) and its sort on
    (tile_x, tile_y, year) also serve the grouped map, so they are the
    only shuffle and sort of pixel bytes; there is no extra repartition.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, GroupedData, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, StringType, StructField, StructType,
)

from ..codecs import image as img_codec
from ..codecs import tiff

CAPTION_SCHEMA = StructType(
    [
        StructField("tile_x", IntegerType()),
        StructField("tile_y", IntegerType()),
        StructField("year", IntegerType()),
        StructField("obs", IntegerType()),
        StructField("crs", StringType()),
        StructField("transform", ArrayType(DoubleType())),
        StructField("halo_px", IntegerType()),
        StructField("tide_m", DoubleType()),
        # reserved metadata kind tag (sources.tiles parses it); unknown
        # JSON fields are ignored by from_json, so carrying the superset
        # here keeps this the ONE caption schema for the whole engine
        StructField("kind", StringType()),
    ]
)

COMPOSITE_SCHEMA = (
    "tile_x int, tile_y int, year int, "
    "mndwi_bytes binary, stdev_bytes binary, count_bytes binary, "
    "w int, h int, transform string, halo_px int, n_obs int"
)


_PARSED_COLS = ("tile_x", "tile_y", "year", "obs", "transform", "halo_px", "tide_m")


def with_caption(tiles: DataFrame) -> DataFrame:
    """Parse the caption JSON into columns (JVM-side, no Python).
    Idempotent: a frame already carrying ALL parsed columns passes
    through; a frame with only a partial set (e.g. a snapshot-table
    read that materialized tile_x/tile_y/year as partition columns)
    is re-parsed after dropping the partial columns."""
    if all(c in tiles.columns for c in _PARSED_COLS):
        return tiles
    tiles = tiles.drop(*[c for c in _PARSED_COLS if c in tiles.columns])
    return tiles.withColumn("meta", F.from_json("caption", CAPTION_SCHEMA)).select(
        "*",
        F.col("meta.tile_x").alias("tile_x"),
        F.col("meta.tile_y").alias("tile_y"),
        F.col("meta.year").alias("year"),
        F.col("meta.obs").alias("obs"),
        F.col("meta.transform").alias("transform"),
        F.col("meta.halo_px").alias("halo_px"),
        F.col("meta.tide_m").alias("tide_m"),
    ).drop("meta")


def tide_filtered(tiles_meta: DataFrame) -> DataFrame:
    """Keep observations inside the per-tile tide cutoff window.

    Reference: `tide_cutoffs` centre +- 0.25*(max-min) over every year
    the run loads for a tile (coastlines/raster.py:283-289), then subset
    + drop empty timesteps (raster.py:330-337). The cutoffs come from the
    rows passed in: a frame restricted to some years gets the window of
    those years. Row-level tide makes this a pure relational filter — it
    prunes rows BEFORE the expensive decode UDF (the reference's own
    early-pruning optimization, SURVEY.md §4).

    The min/max is a window over (tile_x, tile_y) ordered by year, so
    its hash exchange and (tile_x, tile_y, year) sort are the ones the
    composite grouped map needs: the tiles are read once, shuffled once
    and sorted once. Scale note: observations cross the shuffle before
    the filter, and all years of a tile share a reduce partition, so a
    run with fewer tiles than cores gets fewer grouped-map tasks;
    WindowExec spills a tile's series past its buffer threshold.
    """
    tile = Window.partitionBy("tile_x", "tile_y").orderBy("year").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    lo, hi = F.col("tide_lo"), F.col("tide_hi")
    centre, halfwin = (lo + hi) / 2.0, (hi - lo) * 0.25
    return tiles_meta.withColumns(
        {"tide_lo": F.min("tide_m").over(tile), "tide_hi": F.max("tide_m").over(tile)}
    ).filter(
        (F.col("tide_m") >= centre - halfwin) & (F.col("tide_m") <= centre + halfwin)
    ).drop("tide_lo", "tide_hi")


def _nan_median_std_count(stack: np.ndarray):
    """Pixelwise nan-median / nan-std(ddof=1) / finite-count over the
    time axis in one sort + two sums — ~2x faster than
    np.nanmedian+np.nanstd (which each make masked copies), exact to
    float32 for values in [-1, 1]. Matches raster.py:379-384 semantics."""
    finite = np.isfinite(stack)
    n = finite.sum(axis=0)
    # float64 BEFORE squaring: squaring in float32 loses ~1e-8 relative
    # per element, which the tot2 - tot^2/n cancellation amplifies to
    # ~3e-4 absolute std error (caught by a hypothesis property test);
    # in float64 the error stays below the float32 output rounding.
    s = np.where(finite, stack, 0.0).astype(np.float64)
    tot = s.sum(axis=0)
    tot2 = (s * s).sum(axis=0)
    nf = n.astype(np.float64)
    with np.errstate(all="ignore"):
        var = (tot2 - tot * tot / nf) / (nf - 1)
        std = np.sqrt(np.maximum(var, 0.0)).astype(np.float32)
        std[n < 2] = np.nan
        srt = np.sort(stack, axis=0)  # NaN sorts last
        k = n - 1
        lo = np.take_along_axis(srt, np.maximum(k // 2, 0)[None, ...], axis=0)[0]
        hi = np.take_along_axis(srt, np.maximum((k + 1) // 2, 0)[None, ...], axis=0)[0]
        med = ((lo + hi) * np.float32(0.5)).astype(np.float32)
        med[n == 0] = np.nan
    return med, std, n.astype(np.float32)


def decode_stats(cols) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One observation group's encoded tiles -> (median, std, count)
    rasters: the shared body of every composite kernel. `cols` maps the
    names `bytes`, `fmt`, `h`, `w`, `tile_x`, `tile_y` and `year` to
    equal-length column sequences (an Arrow table's `to_pydict()`). A
    tile that decodes to another shape than its row's (h, w) raises
    `TileDecodeError`: a damaged frame header can decode without error."""
    arrays = []
    for i, (b, f, h, w) in enumerate(zip(cols["bytes"], cols["fmt"], cols["h"], cols["w"])):
        arr = img_codec.decode_tile(bytes(b), f)
        if arr.shape != (h, w):
            raise img_codec.TileDecodeError(
                f"tile ({cols['tile_x'][i]}, {cols['tile_y'][i]}) year {cols['year'][i]}: "
                f"decoded shape {arr.shape}, expected ({h}, {w})"
            )
        arrays.append(arr)
    return _nan_median_std_count(np.stack(arrays))


def apply_rows(grouped: GroupedData, kernel, ddl: str) -> DataFrame:
    """`grouped.applyInArrow` over `kernel`, which maps one group's
    columns (name -> list of values) to its output rows (a list of
    dicts keyed by the column names of `ddl`)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    # parsed here, on the driver: the DDL parser runs in the JVM
    schema = to_arrow_schema(_parse_datatype_string(ddl))

    def run(tbl: pa.Table) -> pa.Table:
        return pa.Table.from_pylist(kernel(tbl.to_pydict()), schema=schema)

    return grouped.applyInArrow(run, ddl)


def _composite_group(cols) -> list[dict]:
    """Grouped-map kernel: one (tile, year) stack -> composite row."""
    med, std, cnt = decode_stats(cols)
    return [
        {
            "tile_x": cols["tile_x"][0],
            "tile_y": cols["tile_y"][0],
            "year": cols["year"][0],
            "mndwi_bytes": tiff.encode_f32(med),
            "stdev_bytes": tiff.encode_f32(std),
            "count_bytes": tiff.encode_f32(cnt),
            "w": cols["w"][0],
            "h": cols["h"][0],
            "transform": json.dumps(cols["transform"][0]),
            "halo_px": cols["halo_px"][0],
            "n_obs": len(cols["bytes"]),
        }
    ]


def observations(tiles: DataFrame, apply_tide_filter: bool = True) -> DataFrame:
    """tiles -> the columns a composite kernel reads, one row per kept
    observation (caption parsed, tide window applied)."""
    meta = with_caption(tiles)
    if apply_tide_filter:
        meta = tide_filtered(meta)
    return meta.select(
        "tile_x", "tile_y", "year", "bytes", "fmt", "w", "h", "transform", "halo_px"
    )


def annual_composites(tiles: DataFrame, apply_tide_filter: bool = True) -> DataFrame:
    """tiles (input_hint schema) -> composites, one row per (tile, year)."""
    return apply_rows(
        observations(tiles, apply_tide_filter).groupBy("tile_x", "tile_y", "year"),
        _composite_group, COMPOSITE_SCHEMA,
    )


def gapfill_composites(tiles: DataFrame, apply_tide_filter: bool = True) -> DataFrame:
    """3-year rolling composites: the reference's gapfill stack
    (export_annual_gapfill, coastlines/raster.py:408-501) re-expressed as
    the shuffle-native form of a rangeBetween(-1, 1) frame — a 3-way
    self-union keyed to (year-1, year, year+1) then one grouped map
    (SURVEY.md §2.5). Each task holds <=3 years of one tile."""
    narrow = observations(tiles, apply_tide_filter)
    # one scan, three shuffle keys per row (vs a 3-way self-union which
    # would read the source three times): explode is JVM-side
    shifted = narrow.withColumn(
        "target_year",
        F.explode(
            F.array(
                (F.col("year") - 1).cast("int"),
                F.col("year").cast("int"),
                (F.col("year") + 1).cast("int"),
            )
        ),
    )
    # keep only target years that exist as real years (reference composites
    # (prev, cur, next) only for produced years)
    years = narrow.select("year").distinct().withColumnRenamed("year", "target_year")
    shifted = shifted.join(F.broadcast(years), "target_year")
    return apply_rows(
        shifted.drop("year")
        .withColumnRenamed("target_year", "year")
        .groupBy("tile_x", "tile_y", "year"),
        _composite_group, COMPOSITE_SCHEMA,
    )
