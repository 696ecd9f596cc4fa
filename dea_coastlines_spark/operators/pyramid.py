"""Overview pyramid builder: level-0 composite mosaics downsampled into
power-of-two overview levels (GDAL overviews / COG levels / web-map
tile pyramids — the reference's continental mosaics are served exactly
this way; cf. dea-coastlines' raster outputs consumed by DEA Maps).

Each level-k tile assembles its four level-(k-1) children (2x2 in tile
grid space) and 2x-downsamples by 2x2 block mean.  The whole pyramid
costs a geometric series (1/4 per level, total <= 4/3 of level 0), and
each level is ONE shuffle: children map to (parent_x, parent_y,
quadrant) keys, a grouped Arrow kernel assembles + downsamples.
Missing children become NaN quadrants (mosaic edges), and NaN
propagates through block means (any cloudy input pixel poisons its
parent pixel — the conservative rule, matching the masking stack).

Hash-verification: pixel payloads are fingerprinted with a
position-mixed splitmix64 XOR over fixed-point-quantized values
(shared low-level helper, the
same precedent as the shoreline oracles sharing the median kernel);
the driver oracle replays composites + pyramid single-threaded over
one big dict, so the DISTRIBUTED part — the quadrant shuffle, the
grouped assembly, level chaining through localCheckpoint — is what the
hash actually checks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..codecs import tiff
from ..synth.corpus import _splitmix

_Q = 10**4  # fixed-point quantization for fingerprinting
_NAN_SENTINEL = np.int64(-(1 << 40))

PYRAMID_SCHEMA = (
    "year int, level int, x int, y int, w int, h int, "
    "n_valid long, mean_q long, px_hash long"
)


def quantize_px(px: np.ndarray) -> np.ndarray:
    """float pixels -> int64 grid: floor(v * 1e4 + 0.5), NaN -> sentinel.
    float32 inputs are widened first so the grid math is exact."""
    v = px.astype(np.float64)
    finite = np.isfinite(v)
    q = np.where(finite, np.floor(v * _Q + 0.5), float(_NAN_SENTINEL))
    return q.astype(np.int64)


def px_fingerprint(q: np.ndarray) -> int:
    """Position-mixed XOR fingerprint of the quantized grid:
    xor over i of splitmix64(q_i ^ splitmix64(i)).  XOR makes the
    reduction order-free (fully vectorizable — a sequential FNV fold
    over ~70k bytes per tile would cost ~50 ms of scalar Python), while
    the per-position mix keeps it sensitive to pixel PLACEMENT, not
    just the multiset of values.  Shifted into signed-int64 range."""
    flat = np.ascontiguousarray(q.reshape(-1)).view(np.uint64)
    with np.errstate(over="ignore"):
        pos = _splitmix(np.arange(flat.size, dtype=np.uint64))
        mixed = _splitmix(flat ^ pos)
    h = np.bitwise_xor.reduce(mixed) if flat.size else np.uint64(0)
    return int(h >> np.uint64(1))


def downsample_block_mean(px: np.ndarray) -> np.ndarray:
    """2x block mean in a FIXED summation order (tl + tr + bl + br) / 4
    so the sequential oracle reproduces every float bit.  NaN in any
    block member -> NaN parent pixel."""
    a = px[0::2, 0::2]
    b = px[0::2, 1::2]
    c = px[1::2, 0::2]
    d = px[1::2, 1::2]
    return (((a + b) + c) + d) / np.float64(4.0)


def assemble_parent(children: dict[tuple[int, int], np.ndarray], size: int) -> np.ndarray:
    """Place up to 4 child arrays (keyed by (qx, qy) quadrant, qy=0 is
    the TOP row, matching raster row order) into a 2size x 2size canvas
    of NaN, then block-mean down to size x size."""
    canvas = np.full((2 * size, 2 * size), np.nan, np.float64)
    for (qx, qy), arr in children.items():
        canvas[qy * size : (qy + 1) * size, qx * size : (qx + 1) * size] = arr
    return downsample_block_mean(canvas)


def _tile_row(year: int, level: int, x: int, y: int, px: np.ndarray) -> dict:
    q = quantize_px(px)
    finite = q != _NAN_SENTINEL
    n_valid = int(finite.sum())
    mean_q = int(q[finite].sum() // n_valid) if n_valid else 0
    return {
        "year": int(year), "level": int(level), "x": int(x), "y": int(y),
        "w": int(px.shape[1]), "h": int(px.shape[0]),
        "n_valid": n_valid, "mean_q": mean_q, "px_hash": px_fingerprint(q),
    }


def build_pyramid(
    composites: DataFrame, levels: int = 2, value: str = "mndwi_bytes"
) -> DataFrame:
    """Composites (COMPOSITE_SCHEMA rows) -> overview summary rows for
    levels 0..levels.  Level 0 re-emits the (halo-cropped) mosaics'
    fingerprints; each further level is one quadrant shuffle + grouped
    Arrow kernel.  Tile grid y follows tile_y (counts up from the
    bottom), so the NORTH-west child of parent (X, Y) is
    (2X, 2Y+1) — quadrant qy = 1 - (tile_y & 1)."""
    spark = composites.sparkSession

    def level0_kernel(batches):
        for pdf in batches:
            rows = []
            px_out = []
            for i in range(len(pdf)):
                halo = int(pdf["halo_px"].iloc[i])
                px = tiff.decode_f32(bytes(pdf[value].iloc[i])).astype(np.float64)
                if halo:
                    px = px[halo:-halo, halo:-halo]
                rows.append(
                    _tile_row(
                        pdf["year"].iloc[i], 0,
                        pdf["tile_x"].iloc[i], pdf["tile_y"].iloc[i], px,
                    )
                )
                px_out.append(tiff.encode_f32(px.astype(np.float32)))
            out = pd.DataFrame(rows)
            out["px"] = px_out
            yield out

    cur = composites.select(
        "tile_x", "tile_y", "year", value, "halo_px"
    ).mapInPandas(level0_kernel, PYRAMID_SCHEMA + ", px binary")
    # lazy: each level still materializes once (the checkpoint caches
    # on first compute, reused by the union branch and the next level)
    # but as stages of the single action-time job, not one synchronous
    # build-time job per level
    cur = cur.localCheckpoint(eager=False)
    out = [cur.drop("px")]

    def up_kernel(key, pdf):
        year, px_, py_ = int(key[0]), int(key[1]), int(key[2])
        size = int(pdf["w"].iloc[0])
        children = {
            (int(r["qx"]), int(r["qy"])): tiff.decode_f32(bytes(r["px"])).astype(
                np.float64
            )
            for _, r in pdf.iterrows()
        }
        parent = assemble_parent(children, size)
        row = _tile_row(year, int(pdf["level"].iloc[0]) + 1, px_, py_, parent)
        rowdf = pd.DataFrame([row])
        rowdf["px"] = [tiff.encode_f32(parent.astype(np.float32))]
        return rowdf

    from pyspark.sql import functions as F

    for _ in range(levels):
        # floor-div + pmod, NOT truncating int-cast + sign-following %:
        # a negative tile coordinate (west/south of the grid origin)
        # must key to floor(x/2) with quadrant in {0,1} — the same
        # arithmetic the sequential oracle's Python // and % use
        keyed = cur.select(
            "*",
            F.floor(F.col("x") / 2).cast("int").alias("px_"),
            F.floor(F.col("y") / 2).cast("int").alias("py_"),
            F.pmod(F.col("x"), F.lit(2)).alias("qx"),
            (F.lit(1) - F.pmod(F.col("y"), F.lit(2))).alias("qy"),
        )
        cur = (
            keyed.groupBy("year", "px_", "py_")
            .applyInPandas(up_kernel, PYRAMID_SCHEMA + ", px binary")
            .localCheckpoint(eager=False)
        )
        out.append(cur.drop("px"))
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res
