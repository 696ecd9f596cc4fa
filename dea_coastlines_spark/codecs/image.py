"""Tile image codec dispatch: float water-index raster <-> encoded bytes.

Pixel semantics follow the reference's MNDWI rasters: float32 in
[-1, 1] with NaN nodata (coastlines/raster.py:379-388). Storage formats:

  * ``png``  — 16-bit grayscale PNG; floats quantized to uint16 with a
               reserved nodata code 0. Quantization error <= 1/65534,
               far inside the allclose tolerance / PSNR>=40dB invariant.
  * ``tiff`` — uncompressed float32 TIFF; bit-exact round trip
               (NaN preserved).
  * ``jpeg`` — baseline grayscale JPEG (spec-level pure-numpy codec in
               jpeg.py); floats quantized to uint8 at quality 95
               (PSNR>=40dB invariant), NaN nodata mask carried losslessly
               in an APP7 segment (a lossy stream cannot reserve an
               in-band nodata code — decode smear would misclassify).

All functions operate on single tiles; Spark-side callers batch them
inside Arrow UDFs (the composite kernels' `applyInArrow` grouped maps,
mapInPandas elsewhere) — never per-row Python.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from . import jpeg, png, tiff

_NODATA_CODE = 0  # uint16 code reserved for NaN
_QMAX = 65535
_JPEG_QUALITY = 95  # keeps the >=40dB PSNR invariant on noisy tiles


def quantize(img: np.ndarray) -> np.ndarray:
    """float [-1,1] (NaN allowed) -> uint16, nodata code 0."""
    x = np.clip(img, -1.0, 1.0)
    nan = np.isnan(x)
    scaled = np.round((np.where(nan, 0.0, x) + 1.0) * 0.5 * (_QMAX - 1)) + 1
    return np.where(nan, np.uint16(_NODATA_CODE), scaled.astype(np.uint16)).astype(
        np.uint16
    )


def dequantize(q: np.ndarray) -> np.ndarray:
    x = (q.astype(np.float32) - 1.0) / (_QMAX - 1) * 2.0 - 1.0
    x[q == _NODATA_CODE] = np.nan
    return x.astype(np.float32)


def encode_tile(img: np.ndarray, fmt: str) -> bytes:
    """Encode a float32 water-index tile to bytes in the given format."""
    if fmt == "png":
        return png.encode_gray(quantize(img), bit_depth=16)
    if fmt == "tiff":
        return tiff.encode_f32(img.astype(np.float32))
    if fmt == "jpeg":
        x = np.clip(img, -1.0, 1.0)
        nan = np.isnan(x)
        # NaN filled with the finite mean before the DCT (minimizes
        # ringing at nodata edges); true positions ride in APP7
        fill = float(x[~nan].mean()) if (~nan).any() else 0.0
        q8 = np.round((np.where(nan, fill, x) + 1.0) * 127.5).astype(np.uint8)
        buf = jpeg.encode_gray(q8, quality=_JPEG_QUALITY)
        if nan.any():
            buf = jpeg.add_app_segment(buf, 7, jpeg.nan_mask_payload(nan))
        return buf
    raise ValueError(f"unknown tile format {fmt!r}")


class TileDecodeError(ValueError):
    """Tile bytes the codec of their format cannot decode."""


# what the codecs raise on truncated, bit-flipped or garbage bytes:
# their own ValueErrors, short struct/zlib reads, header fields that
# index past the buffer or name a missing table or tag
_DAMAGE = (
    ValueError, KeyError, IndexError, OverflowError, struct.error, zlib.error,
)


def decode_tile(buf: bytes, fmt: str) -> np.ndarray:
    """Decode tile bytes to a float32 (h, w) water-index array (NaN nodata).

    Malformed bytes raise `TileDecodeError`, chained from the codec's
    own error. The shape comes from the bytes' header: a damaged header
    can still decode to the wrong (h, w), so callers that know the
    tile's size compare it (operators/integrity.py and
    operators/composite.decode_stats do)."""
    if fmt not in ("png", "tiff", "jpeg"):
        raise ValueError(f"unknown tile format {fmt!r}")
    try:
        if fmt == "png":
            return dequantize(png.decode_gray(buf))
        if fmt == "tiff":
            return tiff.decode_f32(buf)
        x = (jpeg.decode_gray(buf).astype(np.float32) / 127.5 - 1.0).astype(
            np.float32
        )
        payload = jpeg.get_app_segment(buf, 7, b"DCSNAN1")
        if payload is not None:
            x[jpeg.nan_mask_unpack(payload)] = np.nan
        return x
    except _DAMAGE as e:
        raise TileDecodeError(f"malformed {fmt} tile: {e}") from e


def psnr(a: np.ndarray, b: np.ndarray, peak: float = 2.0) -> float:
    """PSNR in dB between two float tiles (peak = value range, 2.0 for [-1,1]).

    NaNs must match positionally; they are excluded from MSE. Returns inf
    for bit-identical inputs. Gate: >=40 dB for lossy formats
    (BASELINE.json input_hint).
    """
    ma, mb = np.isnan(a), np.isnan(b)
    if not np.array_equal(ma, mb):
        return float("-inf")
    va, vb = a[~ma], b[~mb]
    if va.size == 0:
        return float("inf")
    mse = float(np.mean((va - vb) ** 2))
    if mse == 0.0:
        return float("inf")
    return float(10.0 * np.log10(peak * peak / mse))


def phash64(img: np.ndarray) -> int:
    """64-bit perceptual hash: 8x8 block-mean downsample, median threshold.

    Deterministic integrity check for the tiles table `phash` column
    (successor of the reference's implicit file-integrity-by-path).
    NaNs are treated as the image mean so nodata doesn't flip bits.
    """
    x = img.astype(np.float64)
    finite = np.isfinite(x)
    fill = float(x[finite].mean()) if finite.any() else 0.0
    x = np.where(finite, x, fill)
    h, w = x.shape
    # pad to a multiple of 8 then block-mean to 8x8
    ph, pw = (-h) % 8, (-w) % 8
    if ph or pw:
        x = np.pad(x, ((0, ph), (0, pw)), mode="edge")
    H, W = x.shape
    blocks = x.reshape(8, H // 8, 8, W // 8).mean(axis=(1, 3))
    bits = (blocks > np.median(blocks)).ravel()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    # fold into signed int64 range for the BIGINT column
    return val - (1 << 64) if val >= (1 << 63) else val
