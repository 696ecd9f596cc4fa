"""Pure-numpy/zlib PNG codec for 16-bit grayscale tiles.

The reference reads/writes rasters through rasterio (GeoTIFF COGs,
coastlines/raster.py:394-400, coastlines/vector.py:132). This engine
stores tile pixels as encoded image `bytes` inside the tiles table
(BASELINE.json input_hint) and decodes them inside Arrow UDF batches;
no imaging library is assumed, so the codec is implemented from the
PNG spec directly (deflate scanlines + per-row filter byte).

Supports: 8/16-bit grayscale (color type 0), filters 0-4 on decode,
filter 0 (None) + optional filter 2 (Up) on encode. Big-endian sample
order per spec.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_gray(img: np.ndarray, bit_depth: int = 16, level: int = 6) -> bytes:
    """Encode a 2-D uint8/uint16 array as a grayscale PNG."""
    if img.ndim != 2:
        raise ValueError(f"expected 2-D array, got shape {img.shape}")
    if bit_depth == 16:
        data = np.ascontiguousarray(img.astype(">u2"))
    elif bit_depth == 8:
        data = np.ascontiguousarray(img.astype(np.uint8))
    else:
        raise ValueError(f"bit_depth must be 8 or 16, got {bit_depth}")
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, 0, 0, 0, 0)
    raw = data.view(np.uint8).reshape(h, -1)
    # filter byte 0 (None) per scanline
    scan = np.empty((h, raw.shape[1] + 1), dtype=np.uint8)
    scan[:, 0] = 0
    scan[:, 1:] = raw
    idat = zlib.compress(scan.tobytes(), level)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _unfilter(scan: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filters. scan is (h, 1+stride) uint8."""
    ftypes = scan[:, 0]
    # fast paths for what our own encoder emits (filters 0 / 2) — the
    # hot decode path must stay vectorized, no per-scanline Python
    if not ftypes.any():  # all None
        return scan[:, 1:].copy()
    if np.isin(ftypes, (0, 2)).all():  # None/Up only: Up chains are
        # prefix sums (mod 256) reset at each filter-0 row
        raw = scan[:, 1:].astype(np.int64)
        seg = np.cumsum(ftypes == 0)
        out = np.zeros_like(raw)
        for s in np.unique(seg):
            rows = seg == s
            out[rows] = np.cumsum(raw[rows], axis=0)
        return (out & 0xFF).astype(np.uint8)
    # general path, row by row: Sub is a per-byte-lane prefix sum
    # (mod 256); Average and Paeth depend on the byte just decoded, so
    # they loop over plain Python ints (a bytearray), far cheaper per
    # byte than numpy scalar indexing
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, np.uint8)  # the row above the first
    for r in range(h):
        ftype = scan[r, 0]
        line = scan[r, 1:]
        if ftype == 0:
            out[r] = line
        elif ftype == 1:  # Sub
            lanes = line.reshape(-1, bpp).astype(np.int64)
            out[r] = (np.cumsum(lanes, axis=0) & 0xFF).reshape(stride)
        elif ftype == 2:  # Up (uint8 addition wraps mod 256)
            out[r] = line + prev
        elif ftype in (3, 4):
            out[r] = np.frombuffer(
                _unfilter_row(ftype, bytearray(line.tobytes()), prev.tobytes(), bpp),
                np.uint8,
            )
        else:
            raise ValueError(f"unsupported PNG filter {ftype}")
        prev = out[r]
    return out


def _unfilter_row(ftype: int, cur: bytearray, prev: bytes, bpp: int) -> bytearray:
    """Undo Average (3) or Paeth (4) on one scanline, in place."""
    for i in range(bpp):  # no left neighbour: a = c = 0
        cur[i] = (cur[i] + (prev[i] >> 1 if ftype == 3 else prev[i])) & 0xFF
    if ftype == 3:
        for i in range(bpp, len(cur)):
            cur[i] = (cur[i] + ((cur[i - bpp] + prev[i]) >> 1)) & 0xFF
        return cur
    for i in range(bpp, len(cur)):
        a, b, c = cur[i - bpp], prev[i], prev[i - bpp]
        pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - c - c)
        pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
        cur[i] = (cur[i] + pred) & 0xFF
    return cur


def decode_gray(buf: bytes) -> np.ndarray:
    """Decode a grayscale PNG to a 2-D uint8/uint16 array."""
    if buf[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = bit_depth = None
    idat = []
    while pos < len(buf):
        (length,) = struct.unpack(">I", buf[pos : pos + 4])
        tag = buf[pos + 4 : pos + 8]
        payload = buf[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if color_type != 0 or interlace != 0:
                raise ValueError("only non-interlaced grayscale PNGs supported")
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
    if bit_depth is None:
        raise ValueError("PNG has no IHDR chunk")
    raw = zlib.decompress(b"".join(idat))
    bpp = max(1, bit_depth // 8)
    stride = w * bpp
    scan = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    flat = _unfilter(scan, h, stride, bpp)
    if bit_depth == 16:
        return flat.reshape(h, w, 2).view(">u2").reshape(h, w).astype(np.uint16)
    return flat.reshape(h, w)
