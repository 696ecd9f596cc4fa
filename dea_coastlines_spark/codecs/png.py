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
    out = np.zeros((h, stride), dtype=np.uint8)
    for r in range(h):
        ftype = scan[r, 0]
        line = scan[r, 1:].astype(np.int32)
        prev = out[r - 1].astype(np.int32) if r > 0 else np.zeros(stride, np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need left-to-right scan
            cur = np.zeros(stride, np.int32)
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                if ftype == 1:
                    cur[i] = (line[i] + a) & 0xFF
                elif ftype == 3:
                    cur[i] = (line[i] + ((a + b) >> 1)) & 0xFF
                else:
                    c = prev[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"unsupported PNG filter {ftype}")
        out[r] = cur.astype(np.uint8)
    return out


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
