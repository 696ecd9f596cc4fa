"""Codec round-trip + per-row invariant kernels (PSNR, phash).

Reference parity target: decoded-pixel allclose, PSNR>=40dB for lossy
formats, caption equality (BASELINE.json input_hint).
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dea_coastlines_spark.codecs import image, png, tiff


def _tile(seed=0, h=64, w=64, nan_frac=0.1):
    rng = np.random.default_rng(seed)
    x = rng.uniform(-1, 1, size=(h, w)).astype(np.float32)
    mask = rng.random((h, w)) < nan_frac
    x[mask] = np.nan
    return x


def test_png_uint16_roundtrip():
    rng = np.random.default_rng(1)
    img = rng.integers(0, 65536, size=(37, 53), dtype=np.uint16)
    assert np.array_equal(png.decode_gray(png.encode_gray(img, 16)), img)


def test_png_uint8_roundtrip():
    rng = np.random.default_rng(2)
    img = rng.integers(0, 256, size=(16, 24), dtype=np.uint8)
    assert np.array_equal(png.decode_gray(png.encode_gray(img, 8)), img)


def test_png_filter_decode():
    # exercise the None/Up fast path with a hand-built stream
    import struct
    import zlib

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    raw = img.copy()
    scan = []
    # row0: filter 0; row1+: filter 2 (Up)
    scan.append(b"\x00" + raw[0].tobytes())
    for r in range(1, 8):
        delta = (raw[r].astype(np.int16) - raw[r - 1].astype(np.int16)) & 0xFF
        scan.append(b"\x02" + delta.astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 0)
    buf = (
        b"\x89PNG\r\n\x1a\n"
        + png._chunk(b"IHDR", ihdr)
        + png._chunk(b"IDAT", zlib.compress(b"".join(scan)))
        + png._chunk(b"IEND", b"")
    )
    assert np.array_equal(png.decode_gray(buf), img)


def _reference_filtered_png(img, ftypes):
    """A PNG of `img` whose row r carries scanline filter ftypes[r],
    filtered by a plain-Python transcription of the PNG spec."""
    import struct
    import zlib

    bits = 16 if img.dtype == np.uint16 else 8
    bpp = bits // 8
    raw = img.astype(">u2" if bits == 16 else np.uint8).tobytes()
    stride = img.shape[1] * bpp
    rows, prev = [], [0] * stride
    for r, ftype in enumerate(ftypes):
        cur = list(raw[r * stride:(r + 1) * stride])
        line = [ftype]
        for i, x in enumerate(cur):
            a = cur[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            line.append((x - pred) % 256)
        rows.append(bytes(line))
        prev = cur
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, bits, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + png._chunk(b"IHDR", ihdr)
        + png._chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + png._chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4, "mixed"])
@pytest.mark.parametrize("bits", [8, 16])
def test_png_unfilter_matches_reference_encoder(bits, ftype):
    dtype = np.uint16 if bits == 16 else np.uint8
    rng = np.random.default_rng(bits)
    img = rng.integers(0, np.iinfo(dtype).max + 1, size=(11, 13)).astype(dtype)
    # small values make Paeth ties (|a - c| == |a + b - 2c| with b != c),
    # where the spec's tie order decides the predictor
    img[4:] = rng.integers(0, 4, size=(7, 13))
    ftypes = [r % 5 for r in range(11)] if ftype == "mixed" else [ftype] * 11
    assert np.array_equal(png.decode_gray(_reference_filtered_png(img, ftypes)), img)


def test_tiff_f32_roundtrip_bitexact():
    x = _tile(3)
    out = tiff.decode_f32(tiff.encode_f32(x))
    assert out.dtype == np.float32
    assert np.array_equal(np.isnan(out), np.isnan(x))
    assert np.array_equal(out[~np.isnan(out)], x[~np.isnan(x)])


@pytest.mark.parametrize("fmt", ["png", "tiff"])
def test_tile_roundtrip_invariant(fmt):
    x = _tile(4)
    y = image.decode_tile(image.encode_tile(x, fmt), fmt)
    assert np.array_equal(np.isnan(x), np.isnan(y))
    assert np.allclose(x[~np.isnan(x)], y[~np.isnan(y)], atol=2e-4)
    assert image.psnr(x, y) >= 40.0


def test_jpeg_uint8_roundtrip_psnr():
    # smooth content + mild noise, like an MNDWI tile
    from dea_coastlines_spark.codecs import jpeg

    rng = np.random.default_rng(11)
    y, x = np.mgrid[0:96, 0:96]
    img = np.clip(
        np.round(127.5 + 80 * np.sin(x / 30.0) + 30 * np.cos(y / 17.0)
                 + rng.normal(0, 3, (96, 96))),
        0, 255,
    ).astype(np.uint8)
    dec = jpeg.decode_gray(jpeg.encode_gray(img, quality=95))
    assert dec.shape == img.shape and dec.dtype == np.uint8
    mse = float(np.mean((dec.astype(float) - img.astype(float)) ** 2))
    assert 10 * np.log10(255**2 / mse) >= 40.0


def test_jpeg_odd_sizes_roundtrip():
    from dea_coastlines_spark.codecs import jpeg

    rng = np.random.default_rng(12)
    for shape in [(1, 1), (7, 13), (33, 64), (96, 100)]:
        img = rng.integers(0, 256, shape).astype(np.uint8)
        assert jpeg.decode_gray(jpeg.encode_gray(img, 95)).shape == shape


def test_jpeg_tile_nan_mask_exact_and_psnr_gate():
    # the lossy-format invariant from BASELINE.json input_hint:
    # NaN nodata positions round-trip EXACTLY (APP7 sidecar), values
    # within PSNR>=40dB
    x = _tile(5)
    y = image.decode_tile(image.encode_tile(x, "jpeg"), "jpeg")
    assert np.array_equal(np.isnan(x), np.isnan(y))
    assert image.psnr(x, y) >= 40.0


def test_jpeg_dequantized_content_psnr():
    # corpus-shaped content (smooth ramp + noise), not raw white noise
    rng = np.random.default_rng(13)
    yy, xx = np.mgrid[0:108, 0:108]
    x = np.tanh((yy - 50 + 8 * np.sin(xx / 20.0)) / 6.0).astype(np.float32)
    x += rng.normal(0, 0.04, x.shape).astype(np.float32)
    x = np.clip(x, -1, 1)
    x[rng.random(x.shape) < 0.15] = np.nan
    y = image.decode_tile(image.encode_tile(x, "jpeg"), "jpeg")
    assert np.array_equal(np.isnan(x), np.isnan(y))
    assert image.psnr(x, y) >= 40.0


def test_mixed_corpus_formats_decode():
    from dea_coastlines_spark.synth import corpus

    spec = corpus.CorpusSpec(tile_px=32, halo_px=2, tiles_x=2, tiles_y=1,
                             year0=2000, year1=2001, obs_per_year=3,
                             cloud_frac=0.1, seed=6, fmt="mixed")
    pdf = corpus.generate_pandas(spec)
    assert set(pdf["fmt"]) == {"png", "jpeg", "tiff"}
    for _, r in pdf.iterrows():
        arr = image.decode_tile(bytes(r["bytes"]), r["fmt"])
        assert arr.shape == (36, 36)
        assert np.isfinite(arr[~np.isnan(arr)]).all()


_GOOD = {f: image.encode_tile(_tile(7, 16, 16), f) for f in ("png", "tiff", "jpeg")}


@st.composite
def _damaged(draw):
    fmt = draw(st.sampled_from(sorted(_GOOD)))
    buf = _GOOD[fmt]
    kind = draw(st.sampled_from(["truncate", "flip", "random"]))
    if kind == "truncate":
        return fmt, buf[: draw(st.integers(0, len(buf) - 1))]
    if kind == "flip":
        out = bytearray(buf)
        for pos in draw(st.lists(st.integers(0, 8 * len(buf) - 1),
                                 min_size=1, max_size=4)):
            out[pos // 8] ^= 1 << (pos % 8)
        return fmt, bytes(out)
    # random bytes behind a good tile's first 8 bytes (PNG signature,
    # TIFF header, JPEG SOI + first marker), so the header parser runs
    return fmt, buf[:8] + draw(st.binary(max_size=2 * len(buf)))


@given(_damaged())
@settings(max_examples=600, deadline=None)
def test_decode_damaged_tile_returns_2d_or_raises_typed_error(case):
    fmt, buf = case
    try:
        out = image.decode_tile(buf, fmt)
    except image.TileDecodeError as e:
        assert e.__cause__ is not None
    else:
        assert out.ndim == 2 and out.dtype == np.float32


def test_decode_error_cause_frame_size_and_unknown_format():
    import zlib

    with pytest.raises(image.TileDecodeError) as ei:
        image.decode_tile(_GOOD["png"][:60], "png")
    assert isinstance(ei.value.__cause__, zlib.error)
    # a JPEG frame header claiming 65535 x 65535 pixels fails before
    # its coefficient array is allocated
    buf = bytearray(_GOOD["jpeg"])
    sof = buf.index(b"\xff\xc0")
    buf[sof + 5 : sof + 9] = b"\xff\xff\xff\xff"
    with pytest.raises(image.TileDecodeError, match="too short"):
        image.decode_tile(bytes(buf), "jpeg")
    with pytest.raises(ValueError) as ei:
        image.decode_tile(_GOOD["png"], "webp")
    assert not isinstance(ei.value, image.TileDecodeError)


@pytest.mark.parametrize("n_good", [0, 1])
def test_composite_rejects_tile_decoded_to_wrong_shape(n_good):
    """A JPEG tile without NaNs whose frame header says 8 rows instead
    of 32 decodes cleanly to (8, 32); the composite kernel compares
    each decoded tile with its row's (h, w) and names the tile, alone
    in its group or next to a good tile."""
    import pandas as pd

    from dea_coastlines_spark.operators.composite import decode_stats

    good = image.encode_tile(_tile(8, 32, 32, nan_frac=0.0), "jpeg")
    bad = bytearray(good)
    sof = bad.index(b"\xff\xc0")
    bad[sof + 5 : sof + 7] = (8).to_bytes(2, "big")  # SOF0 height
    assert image.decode_tile(bytes(bad), "jpeg").shape == (8, 32)
    n = n_good + 1
    grp = pd.DataFrame({
        "tile_x": [3] * n, "tile_y": [4] * n, "year": [2001] * n,
        "bytes": [good] * n_good + [bytes(bad)], "fmt": ["jpeg"] * n,
        "h": [32] * n, "w": [32] * n,
    })
    with pytest.raises(image.TileDecodeError) as ei:
        decode_stats(grp)
    assert str(ei.value) == (
        "tile (3, 4) year 2001: decoded shape (8, 32), expected (32, 32)"
    )
    med, _, cnt = decode_stats(grp.assign(bytes=[good] * n))
    assert med.shape == (32, 32) and cnt.max() == n


def test_psnr_mismatched_nan_mask_fails():
    x = _tile(6)
    y = x.copy()
    y[0, 0] = np.nan if not np.isnan(y[0, 0]) else 0.0
    assert image.psnr(x, y) == float("-inf")


def test_phash_deterministic_and_discriminative():
    a, b = _tile(7, nan_frac=0), _tile(8, nan_frac=0)
    assert image.phash64(a) == image.phash64(a.copy())
    assert image.phash64(a) != image.phash64(b)
    # fits BIGINT
    assert -(1 << 63) <= image.phash64(a) < (1 << 63)


def test_phash_stable_under_quantization():
    a = _tile(9, nan_frac=0)
    q = image.dequantize(image.quantize(a))
    assert image.phash64(a) == image.phash64(q)
