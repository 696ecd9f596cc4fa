"""Pure-numpy baseline JPEG codec (grayscale, 8-bit, sequential DCT).

The reference reads imagery through rasterio/GDAL which decodes any
format transparently (coastlines/raster.py:394-400, vector.py:132).
This engine's tiles table carries a `fmt` column ("png/jpeg/tiff",
BASELINE.json input_hint); png and tiff are implemented in sibling
modules, and this module closes the lossy leg from the JPEG spec
(ITU-T T.81) directly — no imaging library exists in this environment.

Scope: baseline sequential DCT, single grayscale component, no
subsampling, standard Annex-K luminance Huffman tables (embedded in
DHT, so any spec-compliant decoder can read the output), libjpeg-style
quality scaling of the Annex-K quantization table. Encode vectorizes
the FDCT/quantize/zigzag across all blocks (one einsum); only the
entropy coding walks blocks in Python — bounded by tile size, and
Spark-side callers batch whole Arrow record batches per task.

APPn helpers let callers splice custom metadata segments (the float
tile wrapper in image.py stores the NaN nodata mask in APP7, since a
lossy codec cannot round-trip a reserved in-band nodata code).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------- tables

# Annex K.1 luminance quantization table (quality 50 base), row-major.
_Q_BASE = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int64,
)

# Annex K.3.1: DC luminance Huffman spec (BITS counts per code length
# 1..16, then symbol values in code order).
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))

# Annex K.3.2: AC luminance Huffman spec.
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _zigzag_order() -> np.ndarray:
    """Flat (64,) index into a row-major 8x8 block, in zigzag order —
    generated from the diagonal-walk rule rather than typed by hand."""
    out = []
    for s in range(15):
        rows = range(max(0, s - 7), min(s, 7) + 1)
        if s % 2 == 0:
            rows = reversed(rows)  # even diagonals run bottom-left -> top-right
        out.extend(r * 8 + (s - r) for r in rows)
    return np.array(out, dtype=np.int64)


_ZIGZAG = _zigzag_order()

# Orthonormal DCT-II matrix scaled to the JPEG FDCT definition
# (T.81 A.3.3): F = C @ (s - 128) @ C.T, inverse s = C.T @ F @ C + 128.
_N = np.arange(8.0)
_C = 0.5 * np.cos((2.0 * _N[None, :] + 1.0) * _N[:, None] * np.pi / 16.0)
_C[0, :] *= 1.0 / np.sqrt(2.0)


def quant_table(quality: int) -> np.ndarray:
    """libjpeg quality scaling of the Annex-K luminance table."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    tbl = (_Q_BASE * scale + 50) // 100
    return np.clip(tbl, 1, 255).astype(np.int64)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Annex C canonical Huffman: symbol -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_ENC = _canonical_codes(_DC_BITS, _DC_VALS)
_AC_ENC = _canonical_codes(_AC_BITS, _AC_VALS)


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, for the bit-walking decoder."""
    return {(l, c): s for s, (c, l) in _canonical_codes(bits, vals).items()}


# ------------------------------------------------------------- bit writer


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing (T.81 B.1.1.5)
                self.buf.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.buf)


def _category(v: int) -> int:
    """Magnitude category (number of amplitude bits) of a DC diff / AC coeff."""
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


# ---------------------------------------------------------------- encode


def encode_gray(img: np.ndarray, quality: int = 90) -> bytes:
    """Encode a 2-D uint8 array as a baseline grayscale JFIF JPEG."""
    if img.ndim != 2:
        raise ValueError(f"expected 2-D array, got shape {img.shape}")
    h, w = img.shape
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if h > 65535 or w > 65535:
        raise ValueError("JPEG dimensions exceed the 16-bit SOF field")
    qtbl = quant_table(quality)
    # pad to block multiples with edge replication (minimizes ringing)
    ph, pw = (-h) % 8, (-w) % 8
    x = np.pad(img.astype(np.float64), ((0, ph), (0, pw)), mode="edge") - 128.0
    bh, bw = x.shape[0] // 8, x.shape[1] // 8
    blocks = x.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    coeffs = np.einsum("ux,nxy,vy->nuv", _C, blocks, _C)
    # JPEG quantization rounds to nearest
    q = np.round(coeffs / qtbl[None, :, :]).astype(np.int64)
    zz = q.reshape(-1, 64)[:, _ZIGZAG]

    wtr = _BitWriter()
    prev_dc = 0
    for n in range(zz.shape[0]):
        row = zz[n]
        diff = int(row[0]) - prev_dc
        prev_dc = int(row[0])
        size = _category(diff)
        code, length = _DC_ENC[size]
        wtr.put(code, length)
        if size:
            amp = diff if diff > 0 else diff + (1 << size) - 1
            wtr.put(amp, size)
        # AC: run-length of zeros + (run,size) symbols
        nz = np.nonzero(row[1:])[0]
        pos = 0
        for idx in nz:
            run = int(idx) - pos
            pos = int(idx) + 1
            while run > 15:
                zc, zl = _AC_ENC[0xF0]  # ZRL
                wtr.put(zc, zl)
                run -= 16
            v = int(row[1 + idx])
            size = _category(v)
            code, length = _AC_ENC[(run << 4) | size]
            wtr.put(code, length)
            amp = v if v > 0 else v + (1 << size) - 1
            wtr.put(amp, size)
        if pos < 63:
            ec, el = _AC_ENC[0x00]  # EOB
            wtr.put(ec, el)
    entropy = wtr.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, bytes([0x00]) + bytes(int(v) for v in qtbl.ravel()[_ZIGZAG]))
    out += seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    out += seg(
        0xFFC4,
        bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
        + bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS),
    )
    out += seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------- decode


class _BitReader:
    __slots__ = ("bits", "pos")

    def __init__(self, data: bytes) -> None:
        self.bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
        self.pos = 0

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        b = self.bits[self.pos : self.pos + n]
        if b.size < n:
            raise ValueError("truncated entropy-coded data")
        self.pos += n
        v = 0
        for bit in b:
            v = (v << 1) | int(bit)
        return v

    def read_symbol(self, table: dict[tuple[int, int], int]) -> int:
        if self.pos + 16 > self.bits.size:
            # pad with the spec's 1-bit fill so a symbol ending exactly
            # at the buffer edge still decodes
            self.bits = np.concatenate([self.bits, np.ones(16, np.uint8)])
        code = 0
        for length in range(1, 17):
            code = (code << 1) | int(self.bits[self.pos + length - 1])
            sym = table.get((length, code))
            if sym is not None:
                self.pos += length
                return sym
        raise ValueError("invalid Huffman code in entropy-coded data")


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map `size` amplitude bits to a signed value."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_gray(buf: bytes) -> np.ndarray:
    """Decode a baseline grayscale JPEG produced by any spec-compliant
    encoder (single component, no restart markers) to a uint8 array."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict[tuple[int, int], int]] = {}
    ac_tabs: dict[int, dict[tuple[int, int], int]] = {}
    dc_sel = ac_sel = 0
    h = w = 0
    comp_q = 0
    while pos < len(buf):
        if buf[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = buf[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            raise ValueError("reached EOI before SOS")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers
        (seglen,) = struct.unpack(">H", buf[pos : pos + 2])
        payload = buf[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                p += 1
                if pq == 0:
                    tbl = np.frombuffer(payload[p : p + 64], dtype=np.uint8).astype(
                        np.int64
                    )
                    p += 64
                else:
                    tbl = (
                        np.frombuffer(payload[p : p + 128], dtype=">u2")
                        .astype(np.int64)
                    )
                    p += 128
                dezz = np.empty(64, np.int64)
                dezz[_ZIGZAG] = tbl
                qtables[tq] = dezz.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                bits = list(payload[p + 1 : p + 17])
                nval = sum(bits)
                vals = list(payload[p + 17 : p + 17 + nval])
                p += 17 + nval
                # tables are stored by id; the SOS header selects which
                # id the (single) component uses
                if tc == 0:
                    dc_tabs[th] = _decode_table(bits, vals)
                else:
                    ac_tabs[th] = _decode_table(bits, vals)
        elif marker == 0xC0:  # SOF0 baseline
            _prec, h, w, ncomp = struct.unpack(">BHHB", payload[:6])
            if ncomp != 1:
                raise ValueError("only single-component (grayscale) JPEG supported")
            comp_q = payload[8]
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("only baseline sequential DCT (SOF0) supported")
        elif marker == 0xDD:  # DRI
            (interval,) = struct.unpack(">H", payload[:2])
            if interval != 0:
                raise ValueError("restart markers not supported")
        elif marker == 0xDA:  # SOS: component table selection, then data
            ns = payload[0]
            if ns != 1:
                raise ValueError("only single-component scans supported")
            dc_sel, ac_sel = payload[2] >> 4, payload[2] & 0x0F
            pos += seglen
            break
        pos += seglen
    else:
        raise ValueError("no SOS marker found")
    if h == 0 or w == 0:
        raise ValueError("SOS before SOF0")
    dc_tab = dc_tabs[dc_sel]
    ac_tab = ac_tabs[ac_sel]

    # destuff and stop at the next marker (FF followed by non-00)
    raw = buf[pos:]
    data = bytearray()
    i = 0
    while i < len(raw):
        b = raw[i]
        if b == 0xFF:
            nxt = raw[i + 1] if i + 1 < len(raw) else 0xD9
            if nxt == 0x00:
                data.append(0xFF)
                i += 2
                continue
            break  # EOI or another marker
        data.append(b)
        i += 1

    bh, bw = (h + 7) // 8, (w + 7) // 8
    # each block takes at least 2 bits (a DC size code and an EOB), so
    # a frame size the data cannot hold is a damaged header; checked
    # before the (blocks, 64) coefficient array is allocated
    if 2 * bh * bw > 8 * len(data):
        raise ValueError("entropy-coded data too short for the frame size")
    rdr = _BitReader(bytes(data))
    zz = np.zeros((bh * bw, 64), np.int64)
    prev_dc = 0
    for n in range(bh * bw):
        size = rdr.read_symbol(dc_tab)
        diff = _extend(rdr.read(size), size) if size else 0
        prev_dc += diff
        zz[n, 0] = prev_dc
        k = 1
        while k < 64:
            sym = rdr.read_symbol(ac_tab)
            if sym == 0x00:  # EOB
                break
            run, size = sym >> 4, sym & 0x0F
            if size == 0:
                if run != 15:
                    raise ValueError("invalid AC symbol")
                k += 16  # ZRL
                continue
            k += run
            if k >= 64:
                raise ValueError("AC coefficient index out of range")
            zz[n, k] = _extend(rdr.read(size), size)
            k += 1

    qtbl = qtables[comp_q]
    coeffs = np.zeros((bh * bw, 64), np.float64)
    coeffs[:, _ZIGZAG] = zz
    coeffs = coeffs.reshape(-1, 8, 8) * qtbl[None, :, :]
    blocks = np.einsum("xu,nuv,yv->nxy", _C.T, coeffs, _C.T) + 128.0
    img = (
        blocks.reshape(bh, bw, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(bh * 8, bw * 8)[:h, :w]
    )
    return np.clip(np.round(img), 0, 255).astype(np.uint8)


# ------------------------------------------------------- APPn metadata


def add_app_segment(buf: bytes, n: int, payload: bytes) -> bytes:
    """Splice an APPn segment right after SOI (spec-compliant container
    for sidecar metadata, e.g. the float tile wrapper's NaN mask)."""
    if not 0 <= n <= 15:
        raise ValueError("APP segment index must be 0..15")
    seg = struct.pack(">HH", 0xFFE0 + n, len(payload) + 2) + payload
    return buf[:2] + seg + buf[2:]


def get_app_segment(buf: bytes, n: int, prefix: bytes = b"") -> bytes | None:
    """Return the payload of the first APPn segment whose payload starts
    with `prefix` (prefix included), or None."""
    pos = 2
    target = 0xE0 + n
    while pos + 4 <= len(buf):
        if buf[pos] != 0xFF:
            return None
        marker = buf[pos + 1]
        if marker in (0xD9, 0xDA):
            return None
        pos += 2
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack(">H", buf[pos : pos + 2])
        if marker == target:
            payload = buf[pos + 2 : pos + seglen]
            if payload.startswith(prefix):
                return payload
        pos += seglen
    return None


def nan_mask_payload(mask: np.ndarray) -> bytes:
    """Pack a boolean NaN mask as a zlib'd bit array with a dimension
    header (APP7 payload for lossy float tiles)."""
    h, w = mask.shape
    packed = np.packbits(mask.astype(np.uint8))
    return b"DCSNAN1" + struct.pack(">HH", h, w) + zlib.compress(packed.tobytes(), 6)


def nan_mask_unpack(payload: bytes) -> np.ndarray:
    if not payload.startswith(b"DCSNAN1"):
        raise ValueError("not a DCSNAN1 payload")
    h, w = struct.unpack(">HH", payload[7:11])
    bits = np.unpackbits(
        np.frombuffer(zlib.decompress(payload[11:]), dtype=np.uint8),
        count=h * w,
    )
    return bits.reshape(h, w).astype(bool)
