"""Property-based tests (hypothesis) for the pure numeric kernels —
a test class the reference lacks entirely (SURVEY.md §5: no unit or
property tests). Each property pins an invariant the distributed
operators rely on for exact-match parity under parallelism."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from dea_coastlines_spark.codecs import image as img_codec
from dea_coastlines_spark.functions import marching
from dea_coastlines_spark.geometry import algorithms as ga
from dea_coastlines_spark.geometry import wkb
from dea_coastlines_spark.operators.composite import _nan_median_std_count

finite_coords = arrays(
    np.float64, st.tuples(st.integers(2, 12), st.just(2)),
    elements=st.floats(-1e6, 1e6, allow_nan=False, width=64),
)


@given(finite_coords)
@settings(max_examples=60, deadline=None)
def test_wkb_linestring_roundtrip_exact(coords):
    t, payload = wkb.parse(wkb.linestring(coords))
    assert t == wkb.LINESTRING
    np.testing.assert_array_equal(payload, coords)


@given(
    st.lists(
        st.tuples(st.floats(-100, 100, allow_nan=False),
                  st.floats(-100, 100, allow_nan=False)),
        min_size=1, max_size=64,
    ),
    st.floats(-10, 10, allow_nan=False),
    st.floats(-10, 10, allow_nan=False),
    st.floats(1.0, 50.0, allow_nan=False),
)
@settings(max_examples=60, deadline=None)
def test_pip_rectangle_matches_interval_test(pts, cx, cy, half):
    """points_in_polygon on an axis-aligned rectangle == interval test
    (the exactly-decidable case; PIP correctness for general polygons is
    pinned by the concave fixtures in test_geometry)."""
    shell = np.array(
        [[cx - half, cy - half], [cx + half, cy - half],
         [cx + half, cy + half], [cx - half, cy + half],
         [cx - half, cy - half]]
    )
    px = np.array([p[0] for p in pts])
    py = np.array([p[1] for p in pts])
    got = ga.points_in_polygon(px, py, shell)
    want = (
        (px >= cx - half) & (px <= cx + half)
        & (py >= cy - half) & (py <= cy + half)
    )
    # points_in_polygon counts points within 1e-9 of an edge as inside
    # (documented boundary tolerance); exclude that band from the
    # exact-comparison property
    clear = (
        (np.abs(px - (cx - half)) > 1e-6) & (np.abs(px - (cx + half)) > 1e-6)
        & (np.abs(py - (cy - half)) > 1e-6) & (np.abs(py - (cy + half)) > 1e-6)
    )
    np.testing.assert_array_equal(got[clear], want[clear])


def _brute_pip(px, py, shell):
    """Even-odd ray casting one edge at a time: the semantics of the
    benchmark's PIP re-check (perfbench/workloads.py brute_pip)."""
    inside = np.zeros(px.shape, bool)
    ring = shell if np.array_equal(shell[0], shell[-1]) else np.vstack([shell, shell[:1]])
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        crosses = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= crosses & (px < xint)
    return inside


grid_xy = st.tuples(st.integers(-6, 6), st.integers(-6, 6))


@given(
    st.lists(grid_xy, min_size=3, max_size=8),
    st.lists(st.tuples(st.integers(0, 7), st.sampled_from(["repeat", "midpoint"])),
             max_size=4),
    st.booleans(),
    st.lists(st.tuples(st.floats(-8, 8), st.floats(-8, 8)), min_size=1, max_size=40),
)
@settings(max_examples=150, deadline=None)
def test_pip_matches_brute_force_on_degenerate_rings(verts, edits, closed, pts):
    """points_in_polygon == the brute-force even-odd test on rings with
    repeated vertices, collinear runs (edge midpoints inserted), closed
    or not. Points within 1e-6 of the boundary are skipped: the kernel
    counts them as inside, the brute force does not."""
    ring = [tuple(map(float, v)) for v in verts]
    for i, how in edits:
        i %= len(ring)
        a, b = ring[i], ring[(i + 1) % len(ring)]
        extra = a if how == "repeat" else ((a[0] + b[0]) / 2, (a[1] + b[1]) / 2)
        ring.insert(i + 1, extra)
    if closed:
        ring.append(ring[0])
    shell = np.array(ring)
    px = np.array([p[0] for p in pts])
    py = np.array([p[1] for p in pts])
    ends = np.roll(shell, -1, axis=0)
    dist = np.array([ga.point_segments_distance(x, y, shell, ends).min()
                     for x, y in zip(px, py)])
    clear = dist > 1e-6
    got = ga.points_in_polygon(px, py, shell)
    np.testing.assert_array_equal(got[clear], _brute_pip(px, py, shell)[clear])


@given(
    arrays(
        np.float32, st.tuples(st.integers(1, 9), st.integers(1, 6), st.integers(1, 6)),
        elements=st.one_of(
            st.floats(-1, 1, allow_nan=False, width=32), st.just(np.nan)
        ),
    )
)
@settings(max_examples=60, deadline=None)
def test_composite_matches_nanmedian_nanstd(stack):
    """The one-sort composite kernel == numpy's reference nan-reductions
    (raster.py:379-384 semantics) for every finite/NaN mixture."""
    med, std, cnt = _nan_median_std_count(stack)
    n = np.isfinite(stack).sum(axis=0)
    with np.errstate(all="ignore"):
        want_med = np.nanmedian(stack.astype(np.float64), axis=0).astype(np.float32)
        want_std = np.nanstd(stack.astype(np.float64), axis=0, ddof=1).astype(np.float32)
    np.testing.assert_allclose(
        np.where(n > 0, med, 0), np.where(n > 0, want_med, 0), atol=1e-6
    )
    np.testing.assert_allclose(
        np.where(n > 1, std, 0), np.where(n > 1, want_std, 0),
        atol=1e-6, rtol=1e-5,
    )
    assert (med[n == 0] != med[n == 0]).all()  # NaN where no obs
    assert (std[n < 2] != std[n < 2]).all()
    np.testing.assert_array_equal(cnt, n.astype(np.float32))


@given(
    arrays(
        np.float64, st.tuples(st.integers(3, 12), st.integers(3, 12)),
        elements=st.floats(-1, 1, allow_nan=False),
    )
)
@settings(max_examples=60, deadline=None)
def test_marching_vertices_interpolate_to_level(a):
    """Every emitted contour vertex bilinearly interpolates to the level
    (subpixel exactness), and every vertex lies on a cell edge."""
    level = 0.0
    segs = marching.contour_segments(a, level)
    if len(segs) == 0:
        return
    pts = segs.reshape(-1, 2)
    for r, c in pts:
        on_row_edge = abs(r - round(r)) < 1e-12
        on_col_edge = abs(c - round(c)) < 1e-12
        assert on_row_edge or on_col_edge
        # interpolated value along the edge == level
        if on_row_edge and not on_col_edge:
            ri = int(round(r))
            c0, c1 = int(np.floor(c)), int(np.floor(c)) + 1
            t = c - c0
            v = a[ri, c0] * (1 - t) + a[ri, c1] * t
        elif on_col_edge and not on_row_edge:
            ci = int(round(c))
            r0, r1 = int(np.floor(r)), int(np.floor(r)) + 1
            t = r - r0
            v = a[r0, ci] * (1 - t) + a[r1, ci] * t
        else:
            continue  # exact grid corner: value equals level by construction
        assert abs(v - level) < 1e-9


def _clip_segment_scalar(a, b, xmin, ymin, xmax, ymax):
    """Liang–Barsky for one segment; None if fully outside."""
    x0, y0 = a
    x1, y1 = b
    dx, dy = x1 - x0, y1 - y0
    t0, t1 = 0.0, 1.0
    for p, q in (
        (-dx, x0 - xmin),
        (dx, xmax - x0),
        (-dy, y0 - ymin),
        (dy, ymax - y0),
    ):
        if p == 0:
            if q < 0:
                return None
        else:
            r = q / p
            if p < 0:
                if r > t1:
                    return None
                t0 = max(t0, r)
            else:
                if r < t0:
                    return None
                t1 = min(t1, r)
    if t0 > t1:
        return None
    return (
        np.array([x0 + t0 * dx, y0 + t0 * dy]),
        np.array([x0 + t1 * dx, y0 + t1 * dy]),
    )


def _clip_polyline_scalar(line, xmin, ymin, xmax, ymax):
    """The per-segment clip loop: clip each segment, then stitch a
    segment onto the current piece when the piece's last point and the
    segment's start are within 1e-6 m in both coordinates."""
    line = np.asarray(line, np.float64)
    pieces, cur = [], []

    def emit():
        nonlocal cur
        if len(cur) >= 2:
            pieces.append(cur)
        cur = []

    for i in range(len(line) - 1):
        seg = _clip_segment_scalar(line[i], line[i + 1], xmin, ymin, xmax, ymax)
        if seg is None:
            emit()
            continue
        a, b = seg
        if cur and np.allclose(cur[-1], a, rtol=0.0, atol=1e-6):
            cur.append(b)
        else:
            emit()
            cur = [a, b]
    emit()
    return [np.array(p) for p in pieces]


# a coordinate on the box's grid (edges, corners, axis-parallel runs and
# repeated vertices) or anywhere around it
_clip_coord = st.one_of(
    st.integers(-6, 6).map(float),
    st.floats(-7, 7, allow_nan=False),
)


@given(
    st.lists(st.tuples(_clip_coord, _clip_coord), max_size=24),
    st.tuples(st.integers(-4, 4), st.integers(0, 6), st.integers(-4, 4), st.integers(0, 6)),
    st.sampled_from([0.0, 1e6, -2.5e6, 4e6]),
    st.sampled_from([1.0, 0.25, 30.0]),
    st.booleans(),
)
@example([(-6.0, 0.0), (6.0, 0.0)], (-2, 4, -2, 4), 0.0, 1.0, False)  # axis-parallel
@example([(-2.0, -2.0), (2.0, 2.0), (2.0, 2.0), (9.0, 2.0)], (-2, 4, -2, 4), 0.0, 1.0, False)
@example([(5.0, 5.0), (6.0, 6.0), (5.0, 6.0)], (-2, 4, -2, 4), 0.0, 1.0, False)  # outside
# at 1e6 m: an exit and a re-entry 3 m apart with an outside segment
# between them, and 2 m apart around one vertex outside the box
@example([(0.0, 0.0), (0.0, 5.0), (0.1, 5.0), (0.1, 0.0)], (-2, 4, -2, 4), 1e6, 30.0, False)
@example([(0.0, 0.0), (3.0, 0.1), (0.0, 0.2)], (-2, 4, -2, 4), 1e6, 30.0, False)
@settings(max_examples=300, deadline=None)
def test_clip_polyline_to_bbox_matches_scalar_clip(verts, box, base, step, repeat):
    """The vectorized clip returns the scalar clip's pieces byte for
    byte: same count, shapes and float64 bits."""
    line = base + step * np.array(verts, np.float64).reshape(-1, 2)
    if repeat and len(line):
        line = np.repeat(line, 2, axis=0)
    x0, w, y0, h = box
    bounds = (base + step * x0, base + step * y0,
              base + step * (x0 + w), base + step * (y0 + h))
    got = ga.clip_polyline_to_bbox(line, *bounds)
    want = _clip_polyline_scalar(line, *bounds)
    assert len(got) == len(want)
    for g, w_ in zip(got, want):
        assert g.dtype == w_.dtype and g.shape == w_.shape
        assert g.tobytes() == w_.tobytes()


@given(
    arrays(
        np.float32, st.tuples(st.integers(8, 24), st.integers(8, 24)),
        elements=st.floats(-1, 1, allow_nan=False, width=32),
    )
)
@settings(max_examples=40, deadline=None)
def test_png_codec_roundtrip_preserves_quantized_pixels(img):
    """encode_tile->decode_tile (16-bit quantized PNG) exceeds the
    input_hint 40 dB PSNR gate on every finite [-1, 1] image, and the
    round trip is idempotent (decode(encode(decode(x))) == decode(x))."""
    buf = img_codec.encode_tile(img, "png")
    back = img_codec.decode_tile(buf, "png")
    assert back.shape == img.shape
    assert img_codec.psnr(back, img) >= 40.0
    again = img_codec.decode_tile(img_codec.encode_tile(back, "png"), "png")
    np.testing.assert_array_equal(again, back)
