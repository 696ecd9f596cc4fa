"""Marching-squares parity tests vs analytic shapes (SURVEY.md §5:
'marching-squares vertex parity vs skimage.measure.find_contours' —
skimage is absent here, so parity is proven against closed-form
contours of analytic fields, a strictly stronger oracle)."""

from __future__ import annotations

import numpy as np

from dea_coastlines_spark.functions import marching


def test_straight_line_subpixel():
    # f(r, c) = r - 10.25 -> contour at level 0 is the horizontal line r=10.25
    r = np.arange(32, dtype=float)[:, None]
    a = np.broadcast_to(r - 10.25, (32, 32)).copy()
    cs = marching.find_contours(a, 0.0)
    assert len(cs) == 1
    assert np.allclose(cs[0][:, 0], 10.25)
    # spans the full width
    assert cs[0][:, 1].min() == 0.0 and cs[0][:, 1].max() == 31.0


def test_circle_contour_radius():
    n = 64
    yy, xx = np.mgrid[0:n, 0:n].astype(float)
    a = np.hypot(yy - 32, xx - 32) - 12.3
    cs = marching.find_contours(a, 0.0)
    assert len(cs) == 1
    c = cs[0]
    # closed loop
    assert np.allclose(c[0], c[-1])
    r = np.hypot(c[:, 0] - 32, c[:, 1] - 32)
    assert np.all(np.abs(r - 12.3) < 0.08)  # subpixel accuracy


def test_nan_terminates_contour():
    r = np.arange(20, dtype=float)[:, None]
    a = np.broadcast_to(r - 9.5, (20, 20)).copy()
    a[8:12, 8:12] = np.nan
    cs = marching.find_contours(a, 0.0)
    assert len(cs) == 2  # split by the nodata hole
    for c in cs:
        assert np.allclose(c[:, 0], 9.5)


def test_min_vertices_filter():
    a = np.full((8, 8), -1.0)
    a[4, 4] = 1.0  # single-pixel island -> tiny closed loop
    assert len(marching.find_contours(a, 0.0, min_vertices=1)) == 1
    assert len(marching.find_contours(a, 0.0, min_vertices=10)) == 0


def test_saddle_consistency_no_crossing_chains():
    # checkerboard-ish field with saddles; chains must still stitch cleanly
    rng = np.random.default_rng(5)
    a = rng.uniform(-1, 1, (40, 40))
    segs = marching.contour_segments(a, 0.0)
    chains = marching.stitch_segments(segs)
    total = sum(len(c) - 1 for c in chains)
    assert total == len(segs)  # every segment used exactly once


def test_determinism():
    rng = np.random.default_rng(6)
    a = rng.uniform(-1, 1, (30, 30))
    c1 = marching.find_contours(a, 0.0)
    c2 = marching.find_contours(a.copy(), 0.0)
    assert len(c1) == len(c2)
    for x, y in zip(c1, c2):
        assert np.array_equal(x, y)


def test_tile_contour_that_reenters_the_core_from_the_halo_is_two_pieces():
    """A one-pixel-row tongue of water ends just inside the east halo, so
    its 0-level contour leaves the core at one vertex outside it and
    re-enters 0.2 px (6 m) further down the same edge. At Albers-scale
    coordinates the kernel keeps the two sides of the tongue apart: two
    pieces, every vertex inside the core, no chord along the core edge.
    A relative stitch tolerance (1e-5 x |y|, 35 m here) joined them into
    one piece."""
    from dea_coastlines_spark.geometry import wkb
    from dea_coastlines_spark.operators.contours import extract_shorelines_tile

    n, halo, a_px = 32, 4, 30.0
    x0, y0 = 1.5e6, -3.5e6
    rr, cc = np.mgrid[0:n, 0:n].astype(float)
    # water (> 0) on row 16 only, out to the tip at col 27.75; the core
    # ends at col 27.5, so the tip is the one vertex outside it
    mndwi = np.minimum(0.3 - np.abs(rr - 16.0), 27.9 - cc)
    transform = [a_px, 0.0, x0, 0.0, -a_px, y0]
    pieces = extract_shorelines_tile(mndwi, None, None, transform, halo)

    def y_of(row):  # pixel-centre world y of a (fractional) row
        return y0 - (row + 0.5) * a_px

    core_x0, core_x1 = x0 + halo * a_px, x0 + (n - halo) * a_px
    core_y0, core_y1 = y_of(n - halo - 0.5), y_of(halo - 0.5)
    assert len(pieces) == 2
    ends = []
    for p in pieces:
        xy = wkb.coords_of(p["geometry"])
        assert (xy[:, 0] >= core_x0 - 1e-6).all() and (xy[:, 0] <= core_x1 + 1e-6).all()
        assert (xy[:, 1] >= core_y0 - 1e-6).all() and (xy[:, 1] <= core_y1 + 1e-6).all()
        west, east = sorted((tuple(xy[0]), tuple(xy[-1])))
        ends.append((west, east))
    # top side of the tongue at row 15.7, bottom side at row 16.3; the
    # sides cross the east core edge at rows 15.9 and 16.1
    ends.sort(key=lambda e: -e[0][1])
    np.testing.assert_allclose(
        np.array(ends).reshape(2, 4),
        [[core_x0, y_of(15.7), core_x1, y_of(15.9)],
         [core_x0, y_of(16.3), core_x1, y_of(16.1)]],
        rtol=0, atol=1e-6,
    )
