"""Geometry kernel unit tests (point-in-polygon, kNN refine, interpolate,
clip) — SURVEY.md §5's per-operator unit tests the reference lacks."""

from __future__ import annotations

import numpy as np

from dea_coastlines_spark.geometry import algorithms as ga
from dea_coastlines_spark.geometry import wkb


def test_wkb_roundtrip_all_types():
    ls = np.array([[0.0, 0.0], [1.0, 2.0], [3.0, 1.0]])
    ring = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float)
    geoms = {
        "Point": wkb.point(1.5, -2.5),
        "LineString": wkb.linestring(ls),
        "Polygon": wkb.polygon(ring),
        "MultiLineString": wkb.multilinestring([ls, ls + 10]),
        "MultiPoint": wkb.multipoint(ls),
        "MultiPolygon": wkb.multipolygon([wkb.polygon(ring), wkb.polygon(ring + 5)]),
    }
    for name, buf in geoms.items():
        assert wkb.geom_type_name(buf) == name
        c = wkb.coords_of(buf)
        assert c.ndim == 2 and c.shape[1] == 2
    t, payload = wkb.parse(geoms["LineString"])
    assert t == wkb.LINESTRING and np.allclose(payload, ls)
    assert wkb.bbox(geoms["Polygon"]) == (0.0, 0.0, 4.0, 4.0)


def test_point_in_polygon_square_and_concave():
    square = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], float)
    px = np.array([5.0, 15.0, 0.0, 10.0, -0.001])
    py = np.array([5.0, 5.0, 5.0, 10.0, 5.0])
    got = ga.points_in_polygon(px, py, square)
    assert got.tolist() == [True, False, True, True, False]
    # concave "C" shape
    cshape = np.array([[0, 0], [6, 0], [6, 2], [2, 2], [2, 4], [6, 4], [6, 6], [0, 6]], float)
    px = np.array([1.0, 4.0, 4.0])
    py = np.array([3.0, 3.0, 1.0])
    assert ga.points_in_polygon(px, py, cshape).tolist() == [True, False, True]
    # a repeated vertex is a zero-length edge, which must not put every
    # point on the boundary; likewise a closing vertex repeated twice
    ring = np.array([[0, 0], [10, 0], [10, 0], [10, 10], [0, 10]], float)
    px = np.array([50.0, -3.0, 5.0, 10.0, 0.0])
    py = np.array([50.0, 7.0, 5.0, 5.0, 10.0])
    want = [False, False, True, True, True]
    assert ga.points_in_polygon(px, py, ring).tolist() == want
    closed = np.vstack([ring, ring[:1], ring[:1]])
    assert ga.points_in_polygon(px, py, closed).tolist() == want


def test_nearest_point_on_polyline():
    line = np.array([[0, 0], [10, 0], [10, 10]], float)
    d, nearest = ga.points_to_polyline_distance(
        np.array([5.0, 12.0, -1.0]), np.array([3.0, 5.0, -1.0]), line
    )
    assert np.allclose(d, [3.0, 2.0, np.sqrt(2)])
    assert np.allclose(nearest[0], [5, 0])
    assert np.allclose(nearest[1], [10, 5])
    assert np.allclose(nearest[2], [0, 0])


def test_interpolate_along_and_length():
    line = np.array([[0, 0], [3, 4], [3, 10]], float)  # lengths 5, 6
    assert ga.polyline_length(line) == 11.0
    pts = ga.interpolate_along(line, np.array([0.0, 5.0, 8.0, 11.0, 99.0]))
    assert np.allclose(pts[0], [0, 0])
    assert np.allclose(pts[1], [3, 4])
    assert np.allclose(pts[2], [3, 7])
    assert np.allclose(pts[3], [3, 10])
    assert np.allclose(pts[4], [3, 10])  # clamped


def test_segment_intersection():
    p = ga.segments_intersect_point(
        np.array([[0, 0], [0, 0]]),
        np.array([[10, 10], [1, 0]]),
        np.array([[0, 10], [5, 5]]),
        np.array([[10, 0], [6, 6]]),
    )
    assert np.allclose(p[0], [5, 5])
    assert np.isnan(p[1]).all()


def test_clip_polyline_to_bbox():
    line = np.array([[-5, 5], [5, 5], [15, 5]], float)
    pieces = ga.clip_polyline_to_bbox(line, 0, 0, 10, 10)
    assert len(pieces) == 1
    merged = pieces[0]
    assert np.allclose(merged[0], [0, 5]) and np.allclose(merged[-1], [10, 5])
    # fully outside
    assert ga.clip_polyline_to_bbox(np.array([[20, 20], [30, 30]], float), 0, 0, 10, 10) == []


def test_clip_keeps_an_exit_and_a_nearby_reentry_apart_at_albers_scale():
    """A line that leaves the box through its east edge at a vertex
    outside it and comes back in 3 m or 30 m further along that edge is
    two pieces, at Albers-scale coordinates too. A stitch tolerance of
    1e-5 x |y| (35 m here) joined the two into one piece with a false
    chord along the edge."""
    x0, y0 = 1.5e6, -3.5e6
    xmax = x0 + 100.0
    for gap in (3.0, 30.0):
        # exits at y0 + gap/2, re-enters at y0 + 3 gap/2
        line = np.array([[x0, y0], [x0 + 200.0, y0 + gap], [x0, y0 + 2 * gap]])
        pieces = ga.clip_polyline_to_bbox(line, x0 - 10.0, y0 - 50.0, xmax, y0 + 100.0)
        assert len(pieces) == 2, gap
        np.testing.assert_allclose(
            pieces[0], [[x0, y0], [xmax, y0 + gap / 2]], rtol=0, atol=1e-6
        )
        np.testing.assert_allclose(
            pieces[1], [[xmax, y0 + 1.5 * gap], [x0, y0 + 2 * gap]], rtol=0, atol=1e-6
        )


def test_disc_polygon_radius():
    ring = ga.disc_polygon(100.0, -50.0, 30.0, n=128)
    r = np.hypot(ring[:, 0] - 100.0, ring[:, 1] + 50.0)
    assert np.allclose(r, 30.0)


def test_bearing_deg():
    assert ga.bearing_deg(0, 0, 0, 1) == 0.0
    assert ga.bearing_deg(0, 0, 1, 0) == 90.0
    assert ga.bearing_deg(0, 0, 0, -1) == 180.0
    assert ga.bearing_deg(0, 0, -1, 0) == 270.0
