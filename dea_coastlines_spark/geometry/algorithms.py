"""Vectorized planar geometry kernels (the engine's shapely substitute).

Each function is written to run over numpy batches inside Arrow UDFs.
Reference call sites they replace:
  * point-in-polygon     — sjoin(predicate="within"), continental.py:276-283
  * point-segment dist   — nearest_points loops, vector.py:806-818;
                           sjoin_nearest, vector.py:1228-1233
  * interpolate-on-line  — points_on_line 30 m spacing, vector.py:700-741
  * centroid             — vector.py:468
  * line length          — implicit in points_on_line
  * buffer (point->disc) — hotspot circles, continental.py:272-273
  * bearings             — pyproj Geod.inv, vector.py:856-862 (planar CRS
                           here, so atan2 is the exact analog)
"""

from __future__ import annotations

import numpy as np


def points_in_polygon(
    px: np.ndarray, py: np.ndarray, ring: np.ndarray, boundary_counts: bool = True
) -> np.ndarray:
    """Vectorized ray-cast point-in-polygon for many points vs one ring.

    ring: (m, 2) closed or open vertex array. Points exactly on an edge
    are treated as inside when boundary_counts (matches shapely
    `within` + `intersects` usage in the reference closely enough for
    non-degenerate data; tests pin the semantics).
    """
    ring = np.asarray(ring, np.float64)
    # drop repeated consecutive vertices, compared cyclically (this also
    # drops the closing vertex of a closed ring): a zero-length edge
    # would put every point on the boundary
    ring = ring[np.any(ring != np.roll(ring, -1, axis=0), axis=1)]
    x1, y1 = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    px = np.asarray(px, np.float64)[:, None]
    py = np.asarray(py, np.float64)[:, None]
    # crossing test
    cond = (y1[None, :] > py) != (y2[None, :] > py)
    denom = np.where(y2 - y1 == 0, 1e-300, y2 - y1)[None, :]
    # horizontal edges (cond False) keep the 1e-300 sentinel; their xint
    # may overflow to inf but is discarded by the where() below, so the
    # warning is spurious — silence just overflow, not real FP errors
    with np.errstate(over="ignore"):
        xint = x1[None, :] + (py - y1[None, :]) * (x2 - x1)[None, :] / denom
    inside = (np.where(cond, px < xint, False)).sum(axis=1) % 2 == 1
    if boundary_counts:
        on_edge = _points_on_edges(px[:, 0], py[:, 0], ring)
        inside = inside | on_edge
    return inside


def _points_on_edges(px, py, ring, tol=1e-9):
    x1, y1 = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    dx, dy = (x2 - x1)[None, :], (y2 - y1)[None, :]
    wx, wy = px[:, None] - x1[None, :], py[:, None] - y1[None, :]
    cross = np.abs(wx * dy - wy * dx)
    seg_len2 = dx * dx + dy * dy
    t = np.where(seg_len2 > 0, (wx * dx + wy * dy) / np.where(seg_len2 == 0, 1, seg_len2), 0)
    on = (cross <= tol * np.maximum(1.0, np.sqrt(seg_len2))) & (t >= -tol) & (t <= 1 + tol)
    return on.any(axis=1)


def point_segments_distance(
    px: float, py: float, segs_a: np.ndarray, segs_b: np.ndarray
) -> np.ndarray:
    """Distance from one point to each segment (a[i] -> b[i])."""
    a = np.asarray(segs_a, np.float64)
    b = np.asarray(segs_b, np.float64)
    d = b - a
    w = np.array([px, py])[None, :] - a
    seg_len2 = (d * d).sum(axis=1)
    t = np.clip(np.divide((w * d).sum(axis=1), np.where(seg_len2 == 0, 1, seg_len2)), 0, 1)
    proj = a + t[:, None] * d
    return np.hypot(px - proj[:, 0], py - proj[:, 1])


def points_to_polyline_distance(
    px: np.ndarray, py: np.ndarray, line: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Min distance from each point to a polyline; also returns the
    nearest point on the line per input point (the nearest_points analog,
    vector.py:806-818). Fully vectorized (n_points x n_segments)."""
    line = np.asarray(line, np.float64)
    a, b = line[:-1], line[1:]
    d = b - a  # (m, 2)
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    wx = px[:, None] - a[None, :, 0]
    wy = py[:, None] - a[None, :, 1]
    seg_len2 = (d * d).sum(axis=1)[None, :]
    t = np.clip(
        (wx * d[None, :, 0] + wy * d[None, :, 1]) / np.where(seg_len2 == 0, 1, seg_len2),
        0,
        1,
    )
    projx = a[None, :, 0] + t * d[None, :, 0]
    projy = a[None, :, 1] + t * d[None, :, 1]
    dist = np.hypot(px[:, None] - projx, py[:, None] - projy)
    k = dist.argmin(axis=1)
    rows = np.arange(px.size)
    nearest = np.stack([projx[rows, k], projy[rows, k]], axis=1)
    return dist[rows, k], nearest


def polyline_length(line: np.ndarray) -> float:
    line = np.asarray(line, np.float64)
    return float(np.hypot(np.diff(line[:, 0]), np.diff(line[:, 1])).sum())


def interpolate_along(line: np.ndarray, distances: np.ndarray) -> np.ndarray:
    """Points at the given arc-length distances along a polyline
    (shapely `interpolate` analog; points_on_line, vector.py:735-738)."""
    line = np.asarray(line, np.float64)
    seg = np.hypot(np.diff(line[:, 0]), np.diff(line[:, 1]))
    cum = np.concatenate([[0.0], np.cumsum(seg)])
    total = cum[-1]
    dd = np.clip(np.asarray(distances, np.float64), 0, total)
    idx = np.clip(np.searchsorted(cum, dd, side="right") - 1, 0, len(seg) - 1)
    denom = np.where(seg[idx] == 0, 1, seg[idx])
    t = (dd - cum[idx]) / denom
    return line[idx] + t[:, None] * (line[idx + 1] - line[idx])


def centroid_of_coords(coords: np.ndarray) -> tuple[float, float]:
    """Vertex-mean centroid (adequate for the reference's certainty-mask
    latitude test, vector.py:466-471, where exact area-centroid is not
    load-bearing)."""
    c = np.asarray(coords, np.float64)
    return float(c[:, 0].mean()), float(c[:, 1].mean())


def disc_polygon(cx: float, cy: float, radius: float, n: int = 64) -> np.ndarray:
    """Regular n-gon approximating a circle (point buffer analog,
    continental.py:272-273). Deterministic vertex order (angle 0 first,
    counter-clockwise)."""
    ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    ring = np.stack([cx + radius * np.cos(ang), cy + radius * np.sin(ang)], axis=1)
    return np.vstack([ring, ring[:1]])


def bearing_deg(x1, y1, x2, y2) -> np.ndarray:
    """Planar bearing in degrees clockwise from north, [0, 360)."""
    ang = np.degrees(np.arctan2(np.asarray(x2) - x1, np.asarray(y2) - y1))
    return np.mod(ang, 360.0)


def segments_intersect_point(
    p1: np.ndarray, p2: np.ndarray, q1: np.ndarray, q2: np.ndarray
) -> np.ndarray:
    """Intersection points of segment pairs (p1[i]->p2[i]) x (q1[i]->q2[i]).

    Returns (n, 2) with NaN rows where segments don't intersect.
    Used for transect x shoreline intersection (validation.py:2327-2336).
    """
    p1, p2, q1, q2 = (np.asarray(a, np.float64).reshape(-1, 2) for a in (p1, p2, q1, q2))
    r = p2 - p1
    s = q2 - q1
    denom = r[:, 0] * s[:, 1] - r[:, 1] * s[:, 0]
    qp = q1 - p1
    t = np.where(denom != 0, (qp[:, 0] * s[:, 1] - qp[:, 1] * s[:, 0]) / np.where(denom == 0, 1, denom), np.nan)
    u = np.where(denom != 0, (qp[:, 0] * r[:, 1] - qp[:, 1] * r[:, 0]) / np.where(denom == 0, 1, denom), np.nan)
    ok = (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1)
    out = p1 + t[:, None] * r
    out[~ok] = np.nan
    return out


# Stitch tolerance of clip_polyline_to_bbox, in metres and absolute: a
# tolerance relative to |coordinate| grows to 10-50 m at Albers-scale
# coordinates (1e6-5e6 m) and joins an exit and a nearby re-entry with a
# false chord. At 5e6 m a float64 ulp is about 1e-9 m, so 1e-6 m still
# joins the shared vertex that two segments' clips recompute.
_STITCH_TOL = 1e-6


def clip_polyline_to_bbox(line: np.ndarray, xmin, ymin, xmax, ymax) -> list[np.ndarray]:
    """Clip a polyline to an axis-aligned box, returning the pieces inside.
    The engine's analog of the reference's clip-to-study-area
    (vector.py:1604,1658), used for halo removal after cross-tile
    vectorization.

    Liang–Barsky over all segments at once. Consecutive clipped segments
    form one piece when the previous segment's end b and the next one's
    start a satisfy `|b - a| <= _STITCH_TOL` in both coordinates."""
    line = np.asarray(line, np.float64)
    if len(line) < 2:
        return []
    x0, y0 = line[:-1, 0], line[:-1, 1]
    dx, dy = line[1:, 0] - x0, line[1:, 1] - y0
    t0 = np.zeros(len(x0))
    t1 = np.ones(len(x0))
    outside = np.zeros(len(x0), bool)
    # the four edges in the order a per-segment loop visits them: each
    # bound moves only on a strict improvement, as max()/min() do
    # (rejected segments may overflow; they are masked out by `kept`)
    with np.errstate(all="ignore"):
        for p, q in ((-dx, x0 - xmin), (dx, xmax - x0), (-dy, y0 - ymin), (dy, ymax - y0)):
            outside |= (p == 0) & (q < 0)
            r = q / p
            t0 = np.where((p < 0) & (r > t0), r, t0)
            t1 = np.where((p > 0) & (r < t1), r, t1)
        kept = ~outside & ~(t0 > t1)
        a = np.stack([x0 + t0 * dx, y0 + t0 * dy], axis=1)
        b = np.stack([x0 + t1 * dx, y0 + t1 * dy], axis=1)
        close = (np.abs(b[:-1] - a[1:]) <= _STITCH_TOL).all(axis=1)
    # segment i continues the piece of segment i-1
    join = np.zeros(len(x0), bool)
    join[1:] = kept[:-1] & kept[1:] & close
    starts = np.flatnonzero(kept & ~join)
    ends = np.flatnonzero(kept & ~np.append(join[1:], False))
    return [np.concatenate((a[s : s + 1], b[s : e + 1])) for s, e in zip(starts, ends)]


def _segment_ring_crossings(a: np.ndarray, b: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Parameters t in (0,1) where segment a->b crosses ring edges."""
    e1 = ring[:-1]
    e2 = ring[1:]
    r = b - a
    s = e2 - e1
    denom = r[0] * s[:, 1] - r[1] * s[:, 0]
    qp = e1 - a
    with np.errstate(all="ignore"):
        t = (qp[:, 0] * s[:, 1] - qp[:, 1] * s[:, 0]) / denom
        u = (qp[:, 0] * r[1] - qp[:, 1] * r[0]) / denom
    ok = (denom != 0) & (t > 0) & (t < 1) & (u >= 0) & (u <= 1)
    return t[ok]


def clip_polyline_by_polygon(
    line: np.ndarray,
    shell: np.ndarray,
    holes: list[np.ndarray] | None = None,
    keep_inside: bool = True,
) -> list[np.ndarray]:
    """Clip a polyline by an arbitrary polygon (shell + holes), returning
    the pieces inside (keep_inside=True, overlay-intersection semantics,
    gpd.overlay(how='intersection') on line x polygon, vector.py:454) or
    outside (keep_inside=False, overlay-difference semantics,
    validation.py:2189). Crossing points are interpolated exactly;
    sub-segments are classified by their midpoint."""
    line = np.asarray(line, np.float64)
    holes = list(holes or [])
    rings = [np.asarray(shell, np.float64)] + [np.asarray(h, np.float64) for h in holes]
    pieces: list[list[np.ndarray]] = []
    cur: list[np.ndarray] = []

    def emit():
        nonlocal cur
        if len(cur) >= 2:
            pieces.append(cur)
        cur = []

    for i in range(len(line) - 1):
        a, b = line[i], line[i + 1]
        ts = np.concatenate(
            [np.array([0.0, 1.0])] + [_segment_ring_crossings(a, b, r) for r in rings]
        )
        ts = np.unique(ts)
        mids = a + ((ts[:-1] + ts[1:]) / 2.0)[:, None] * (b - a)
        ok = points_in_polygon(mids[:, 0], mids[:, 1], rings[0])
        for h in rings[1:]:
            ok &= ~points_in_polygon(mids[:, 0], mids[:, 1], h, boundary_counts=False)
        if not keep_inside:
            ok = ~ok
        for j in range(len(ts) - 1):
            if not ok[j]:
                emit()
                continue
            p0 = a + ts[j] * (b - a)
            p1 = a + ts[j + 1] * (b - a)
            if cur and np.allclose(cur[-1], p0, atol=1e-9):
                cur.append(p1)
            else:
                emit()
                cur = [p0, p1]
    emit()
    return [np.asarray(p) for p in pieces]


def polyline_polyline_intersections(l1: np.ndarray, l2: np.ndarray) -> np.ndarray:
    """All intersection points of two polylines, (n, 2) — vectorized over
    the full segment x segment grid (transect x shoreline,
    validation.py:2327-2336)."""
    l1 = np.asarray(l1, np.float64)
    l2 = np.asarray(l2, np.float64)
    p1 = np.repeat(l1[:-1], len(l2) - 1, axis=0)
    p2 = np.repeat(l1[1:], len(l2) - 1, axis=0)
    q1 = np.tile(l2[:-1], (len(l1) - 1, 1))
    q2 = np.tile(l2[1:], (len(l1) - 1, 1))
    pts = segments_intersect_point(p1, p2, q1, q2)
    pts = pts[np.isfinite(pts[:, 0])]
    if len(pts) > 1:
        # dedup shared-vertex double hits
        keep = np.ones(len(pts), bool)
        for i in range(1, len(pts)):
            if np.any(np.all(np.abs(pts[:i] - pts[i]) < 1e-9, axis=1)):
                keep[i] = False
        pts = pts[keep]
    return pts


def chainage_along(line: np.ndarray, pts: np.ndarray) -> np.ndarray:
    """Distance from line start to each point's projection on the line
    (the validation chainage: where along the transect the shoreline
    crossed)."""
    line = np.asarray(line, np.float64)
    pts = np.asarray(pts, np.float64).reshape(-1, 2)
    a, b = line[:-1], line[1:]
    d = b - a
    seg_len2 = (d * d).sum(axis=1)
    seg_len = np.sqrt(seg_len2)
    cum = np.concatenate([[0.0], np.cumsum(seg_len)])
    wx = pts[:, 0][:, None] - a[None, :, 0]
    wy = pts[:, 1][:, None] - a[None, :, 1]
    t = np.clip(
        (wx * d[None, :, 0] + wy * d[None, :, 1])
        / np.where(seg_len2 == 0, 1, seg_len2)[None, :],
        0.0,
        1.0,
    )
    projx = a[None, :, 0] + t * d[None, :, 0]
    projy = a[None, :, 1] + t * d[None, :, 1]
    dist = np.hypot(pts[:, 0][:, None] - projx, pts[:, 1][:, None] - projy)
    k = dist.argmin(axis=1)
    rows = np.arange(len(pts))
    return cum[k] + t[rows, k] * seg_len[k]


def douglas_peucker(line: np.ndarray, tol: float) -> np.ndarray:
    """Douglas-Peucker polyline simplification (shapely
    ``.simplify(tol)`` analog; reference coastlines/validation.py:403
    simplifies the coastline union before cutting transects).

    Iterative stack form (no recursion-depth limit on long coastlines).
    Distance criterion is perpendicular distance to the infinite line
    through the span endpoints — the classic DP rule GEOS implements.
    Keeps endpoints; preserves vertex order; O(n log n) typical.
    """
    line = np.asarray(line, np.float64)
    n = len(line)
    if n <= 2:
        return line.copy()
    keep = np.zeros(n, bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        a, b = line[i], line[j]
        seg = b - a
        ll2 = float(seg @ seg)
        pts = line[i + 1 : j]
        if ll2 == 0.0:
            d = np.hypot(pts[:, 0] - a[0], pts[:, 1] - a[1])
        else:
            d = np.abs(
                seg[0] * (pts[:, 1] - a[1]) - seg[1] * (pts[:, 0] - a[0])
            ) / np.sqrt(ll2)
        k = int(np.argmax(d))
        if d[k] > tol:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return line[keep]
