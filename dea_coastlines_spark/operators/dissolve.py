"""Dissolve (groupBy + geometric union) and the certainty-attribution
stage built on it.

Reference semantics:
  * `gpd.dissolve(key)` — one merged geometry per key
    (coastlines/vector.py:344, validation.py:2282)
  * `contour_certainty` — per-year overlay(intersection) of annual
    shorelines with dissolved certainty polygons, then the Pinatubo
    rule: years 1991/1992 north of latitude -23 -> 'aerosol issues'
    (coastlines/vector.py:414-471)

Spark shape: dissolve is a grouped RASTER-BURN union — each key's
polygons are burned onto a shared pixel grid inside one Arrow kernel,
components labeled, boundaries polygonized with the engine's marching
squares. This mirrors the reference exactly where dissolve is actually
used (the certainty polygons come FROM a raster via xr_vectorize, so
burning them back at the same pixel size reproduces the union
bit-exactly); for general vector input it is a documented grid-resolution
approximation. The area is the pixel count (exact for grid-aligned
input), which is what the SQL oracle verifies.

Scale notes: one shuffle on the dissolve key; per-key memory is the
group's bbox raster (bounded by pixel choice), not the polygon count.
Skewed keys (one giant coastline class) are bounded by the bbox — at
continental scale dissolve per (key, tile) first, then merge the
per-tile pieces across tile seams (not implemented here).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import label as lbl
from ..functions import marching
from ..geometry import algorithms as ga
from ..geometry import wkb


def _ring_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def _burn(mask: np.ndarray, gx0: float, gy0: float, px: float,
          shell: np.ndarray, holes: list[np.ndarray]) -> None:
    """OR the polygon onto the mask: pixel covered iff its CENTER is
    inside the shell and in no hole (grid-aligned rectangles with
    half-pixel centers never hit a boundary, so the rule is exact for
    the oracle fixtures)."""
    ny, nx = mask.shape
    x0, y0 = shell[:, 0].min(), shell[:, 1].min()
    x1, y1 = shell[:, 0].max(), shell[:, 1].max()
    c0 = max(int(np.floor((x0 - gx0) / px - 0.5)), 0)
    c1 = min(int(np.ceil((x1 - gx0) / px)) + 1, nx)
    r0 = max(int(np.floor((y0 - gy0) / px - 0.5)), 0)
    r1 = min(int(np.ceil((y1 - gy0) / px)) + 1, ny)
    if c1 <= c0 or r1 <= r0:
        return
    cxs = gx0 + (np.arange(c0, c1) + 0.5) * px
    cys = gy0 + (np.arange(r0, r1) + 0.5) * px
    gx, gy = np.meshgrid(cxs, cys)
    flat_x, flat_y = gx.ravel(), gy.ravel()
    inside = ga.points_in_polygon(flat_x, flat_y, shell)
    for h in holes:
        inside &= ~ga.points_in_polygon(flat_x, flat_y, h, boundary_counts=False)
    mask[r0:r1, c0:c1] |= inside.reshape(r1 - r0, c1 - c0)


def _polygonize(mask: np.ndarray, gx0: float, gy0: float, px: float) -> bytes:
    """Boolean mask -> MultiPolygon WKB: marching-squares rings at 0.5
    with even-odd nesting (a ring contained in an odd number of others
    is a hole of its immediate parent). The mask is padded by one false
    pixel so rings at the array edge close."""
    padded = np.pad(mask, 1).astype(np.float64)
    rings = [
        r for r in marching.find_contours(padded, 0.5, min_vertices=3)
        if len(r) >= 4 and np.allclose(r[0], r[-1])
    ]
    if not rings:
        return wkb.multipolygon([])
    world = []
    for r in rings:
        w = np.empty_like(r)
        w[:, 0] = gx0 + (r[:, 1] - 1 + 0.5) * px  # col -> x (unpad)
        w[:, 1] = gy0 + (r[:, 0] - 1 + 0.5) * px  # row -> y (unpad)
        world.append(w)
    # nesting depth by point-in-polygon of a representative vertex
    depth = np.zeros(len(world), np.int64)
    for i, r in enumerate(world):
        p = r[0]
        for j, other in enumerate(world):
            if i == j:
                continue
            if ga.points_in_polygon(
                np.array([p[0]]), np.array([p[1]]), other, boundary_counts=False
            )[0]:
                depth[i] += 1
    polys = []
    order = sorted(range(len(world)), key=lambda i: (depth[i], -abs(_ring_area(world[i]))))
    for i in order:
        if depth[i] % 2 == 0:
            holes = [
                world[j]
                for j in range(len(world))
                if depth[j] == depth[i] + 1
                and ga.points_in_polygon(
                    np.array([world[j][0, 0]]), np.array([world[j][0, 1]]),
                    world[i], boundary_counts=False,
                )[0]
            ]
            polys.append(wkb.polygon(world[i], holes))
    return wkb.multipolygon(polys)


def dissolve(
    df: DataFrame,
    key_cols: list[str],
    pixel: float = 1.0,
    geom_col: str = "geometry",
) -> DataFrame:
    """groupBy(key) + geometric union (gpd.dissolve analog,
    vector.py:344). Returns one row per key: key cols + `geometry`
    (MultiPolygon WKB of the union boundary) + `area_px` (pixel count x
    pixel^2 — exact for pixel-aligned input) + `n_parts` (connected
    components of the union).

    The grid origin snaps to multiples of `pixel`, so the result is
    independent of the group's bbox placement."""
    key_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in key_cols
    )
    out_schema = f"{key_fields}, geometry binary, area_px double, n_parts int"

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        geoms = []
        for g in pdf[geom_col]:
            t, payload = wkb.parse(bytes(g))
            if t == wkb.POLYGON:
                geoms.append((payload[0], list(payload[1:])))
            elif t == wkb.MULTIPOLYGON:
                for poly in payload:
                    geoms.append((poly[0], list(poly[1:])))
            else:
                raise ValueError("dissolve expects Polygon/MultiPolygon geometry")
        xs = np.concatenate([s[:, 0] for s, _ in geoms])
        ys = np.concatenate([s[:, 1] for s, _ in geoms])
        gx0 = np.floor(xs.min() / pixel) * pixel
        gy0 = np.floor(ys.min() / pixel) * pixel
        nx = int(np.ceil((xs.max() - gx0) / pixel)) + 1
        ny = int(np.ceil((ys.max() - gy0) / pixel)) + 1
        mask = np.zeros((ny, nx), bool)
        for shell, holes in geoms:
            _burn(mask, gx0, gy0, pixel, shell, holes)
        _, n = lbl.label(mask, connectivity=2)
        row = {c: key[i] for i, c in enumerate(key_cols)}
        row["geometry"] = _polygonize(mask, gx0, gy0, pixel)
        row["area_px"] = float(mask.sum()) * pixel * pixel
        row["n_parts"] = int(n)
        return pd.DataFrame([row])

    return df.select(*key_cols, geom_col).groupBy(*key_cols).applyInPandas(
        kernel, out_schema
    )


def with_centroid(df: DataFrame, geom_col: str = "geometry") -> DataFrame:
    """Attach the length-weighted line centroid (cx, cy) of each WKB
    geometry — the `gdf.centroid` analog for (Multi)LineString rows
    (vector.py:466 uses it for the Pinatubo latitude test)."""

    def kernel(batches):
        for pdf in batches:
            cxs, cys = [], []
            for g in pdf[geom_col]:
                t, payload = wkb.parse(bytes(g))
                parts = payload if t in (wkb.MULTILINESTRING, wkb.MULTIPOLYGON) else [payload]
                if t == wkb.MULTIPOLYGON:
                    parts = [p[0] for p in payload]
                elif t == wkb.POLYGON:
                    parts = [payload[0]]
                sw = sx = sy = 0.0
                for part in parts:
                    p = np.asarray(part, np.float64)
                    seg = np.hypot(np.diff(p[:, 0]), np.diff(p[:, 1]))
                    mid = (p[1:] + p[:-1]) / 2.0
                    sw += seg.sum()
                    sx += float((mid[:, 0] * seg).sum())
                    sy += float((mid[:, 1] * seg).sum())
                if sw == 0.0:  # degenerate: fall back to vertex mean
                    allp = np.concatenate([np.asarray(p, np.float64) for p in parts])
                    cxs.append(float(allp[:, 0].mean()))
                    cys.append(float(allp[:, 1].mean()))
                else:
                    cxs.append(sx / sw)
                    cys.append(sy / sw)
            out = pdf.copy()
            out["cx"] = cxs
            out["cy"] = cys
            yield out

    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
    return df.mapInPandas(kernel, f"{fields}, cx double, cy double")


def apply_pinatubo_rule(
    df: DataFrame,
    year_col: str = "year",
    certainty_col: str = "certainty",
    lat_col: str = "cy",
    lat_limit_deg: float = -23.0,
    years: tuple = (1991, 1992),
    deg_per_m: float = 1e-5,
) -> DataFrame:
    """Mt Pinatubo aerosol rule (vector.py:466-471): shorelines from the
    eruption years north of -23 degrees latitude are flagged 'aerosol
    issues' regardless of prior certainty. `lat_col` is planar metres;
    the engine's documented pseudo-projection (deg_per_m, see
    rates.py:26-28) converts to degrees. Pure JVM CASE — zero Python."""
    hit = F.col(year_col).isin(list(years)) & (
        F.col(lat_col) * deg_per_m > lat_limit_deg
    )
    return df.withColumn(
        certainty_col,
        F.when(hit, F.lit("aerosol issues")).otherwise(F.col(certainty_col)),
    )


def contour_certainty(
    shorelines: DataFrame,
    certainty_polys: DataFrame,
    line_id: str = "_sl_id",
    res: int = 12,
    broadcast_polys: bool = True,
) -> DataFrame:
    """Attribute annual shorelines with certainty polygons: the
    reference's per-year overlay(intersection) loop (vector.py:454-459)
    as ONE distributed year-matched overlay, then the Pinatubo rule on
    the piece centroids. shorelines need (line_id, year, geometry);
    certainty_polys need (poly_id, year, certainty, geometry)."""
    from .overlay import overlay_lines_polygons

    pieces = overlay_lines_polygons(
        shorelines.select(line_id, "year", "geometry"),
        certainty_polys,
        how="intersection",
        res=res,
        line_id=line_id,
        broadcast_polys=broadcast_polys,
        match_cols=["year"],
    )
    return apply_pinatubo_rule(with_centroid(pieces)).drop("cx")
