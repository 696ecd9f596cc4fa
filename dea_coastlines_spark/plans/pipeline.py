"""End-to-end shoreline pipeline plan (the flagship query).

tiles (input_hint schema)
  -> caption parse (JVM from_json)
  -> tide-window row filter           (raster.py:330-337 semantics)
  -> per-(tile, year) Arrow grouped map: decode -> composite stats
     (raster.py:379-384) -> marching squares (vector.py:1450-1456)
  -> shoreline rows (cell_id, year, WKB, certainty)

One Python stage total, everything before it is Catalyst-optimized
DataFrame ops. At 100 TB the plan shape is: parquet/Iceberg scan with
(cell, year) partition pruning -> shuffle on (tile_x, tile_y) and sort
on (tile_x, tile_y, year) -> tide-cutoff min/max window + row filter ->
grouped map, which reuses the window's shuffle and sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators import composite as comp_op
from ..operators import contours as cont_op
from ..operators import masking as mask_op


def shoreline_pipeline(
    tiles: DataFrame,
    apply_tide_filter: bool = True,
    min_vertices: int = 10,
) -> DataFrame:
    """tiles -> shoreline rows, one `applyInArrow` grouped map per (tile,
    year). The kernel reads its columns straight from the group's Arrow
    table and returns an Arrow table; no pandas frame is built on either
    side. The composite rasters stay in the kernel: no TIFF
    encode/decode and no second Python stage. Rows are byte-identical
    to annual_composites |> contours.shorelines, the staged pair for
    callers that need the composite table (rates, masking)."""

    def kernel(cols) -> list[dict]:
        med, std, cnt = comp_op.decode_stats(cols)
        pieces = cont_op.extract_shorelines_tile(
            med, std, cnt, cols["transform"][0], cols["halo_px"][0],
            min_vertices=min_vertices,
        )
        return cont_op.shoreline_rows(
            pieces, cols["tile_x"][0], cols["tile_y"][0], cols["year"][0]
        )

    return comp_op.apply_rows(
        comp_op.observations(tiles, apply_tide_filter).groupBy("tile_x", "tile_y", "year"),
        kernel, cont_op.SHORELINE_SCHEMA,
    )


def rates_pipeline(
    tiles: DataFrame,
    baseline_year: int,
    spacing_m: float = 30.0,
    apply_tide_filter: bool = True,
    geomorphology: DataFrame | None = None,
) -> DataFrame:
    """Full rates-of-change plan: tiles -> composites -> shorelines ->
    baseline points -> annual signed distances -> regression UDAF ->
    certainty cascade (reference entry point 2, vector.py:1369-1680)."""
    from pyspark import StorageLevel

    from ..operators import rates as rates_op

    # comps feeds both vectorization and raster sampling; sl feeds both
    # baseline points and per-year nearest. Without persist, every
    # downstream branch re-executes the full decode+composite stage —
    # at corpus scale that is the whole job several times over. (The
    # reference materializes composites to GeoTIFF between its CLIs for
    # exactly this reason; CheckpointedPipeline is the durable variant.)
    # The caches are INTENTIONALLY left pinned for the session: the
    # returned plan is lazy, so unpersisting here would defeat them and
    # there is no post-action hook. Callers running many pipelines in
    # one session should use CheckpointedPipeline (durable, no cache)
    # or spark.catalog.clearCache() between runs.
    comps = comp_op.annual_composites(tiles, apply_tide_filter).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sl = cont_op.shorelines(comps).persist(StorageLevel.MEMORY_AND_DISK)
    pts = rates_op.baseline_points(sl, baseline_year, spacing_m)
    nearest = rates_op.annual_nearest(pts, sl)
    signed = rates_op.signed_distances(nearest, comps, baseline_year)
    # year list from the caption-only tile scan (column-pruned, no
    # pixels touched) — deriving it from `sl` would execute the whole
    # raster->vector stage a second time just to enumerate years
    years = [
        r.year
        for r in comp_op.with_caption(tiles).select("year").distinct().collect()
    ]
    rates = rates_op.rates_of_change(signed, initial_year=min(years))
    return rates_op.with_certainty(
        rates, n_years=len(years), baseline_year=baseline_year,
        geomorphology=geomorphology,
    )


def masked_shoreline_pipeline(
    tiles: DataFrame,
    apply_tide_filter: bool = True,
    min_vertices: int = 10,
) -> DataFrame:
    """Full reference-parity path: annual + gapfill composites ->
    contours_preprocess masking (vector.py:476-697) -> vectorization.
    One extra shuffle vs the plain path: the per-tile grouped masking
    (cross-year steps force grouping by tile)."""
    annual = comp_op.annual_composites(tiles, apply_tide_filter)
    gapfill_df = comp_op.gapfill_composites(tiles, apply_tide_filter)
    masked = mask_op.masked_composites(annual, gapfill_df)
    return cont_op.shorelines(masked, min_vertices=min_vertices)


def shorelines_in_aoi(
    shorelines: DataFrame,
    aoi: DataFrame,
    min_frac: float = 0.0,
    aoi_id: str = "aoi_id",
) -> DataFrame:
    """Point-in-polygon test of subpixel waterline contour VERTICES
    against coastal AOI polygons — the headline spatial join of the
    target spec, generalizing the reference's clip-to-study-area step
    (coastlines/vector.py:1604,1658: `gpd.clip` against the one grid
    cell) to an attributed many-AOI containment join.

    One row per (shoreline, AOI) pair with at least one vertex inside:
    the shoreline's columns + `aoi_id`, `n_inside`,
    `n_vertices_total` and `frac_inside`; pairs with frac_inside <
    min_frac are dropped (semi-join semantics when min_frac == 0).

    Plan: the whole vertex-PIP-reaggregate chain runs inside ONE narrow
    Arrow kernel over the shoreline rows — zero exchanges (no vertex
    explode, no candidate join, no re-aggregation, no join back), the
    same fusion shoreline_pipeline makes for the composite stage. A
    lookup over a manifest-pruned SnapshotTable read is one Python task
    per scan split.

    Scale: the AOI table is collected and broadcast (fits comfortably to
    ~10^5 polygons). Per-shoreline work is bbox-pruned vectorized
    ray-casting — O(verts x candidate AOIs)."""
    import numpy as np
    import pandas as pd

    from ..geometry import algorithms as ga
    from ..geometry import wkb as _wkb

    aoi_pdf = aoi.select(aoi_id, "geometry").toPandas()
    feats = []
    for aid, g in zip(aoi_pdf[aoi_id], aoi_pdf["geometry"]):
        gtype, payload = _wkb.parse(bytes(g))
        if gtype != 3:
            raise ValueError("shorelines_in_aoi expects Polygon AOIs")
        shell, holes = payload[0], payload[1:]
        xs, ys = shell[:, 0], shell[:, 1]
        feats.append((aid, shell, holes,
                      (xs.min(), ys.min(), xs.max(), ys.max())))
    bc = shorelines.sparkSession.sparkContext.broadcast(feats)

    in_fields = shorelines.schema.fields
    aoi_dt = aoi.schema[aoi_id].dataType.simpleString()
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in in_fields]
        + [f"`{aoi_id}` {aoi_dt}", "n_inside long",
           "n_vertices_total long", "frac_inside double"]
    )
    in_names = [f.name for f in in_fields]

    def kernel(batches):
        fts = bc.value
        for pdf in batches:
            out = []
            for i in range(len(pdf)):
                c = _wkb.coords_of(bytes(pdf["geometry"].iloc[i]))
                n = len(c)
                if n == 0:
                    continue
                px, py = c[:, 0], c[:, 1]
                bx0, by0, bx1, by1 = px.min(), py.min(), px.max(), py.max()
                for aid, shell, holes, (ax0, ay0, ax1, ay1) in fts:
                    if bx1 < ax0 or ax1 < bx0 or by1 < ay0 or ay1 < by0:
                        continue
                    inside = ga.points_in_polygon(px, py, shell)
                    for hole in holes:
                        inside &= ~ga.points_in_polygon(
                            px, py, hole, boundary_counts=False
                        )
                    n_in = int(inside.sum())
                    frac = n_in / n
                    if n_in > 0 and frac >= min_frac:
                        row = {k: pdf[k].iloc[i] for k in in_names}
                        row[aoi_id] = aid
                        row["n_inside"] = n_in
                        row["n_vertices_total"] = n
                        row["frac_inside"] = frac
                        out.append(row)
            yield pd.DataFrame(
                out, columns=in_names + [aoi_id, "n_inside",
                                         "n_vertices_total", "frac_inside"]
            )

    return shorelines.mapInPandas(kernel, out_schema)


# perfbench/workloads.py imports the old name; the benchmark's files stay
# fixed while engine changes are measured against them.
shorelines_in_aoi_fused = shorelines_in_aoi
