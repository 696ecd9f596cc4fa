"""spark-submit entrypoint: tiles table -> continental hotspot layers
at multiple radii (reference entry point 3,
`python -m coastlines.continental`). The reference's ogrmerge
subprocess union is a plain unionByName here (continental.py:180-199).

    spark-submit --py-files dist/dea_coastlines_spark.zip \
        jobs/run_continental.py --tiles-table T --output O \
        --baseline-year 2000 --radii 1000,500
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--tiles-table", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--baseline-year", type=int, required=True)
    p.add_argument("--radii", default="10000,5000,1000")
    p.add_argument("--no-tide-filter", action="store_true")
    p.add_argument("--gpkg", default=None,
                   help="also export hotspot layers to one styled OGC "
                        "GeoPackage (reference OUTPUT_GPKG artifact)")
    p.add_argument("--no-styles", action="store_true",
                   help="skip the QGIS layer_styles table "
                        "(reference --no-include-styles)")
    args = p.parse_args(argv if argv is not None else sys.argv[1:])

    from dea_coastlines_spark.session import submit_session

    spark = submit_session("dea-coastlines-spark:continental")

    from dea_coastlines_spark.operators import composite as comp_op
    from dea_coastlines_spark.operators import contours as cont_op
    from dea_coastlines_spark.operators import hotspots as hs_op
    from dea_coastlines_spark.operators import rates as rates_op
    from dea_coastlines_spark.sources import read_tiles
    from dea_coastlines_spark.sources.table import SnapshotTable

    tiles = read_tiles(spark, args.tiles_table)
    n_tiles = tiles.count()
    t0 = time.perf_counter()
    tide = not args.no_tide_filter
    comps = comp_op.annual_composites(tiles, tide).persist()
    sl = cont_op.shorelines(comps).persist()
    pts = rates_op.baseline_points(sl, args.baseline_year).persist()
    signed = rates_op.signed_distances(
        rates_op.annual_nearest(pts, sl), comps, args.baseline_year
    ).persist()
    radii = tuple(float(r) for r in args.radii.split(","))
    hs = hs_op.continental_hotspots(sl, pts, signed, args.baseline_year, radii)
    table = SnapshotTable(spark, args.output)
    if table.current_version() == 0:
        table.create(hs, partition_by=["radius_m"])
    else:
        table.overwrite_partitions(hs)
    n = table.snapshots()[-1]["n_rows"]

    n_layers = 0
    if args.gpkg:
        # styled GeoPackage artifact (reference continental.py:336-358:
        # one hotspots_zoom_* point layer per radius, plus the QGIS
        # layer_styles table, :413-415). Layer index mirrors the
        # reference's zoom numbering: widest radius = zoom 1.
        import pandas as pd

        from dea_coastlines_spark.geometry import wkb as _wkb
        from dea_coastlines_spark.sources import geo_sinks
        from pyspark.sql import functions as F

        def _points(batches):
            for pdf in batches:
                out = pdf.copy()
                out["geometry"] = [
                    _wkb.point(x, y) for x, y in zip(pdf["x"], pdf["y"])
                ]
                yield out.drop(columns=["x", "y"])

        styles = []
        for i, r in enumerate(radii):
            layer = f"hotspots_zoom_{i + 1}"
            sub = table.read().filter(F.col("radius_m") == r)
            fields = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in sub.schema.fields
                if f.name not in ("x", "y")
            )
            gdf = sub.mapInPandas(_points, fields + ", geometry binary")
            geo_sinks.write_gpkg(
                gdf, args.gpkg, layer=layer,
                # first layer creates the file; later layers appended
                **({} if i == 0 else {"append": True}),
            )
            styles.append({
                "layer": layer,
                "qml": _HOTSPOT_QML,
                "description": f"hotspots radius {r:g} m",
            })
            n_layers += 1
        if not args.no_styles:
            geo_sinks.write_layer_styles(args.gpkg, styles)

    dt = time.perf_counter() - t0
    print(json.dumps({
        "job": "continental", "n_tiles": n_tiles, "n_hotspots": n,
        "radii": list(radii), "sec": round(dt, 3),
        "gpkg_layers": n_layers,
    }))
    return 0


# minimal graduated-symbol QML: enough for QGIS to auto-load a style
# from the database (shape parity with the reference's styles.csv rows,
# whose content is its own artifact and is not copied)
_HOTSPOT_QML = (
    '<!DOCTYPE qgis PUBLIC "http://mrcc.com/qgis.dtd" "SYSTEM">'
    '<qgis version="3.28"><renderer-v2 type="singleSymbol">'
    '<symbols><symbol type="marker" name="0"><layer class="SimpleMarker">'
    '<Option type="Map"><Option name="size" type="QString" value="2"/>'
    "</Option></layer></symbol></symbols></renderer-v2></qgis>"
)


if __name__ == "__main__":
    sys.exit(main())
