"""spark-submit entrypoint: tiles table -> rates-of-change points
(reference entry point 2, `python -m coastlines.vector`).

    spark-submit --py-files dist/dea_coastlines_spark.zip \
        jobs/run_rates.py --tiles-table T --output O --baseline-year 2000
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
    p.add_argument("--spacing-m", type=float, default=30.0)
    p.add_argument("--years", default=None)
    p.add_argument("--no-tide-filter", action="store_true")
    args = p.parse_args(argv if argv is not None else sys.argv[1:])

    from dea_coastlines_spark.session import submit_session

    spark = submit_session("dea-coastlines-spark:rates")

    from dea_coastlines_spark.plans.pipeline import rates_pipeline
    from dea_coastlines_spark.sources import read_tiles
    from dea_coastlines_spark.sources.table import SnapshotTable

    years = None
    if args.years:
        lo, hi = args.years.split(":")
        years = (int(lo), int(hi))
    tiles = read_tiles(spark, args.tiles_table, years=years)
    n_tiles = tiles.count()
    t0 = time.perf_counter()
    rates = rates_pipeline(
        tiles, args.baseline_year, spacing_m=args.spacing_m,
        apply_tide_filter=not args.no_tide_filter,
    )
    table = SnapshotTable(spark, args.output)
    if table.current_version() == 0:
        table.create(rates)
    else:
        table.append(rates)
    n = table.snapshots()[-1]["n_rows"]
    dt = time.perf_counter() - t0
    print(json.dumps({
        "job": "rates", "n_tiles": n_tiles, "n_points": n,
        "sec": round(dt, 3),
        "tiles_per_sec": round(n_tiles / dt, 2) if dt else None,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
