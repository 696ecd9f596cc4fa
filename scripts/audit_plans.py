"""Physical-plan audit: regenerates PLANS.md from the live driver
contract.

For every `driver_queries.QUERIES` entry this records, from the
EXECUTED plan string at sf0.01: exchange (shuffle) count, Python stage
count (ArrowEvalPython / grouped map / MapInPandas / MapInArrow /
cogroup), scan column pruning (ReadSchema width), pushed data filters,
and scale-killer nodes (CartesianProduct / BroadcastNestedLoopJoin).
Run: python scripts/audit_plans.py [sf_dir] [--heavy-sf sf_dir] —
rewrites PLANS.md; --heavy-sf re-audits HEAVY_SF_QUERIES at that sf.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


_PY_TAGS = ("ArrowEvalPython", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
            "MapInPandas", "MapInArrow", "FlatMapCoGroupsInPandas",
            "FlatMapCoGroupsInArrow")


def effective_counts(plan: str) -> tuple[int, int]:
    """(exchanges, python stages) that actually EXECUTE: a persisted
    subtree prints inline under every InMemoryRelation reference, but
    runs once — count each distinct cached subtree once, everything
    outside normally. Without this, a 3-branch reuse of one cached
    pipeline reads as 3x its exchanges (the r2 hotspots row)."""

    def depth(ln: str) -> int:
        m = re.match(r"^[\s:+|-]*", ln)
        return len(m.group(0))

    def norm(x: str) -> str:
        return re.sub(
            r"plan_id=\d+|#\d+|\(\d+\)|\[\d+\]|Statistics\([^)]*\)",
            "",
            re.sub(r"^[\s:+|-]*", "", x),
        )

    lines = plan.splitlines()
    seen: set[int] = set()
    n_ex = n_py = 0
    i = 0
    while i < len(lines):
        ln = lines[i]
        if "InMemoryRelation" in ln:
            d = depth(ln)
            j = i + 1
            block = [ln]
            while j < len(lines) and depth(lines[j]) > d:
                block.append(lines[j])
                j += 1
            key = hash("\n".join(norm(x) for x in block))
            if key in seen:
                i = j  # duplicate print of an already-counted cache
                continue
            seen.add(key)
            # ENTER the block (i += 1, not i = j) so caches nested
            # inside it dedupe against identical prints under siblings
            i += 1
        else:
            n_ex += ln.count("Exchange") if "Exchange" in ln else 0
            n_py += sum(ln.count(t) for t in _PY_TAGS)
            i += 1
    return n_ex, n_py


# The multi-stage queries that READ the sf parquet tables, re-audited
# at the heavier sf to catch AQE/broadcast decisions that differ with
# input size. The raster-pipeline queries (hotspots, shorelines_in_aoi,
# masked/multilevel shorelines, rates_of_change, transect_rates,
# coastal_transects, zonal_stats, validation_stats, dissolve,
# contour_certainty, corpus_integrity) build FIXED synthetic corpora
# independent of sf_dir — their plans are sf-invariant by construction,
# which the emitted note records (VERDICT r3 item 7).
HEAVY_SF_QUERIES = [
    "spatial_pip_join", "knn_anchor_join", "overlay_clip",
    "rates_regression", "group_percentiles", "cell_rollup",
    "interval_join", "interval_overlap",
    "weighted_sample", "resample_interpolate",
]


def _audit_one(spark, fn, sf_dir):
    """(exchanges, python stages, scan widths, pushdown/flags) for one
    query at one sf — or an ERROR tuple."""
    df = fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_ex, n_py = effective_counts(plan)
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    widths = ",".join(str(len(s.split(","))) if s else "0" for s in scans)
    pushed = "yes" if re.search(r"(PushedFilters|DataFilters): \[[^\]]", plan) else "-"
    bad = []
    if "CartesianProduct" in plan:
        bad.append("CARTESIAN")
    if "BroadcastNestedLoopJoin" in plan:
        bad.append("BNLJ")
    return (str(n_ex), str(n_py), widths or "-",
            pushed + (" " + "/".join(bad) if bad else ""))


def main() -> None:
    heavy_sf = None
    args = sys.argv[1:]
    if "--heavy-sf" in args:
        i = args.index("--heavy-sf")
        heavy_sf = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    from dea_coastlines_spark.plans import driver_queries as dq
    from dea_coastlines_spark.session import get_spark

    spark = get_spark("plan-audit", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    base: dict[str, tuple] = {}
    for name, fn in sorted(dq.QUERIES.items()):
        try:
            r = _audit_one(spark, fn, sf_dir)
        except Exception as e:  # noqa: BLE001 — audit must not abort
            rows.append((name, "-", "-", "-", f"ERROR {type(e).__name__}"))
            continue
        base[name] = r
        rows.append((name,) + r)

    heavy_rows = []
    if heavy_sf:
        for name in HEAVY_SF_QUERIES:
            try:
                r = _audit_one(spark, dq.QUERIES[name], heavy_sf)
            except Exception as e:  # noqa: BLE001
                heavy_rows.append(
                    (name, "-", "-", f"ERROR {type(e).__name__}", "-")
                )
                continue
            b = base.get(name)
            delta = (
                "no diff"
                if b is not None and r == b
                else (f"was {b[0]}ex/{b[1]}py {b[3]}" if b else "-")
            )
            heavy_rows.append((name, r[0], r[1], r[3], delta))
    spark.stop()

    out = [
        "# PLANS — physical-plan audit of every driver query",
        "",
        "Generated by `python scripts/audit_plans.py` from the EXECUTED",
        "plan of each `queries()` entry at sf0.01. Columns: shuffle",
        "(Exchange) count; Python stages (Arrow kernels — everything else",
        "is whole-stage-codegen JVM); scan column widths (ReadSchema —",
        "pruned projections, not full-row scans); whether filters reached",
        "the scan; and scale-killer joins (CartesianProduct /",
        "BroadcastNestedLoopJoin — none may appear outside the",
        "documented small-side broadcasts below).",
        "",
        "| query | exchanges | python stages | scan cols | pushdown / flags |",
        "|---|---|---|---|---|",
    ]
    for r in rows:
        out.append("| " + " | ".join(r) + " |")
    out += [
        "",
        "Notes:",
        "- Persisted subtrees (InMemoryRelation) are counted ONCE even",
        "  though the plan string prints them under every referencing",
        "  branch — the printed duplicates do not re-execute.",
        "- Synthetic-corpus queries (shoreline pipeline, dissolve,",
        "  contour_certainty) build their input with",
        "  spark.createDataFrame, so `scan cols` shows `-`: there is no",
        "  file scan to prune.",
        "- Exchange counts include the final orderBy each query uses for",
        "  deterministic driver-side comparison; production callers drop",
        "  that sort.",
        "- `asof_nearest` intentionally broadcast-crosses a SMALL side",
        "  (the dimension table) — the documented exactness baseline;",
        "  the scale path is operators/asof.py (zero join nodes).",
        "- `hotspots` / `shorelines_in_aoi` / `rates_of_change` are full",
        "  multi-stage pipelines (composite -> vectorize -> join ->",
        "  regress, hotspots at several radii); their stage counts are",
        "  the pipeline's, not one operator's.",
        "- `merge_upsert` / `table_evolution` audit only the final",
        "  store read: their write paths run once at build, memoized",
        "  per session.",
    ]
    if heavy_rows:
        out += [
            "",
            f"## Heavy-scale re-audit ({heavy_sf})",
            "",
            "AQE and broadcast decisions can differ with input size, so",
            "the multi-stage queries that READ the sf parquet tables are",
            "re-audited at the heavier sf; `delta vs base` records any",
            "divergence from the base-sf plan above. The raster-pipeline",
            "queries (hotspots, shorelines_in_aoi, masked/multilevel",
            "shorelines, rates_of_change, transect_rates,",
            "coastal_transects, zonal_stats, validation_stats, dissolve,",
            "contour_certainty, corpus_integrity) build FIXED synthetic",
            "corpora independent of sf_dir — their plans are sf-invariant",
            "by construction and are not re-listed.",
            "",
            "| query | exchanges | python stages | pushdown / flags | delta vs base |",
            "|---|---|---|---|---|",
        ]
        for r in heavy_rows:
            out.append("| " + " | ".join(r) + " |")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote {path} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
