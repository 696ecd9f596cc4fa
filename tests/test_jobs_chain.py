"""Dependency-ordered CLI chain (the reference's integration-test
shape, tests/test_coastline.py: raster -> vector -> continental ->
validation) — run in-process against the active local session; the
spark-submit packaging itself is covered by test_spark_submit."""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import DateTimeException

from dea_coastlines_spark.sources import write_tiles
from dea_coastlines_spark.sources.table import SnapshotTable
from dea_coastlines_spark.synth import corpus

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "jobs"))

import run_continental  # noqa: E402
import run_rates  # noqa: E402
import run_shorelines  # noqa: E402
import run_validation  # noqa: E402

SPEC = corpus.CorpusSpec(
    tile_px=96, halo_px=6, tiles_x=2, tiles_y=1,
    year0=2000, year1=2002, obs_per_year=5,
    cloud_frac=0.0, noise_sd=0.04, tide_amp_m=8.0, seed=21,
)


@pytest.fixture(scope="module")
def chain_dirs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("chain")
    tiles = spark.createDataFrame(corpus.generate_pandas(SPEC))
    write_tiles(tiles, str(base / "tiles"))
    return base


def test_job_chain(spark, chain_dirs, capsys):
    base = chain_dirs

    # 1. raster->vector (shorelines)
    assert run_shorelines.main([
        "--tiles-table", str(base / "tiles"),
        "--output", str(base / "sl"),
        "--no-tide-filter",
    ]) == 0
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["n_shorelines"] > 0

    # 2. rates: the first run creates the table, the second appends;
    # n_points is the manifest row count, so it must equal a full read
    rates_args = [
        "--tiles-table", str(base / "tiles"),
        "--output", str(base / "rates"),
        "--baseline-year", "2000", "--no-tide-filter",
    ]
    assert run_rates.main(rates_args) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["n_points"] > 0
    rates_table = SnapshotTable(spark, str(base / "rates"))
    assert out2["n_points"] == rates_table.read().count()
    assert run_rates.main(rates_args) == 0
    out2b = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2b["n_points"] == 2 * out2["n_points"]
    assert out2b["n_points"] == rates_table.read().count()

    # 3. continental hotspots (+ styled multi-layer GeoPackage artifact);
    # n_hotspots is the manifest row count, so it must equal a full read
    gpkg = str(base / "hotspots.gpkg")
    hs_args = [
        "--tiles-table", str(base / "tiles"),
        "--output", str(base / "hs"),
        "--baseline-year", "2000", "--radii", "1000,500",
        "--no-tide-filter",
    ]
    assert run_continental.main(hs_args + ["--gpkg", gpkg]) == 0
    out3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out3["n_hotspots"] > 0
    assert out3["gpkg_layers"] == 2
    hs_table = SnapshotTable(spark, str(base / "hs"))
    assert out3["n_hotspots"] == hs_table.read().count()
    # a re-run replaces its radius partitions, so the count must not double
    assert run_continental.main(hs_args) == 0
    out3b = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert hs_table.snapshots()[-1]["operation"] == "overwrite_partitions"
    assert out3b["n_hotspots"] == out3["n_hotspots"]
    assert out3b["n_hotspots"] == hs_table.read().count()
    import sqlite3 as _sq

    con = _sq.connect(gpkg)
    try:
        names = {r[0] for r in con.execute(
            "SELECT table_name FROM gpkg_contents").fetchall()}
        assert names == {"hotspots_zoom_1", "hotspots_zoom_2", "layer_styles"}
        (ns,) = con.execute("SELECT count(*) FROM layer_styles").fetchone()
        assert ns == 2
        (n1,) = con.execute('SELECT count(*) FROM "hotspots_zoom_1"').fetchone()
        (n2,) = con.execute('SELECT count(*) FROM "hotspots_zoom_2"').fetchone()
        assert n1 + n2 == out3["n_hotspots"]
    finally:
        con.close()

    # 4. validation against the closed-form coast
    xs = [700.0, 2500.0, 4300.0]
    y_lo = -2000.0
    feats = []
    rows = []
    for i, x in enumerate(xs):
        feats.append({
            "type": "Feature",
            "properties": {"id": f"t{i}"},
            "geometry": {"type": "LineString",
                         "coordinates": [[x, y_lo], [x, 2000.0]]},
        })
        for year in SPEC.years:
            truth = float(corpus.y_coast(SPEC, np.array([x]), year, 0.0)[0]) - y_lo
            rows.append((f"site,{i}", f"{year}-06-15", truth))
    (base / "transects.json").write_text(
        json.dumps({"type": "FeatureCollection", "features": feats})
    )
    pd.DataFrame(
        [(f"t{i}", d, v, 0.0, f"t{i}") for (s, d, v), i in
         zip(rows, [i for i in range(len(xs)) for _ in SPEC.years])],
        columns=["site", "date", "distance", "z", "id"],
    ).to_csv(base / "survey.csv", index=False)

    assert run_validation.main([
        "--shorelines-table", str(base / "sl"),
        "--survey-csv", str(base / "survey.csv"),
        "--transects-geojson", str(base / "transects.json"),
        "--output", str(base / "stats.json"),
    ]) == 0
    stats = json.load(open(base / "stats.json"))
    # ambiguous multi-crossing (transect, year) pairs are dropped, like
    # the reference drops MultiPoint intersections — majority must match
    assert stats["overall"]["n"] >= 5
    assert stats["overall"]["mae"] < SPEC.res_m  # within one pixel


def test_transects_job(spark, tmp_path, capsys):
    import run_transects

    from dea_coastlines_spark.geometry import wkb as _wkb

    xs = np.linspace(0.0, 500.0, 51).tolist()
    coast = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"id": "c"},
                "geometry": {
                    "type": "LineString",
                    "coordinates": [[x, 0.0] for x in xs],
                },
            }
        ],
    }
    land = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [
                        [[-50, -300], [550, -300], [550, 0], [-50, 0], [-50, -300]]
                    ],
                },
            }
        ],
    }
    cpath, lpath = tmp_path / "coast.json", tmp_path / "land.json"
    cpath.write_text(json.dumps(coast))
    lpath.write_text(json.dumps(land))
    out_dir = tmp_path / "transects_out"
    assert run_transects.main([
        "--coastline-geojson", str(cpath),
        "--land-geojson", str(lpath),
        "--output", str(out_dir),
        "--interval", "50", "--length", "80", "--buffer", "5",
        "--simplify", "1",
    ]) == 0
    stdout = capsys.readouterr().out
    summary = json.loads(stdout.strip().splitlines()[-1])
    assert summary["job"] == "transects"
    # straight 500 m coastline at 50 m interval, buffer 5 -> 10 transects
    assert summary["n_transects"] == 10
    feats = [
        json.loads(line)
        for line in spark.read.text(str(out_dir)).toPandas()["value"]
    ]
    assert len(feats) == 10
    for f in feats:
        (x1, y1), (x2, y2) = f["geometry"]["coordinates"]
        assert y1 < 0 < y2  # oriented land -> water
        np.testing.assert_allclose(np.hypot(x2 - x1, y2 - y1), 80.0)
        assert f["properties"]["id"].startswith("c_")


def test_validation_reads_transect_job_output(spark, tmp_path, capsys):
    """run_transects -> GeoJSONSeq dir -> run_validation consumes the
    directory directly (the documented composition)."""
    import run_transects
    import run_validation as rv

    from dea_coastlines_spark.geometry import wkb as _wkb
    from dea_coastlines_spark.sources.table import SnapshotTable

    xs = np.linspace(0.0, 300.0, 31).tolist()
    coast = {
        "type": "FeatureCollection",
        "features": [{
            "type": "Feature", "properties": {"id": "c"},
            "geometry": {"type": "LineString",
                         "coordinates": [[x, 0.0] for x in xs]},
        }],
    }
    land = {
        "type": "FeatureCollection",
        "features": [{
            "type": "Feature", "properties": {},
            "geometry": {"type": "Polygon", "coordinates": [
                [[-50, -300], [350, -300], [350, 0], [-50, 0], [-50, -300]]
            ]},
        }],
    }
    (tmp_path / "coast.json").write_text(json.dumps(coast))
    (tmp_path / "land.json").write_text(json.dumps(land))
    t_dir = tmp_path / "transects_seq"
    assert run_transects.main([
        "--coastline-geojson", str(tmp_path / "coast.json"),
        "--land-geojson", str(tmp_path / "land.json"),
        "--output", str(t_dir),
        "--interval", "60", "--length", "80", "--buffer", "5",
        "--simplify", "0",
    ]) == 0

    # shorelines at y = 10.3 every year; surveyed chainage must match
    # transect-start(y=-40) -> 50.3 exactly
    years = [2000, 2001]
    sl = spark.createDataFrame(pd.DataFrame({
        "year": years,
        "geometry": [
            _wkb.linestring(np.stack(
                [np.linspace(-10, 310, 33), np.full(33, 10.3)], axis=1))
            for _ in years
        ],
    }))
    SnapshotTable(spark, str(tmp_path / "sl")).create(sl, partition_by=["year"])

    feats = [json.loads(l) for l in
             spark.read.text(str(t_dir)).toPandas()["value"]]
    pd.DataFrame(
        [(f["properties"]["id"], f"{y}-06-15", 50.3, 0.0)
         for f in feats for y in years],
        columns=["site", "date", "distance", "z"],
    ).assign(id=lambda d: d["site"]).to_csv(tmp_path / "survey.csv", index=False)

    assert rv.main([
        "--shorelines-table", str(tmp_path / "sl"),
        "--survey-csv", str(tmp_path / "survey.csv"),
        "--transects-geojson", str(t_dir),
        "--output", str(tmp_path / "stats.json"),
    ]) == 0
    stats = json.load(open(tmp_path / "stats.json"))
    assert stats["overall"]["n"] == len(feats) * len(years)
    assert abs(stats["overall"]["bias"]) < 1e-6
    assert abs(stats["overall"]["rmse"]) < 1e-6


def test_validation_dms_survey_format(spark, tmp_path):
    """Second survey layout through run_validation end to end
    (--survey-format dms): offset-aware timestamps + DMS coordinates
    must yield IDENTICAL stats to the plain layout for the same
    observations — including a new-year's-morning survey whose UTC
    instant falls in the previous year (attributed correctly only via
    --survey-tz), exercising the dms2dd and tz paths inside a job."""
    import run_validation as rv

    from dea_coastlines_spark.geometry import wkb as _wkb
    from dea_coastlines_spark.sources.table import SnapshotTable

    years = [2000, 2001]
    sl = spark.createDataFrame(pd.DataFrame({
        "year": years,
        "geometry": [
            _wkb.linestring(np.stack(
                [np.linspace(-10, 110, 13), np.full(13, 10.3)], axis=1))
            for _ in years
        ],
    }))
    SnapshotTable(spark, str(tmp_path / "sl")).create(sl)
    feats = [{
        "type": "Feature", "properties": {"id": f"t{i}"},
        "geometry": {"type": "LineString",
                     "coordinates": [[x, -40.0], [x, 40.0]]},
    } for i, x in enumerate([20.0, 60.0])]
    (tmp_path / "transects.json").write_text(json.dumps(
        {"type": "FeatureCollection", "features": feats}))

    # one mid-year survey per transect per year, plus a 2001-01-01
    # 08:00 local observation (= 2000-12-31 21:30 UTC) on t0
    plain = [
        ("t0", "2000-06-15", 50.0, 0.0, "t0"),
        ("t1", "2000-06-15", 50.6, 0.0, "t1"),
        ("t0", "2001-01-01", 50.0, 0.0, "t0"),
        ("t1", "2001-07-02", 50.6, 0.0, "t1"),
    ]
    pd.DataFrame(
        plain, columns=["site", "date", "distance", "z", "id"]
    ).to_csv(tmp_path / "survey_plain.csv", index=False)
    lat, lon = "33°42'12\"S", "151°12'E"
    dms = [
        ("t0", "2000-06-15T10:00:00+09:30", 50.0, 0.0, "t0", lat, lon),
        ("t1", "2000-06-15T11:00:00+09:30", 50.6, 0.0, "t1", lat, lon),
        ("t0", "2001-01-01T08:00:00+10:30", 50.0, 0.0, "t0", lat, lon),
        ("t1", "2001-07-02T09:00:00+09:30", 50.6, 0.0, "t1", lat, lon),
    ]
    pd.DataFrame(
        dms, columns=["site", "obs_time", "chainage_m", "elevation",
                      "profile_id", "lat_dms", "lon_dms"]
    ).to_csv(tmp_path / "survey_dms.csv", index=False)

    common = [
        "--shorelines-table", str(tmp_path / "sl"),
        "--transects-geojson", str(tmp_path / "transects.json"),
    ]
    assert rv.main(common + [
        "--survey-csv", str(tmp_path / "survey_plain.csv"),
        "--output", str(tmp_path / "stats_plain.json"),
    ]) == 0
    assert rv.main(common + [
        "--survey-csv", str(tmp_path / "survey_dms.csv"),
        "--survey-format", "dms", "--survey-tz", "Australia/Adelaide",
        "--output", str(tmp_path / "stats_dms.json"),
    ]) == 0
    a = json.load(open(tmp_path / "stats_plain.json"))
    b = json.load(open(tmp_path / "stats_dms.json"))
    assert a["overall"] == b["overall"]
    assert a["per_transect"] == b["per_transect"]
    assert a["overall"]["n"] == 4  # the NYE row stayed in year 2001
    # parsed DMS coordinates surface in the dms job output
    assert b["sites"] == [
        {"site": "t0", "lat": -33.703333, "lon": 151.2},
        {"site": "t1", "lat": -33.703333, "lon": 151.2},
    ]
    # WITHOUT --survey-tz the NYE instant lands in 2000 (UTC year),
    # collapsing t0's 2001 group — the tz argument is load-bearing
    assert rv.main(common + [
        "--survey-csv", str(tmp_path / "survey_dms.csv"),
        "--survey-format", "dms",
        "--output", str(tmp_path / "stats_dms_utc.json"),
    ]) == 0
    c = json.load(open(tmp_path / "stats_dms_utc.json"))
    assert c["overall"]["n"] == 3
    # ISO-8601 basic format: no colon-separated time, so the offset
    # classifier reads it as naive and never shifts it; to_timestamp
    # rejects the string under ANSI mode, so the job fails loudly
    # rather than attributing the survey to a guessed year
    compact = dms + [("t1", "20010101T003000Z", 50.6, 0.0, "t1", lat, lon)]
    pd.DataFrame(
        compact, columns=["site", "obs_time", "chainage_m", "elevation",
                          "profile_id", "lat_dms", "lon_dms"]
    ).to_csv(tmp_path / "survey_dms_compact.csv", index=False)
    with pytest.raises(DateTimeException, match="20010101T003000Z"):
        rv.main(common + [
            "--survey-csv", str(tmp_path / "survey_dms_compact.csv"),
            "--survey-format", "dms", "--survey-tz", "Australia/Adelaide",
            "--output", str(tmp_path / "stats_dms_compact.json"),
        ])
