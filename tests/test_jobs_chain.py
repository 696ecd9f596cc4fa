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
from pyspark.sql import functions as F

from dea_coastlines_spark.sources import write_tiles
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

    # 2. rates
    assert run_rates.main([
        "--tiles-table", str(base / "tiles"),
        "--output", str(base / "rates"),
        "--baseline-year", "2000", "--no-tide-filter",
    ]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["n_points"] > 0

    # 3. continental hotspots (+ styled multi-layer GeoPackage artifact)
    gpkg = str(base / "hotspots.gpkg")
    assert run_continental.main([
        "--tiles-table", str(base / "tiles"),
        "--output", str(base / "hs"),
        "--baseline-year", "2000", "--radii", "1000,500",
        "--no-tide-filter", "--gpkg", gpkg,
    ]) == 0
    out3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out3["n_hotspots"] > 0
    assert out3["gpkg_layers"] == 2
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


def test_corpus_prep_job(spark, tmp_path, capsys):
    import run_corpus_prep

    docs_path = str(tmp_path / "docs")
    out_path = str(tmp_path / "shards")
    # corpus of genuinely distinct docs + planted exact/near duplicates
    words = ["harbor", "glacier", "forest", "timber", "quartz", "meadow",
             "breeze", "ember", "lantern", "orchid"]
    rows = []
    for i in range(30):
        rows.append((
            i,
            f"document {i} about {words[i % 10]} and {words[(i * 3 + 1) % 10]} "
            f"with unique vocabulary token alpha{i * 17} beta{i * 29} "
            f"gamma{i * 7} delta{i * 11} epsilon{i * 13}",
            "en",
        ))
    rows.append((100, rows[0][1], "en"))  # exact dup of doc 0
    rows.append((101, rows[0][1].replace("alpha0", "alphaX"), "en"))  # near dup
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(docs_path)

    assert run_corpus_prep.main([
        "--documents", docs_path, "--output", out_path,
        "--n-shards", "4", "--neardup-threshold", "0.8",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_in"] == 32
    # exact dup and near dup both dropped; all originals survive
    assert out["n_out"] == 30
    sharded = spark.read.parquet(out_path)
    assert sharded.select("shard").distinct().count() <= 4
    assert 100 not in [r.doc_id for r in sharded.collect()]
    # deterministic: rerun writes the identical (shard, pos) assignment
    order1 = sorted(
        (r.shard, r.pos, r.doc_id) for r in sharded.collect()
    )
    assert run_corpus_prep.main([
        "--documents", docs_path, "--output", out_path + "2",
        "--n-shards", "4", "--neardup-threshold", "0.8",
    ]) == 0
    order2 = sorted(
        (r.shard, r.pos, r.doc_id)
        for r in spark.read.parquet(out_path + "2").collect()
    )
    assert order1 == order2


def test_corpus_prep_hygiene_stages(spark, tmp_path, capsys):
    """--repetition-filter, --dedup-passages and --decontaminate-eval
    each drop/clean exactly the planted documents."""
    import run_corpus_prep

    docs_path = str(tmp_path / "docs_h")
    eval_path = str(tmp_path / "eval_h")
    out_path = str(tmp_path / "shards_h")
    words = ["harbor", "glacier", "forest", "timber", "quartz", "meadow",
             "breeze", "ember", "lantern", "orchid"]
    rows = []
    for i in range(20):
        rows.append((
            i,
            f"document {i} about {words[i % 10]} and {words[(i * 3 + 1) % 10]} "
            f"with unique vocabulary token alpha{i * 17} beta{i * 29} "
            f"gamma{i * 7} delta{i * 11} epsilon{i * 13}",
            "en",
        ))
    # planted: a doc that is one 2-gram repeated (Gopher-repetitive)
    rows.append((200, "spam spam " * 40, "en"))
    # planted: a doc sharing a 4-gram with the eval set
    leak = "zeta eta theta iota"
    rows.append((201, f"training doc containing {leak} verbatim benchmark text", "en"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(docs_path)
    spark.createDataFrame(
        [(0, f"eval question mentions {leak} exactly")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(eval_path)

    assert run_corpus_prep.main([
        "--documents", docs_path, "--output", out_path,
        "--n-shards", "2", "--repetition-filter",
        "--dedup-passages", "6",
        "--decontaminate-eval", eval_path, "--decontam-ngram", "4",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_in"] == 22
    sharded = spark.read.parquet(out_path)
    ids = {r.doc_id for r in sharded.select("doc_id").collect()}
    assert 200 not in ids  # repetition filter
    assert 201 not in ids  # decontamination
    assert set(range(20)) <= ids  # clean docs survive every stage
    # passage dedup replaced text with the cleaned form: docs i and
    # i+10 share the same word pair, so the "about A and B with unique
    # vocabulary token" span is corpus-duplicated and removed, while
    # the per-doc unique tokens survive
    texts = {r.doc_id: r.text for r in sharded.select("doc_id", "text").collect()}
    assert texts[0] == "document 0 alpha0 beta0 gamma0 delta0 epsilon0"
    assert all("about" not in t for t in texts.values())


def test_corpus_prep_classifier_gate(spark, tmp_path, capsys):
    """--classifier-threshold drops exactly the docs the trained-weight
    model scores below T; --classifier-weights round-trips the JSON."""
    import run_corpus_prep
    from dea_coastlines_spark.operators.classifier import (
        HASH_MOD,
        quality_classifier,
    )

    docs_path = str(tmp_path / "docs_c")
    out_path = str(tmp_path / "shards_c")
    words = ["harbor", "glacier", "forest", "timber", "quartz", "meadow"]
    rows = [
        (i, f"doc {i} about {words[i % 6]} uniq{i * 17} tok{i * 29}", "en")
        for i in range(12)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(docs_path)

    # a weights vector that up-scores 'harbor' and down-scores 'glacier'
    def bucket(t):
        h = 0
        for ch in t:
            h = (h * 31 + ord(ch)) % HASH_MOD
        return h % 64

    w = [0.0] * 64
    w[bucket("harbor")] = 1.0
    w[bucket("glacier")] = -1.0
    wpath = tmp_path / "weights.json"
    wpath.write_text(json.dumps({"dim": 64, "weights": w}))

    assert run_corpus_prep.main([
        "--documents", docs_path, "--output", out_path,
        "--n-shards", "1",
        "--classifier-threshold", "0.5",
        "--classifier-weights", str(wpath),
    ]) == 0
    survivors = {
        r.doc_id
        for r in spark.read.parquet(out_path).select("doc_id").collect()
    }
    # independent expectation from the operator itself
    expect = {
        r.doc_id
        for r in quality_classifier(
            spark.read.parquet(docs_path), dim=64, weights=w, threshold=0.5
        ).filter("keep").select("doc_id").collect()
    }
    assert survivors == expect
    # glacier docs (negative mean weight) must be gone, harbor docs kept
    assert not {1, 7} & survivors
    assert {0, 6} <= survivors


def test_corpus_prep_url_stage(spark, tmp_path, capsys):
    """--url-col canonical-URL dedup, --seen-urls Bloom screening and
    --domain-cap each drop exactly the planted documents."""
    import run_corpus_prep

    docs_path = str(tmp_path / "docs_u")
    seen_path = str(tmp_path / "seen_u")
    out_path = str(tmp_path / "shards_u")
    words = ["harbor", "glacier", "forest", "timber", "quartz", "meadow",
             "breeze", "ember", "lantern", "orchid"]
    rows = []
    for i in range(12):
        rows.append((
            i,
            f"document {i} about {words[i % 10]} with unique vocabulary "
            f"token alpha{i * 17} beta{i * 29} gamma{i * 7} delta{i * 11}",
            "en",
            f"https://site{i}.org/page/{i}",
        ))
    # planted: same canonical URL as doc 0 (www. + utm param variants)
    rows.append((300, "different words entirely kappa lambda mu nu xi",
                 "en", "https://www.site0.org/page/0?utm_source=x"))
    # planted: URL already crawled (in the seen list)
    rows.append((301, "fresh content words omicron pi rho sigma tau",
                 "en", "https://crawled.net/old/1"))
    # planted: 4 extra docs on one domain (cap 3 keeps lowest ids)
    for j in range(4):
        rows.append((310 + j,
                     f"bulk page {j} words phi chi psi omega{j * 31} "
                     f"extra{j * 37} filler{j * 41} pad{j * 43}",
                     "en", f"https://bulk.com/p/{j}"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, url string"
    ).write.mode("overwrite").parquet(docs_path)
    spark.createDataFrame(
        [("https://WWW.crawled.net/old/1#frag",)], "url string"
    ).write.mode("overwrite").parquet(seen_path)

    assert run_corpus_prep.main([
        "--documents", docs_path, "--output", out_path,
        "--n-shards", "2", "--url-col", "url",
        "--seen-urls", seen_path, "--domain-cap", "3",
        "--keep-quality", "",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_in"] == 18
    sharded = spark.read.parquet(out_path)
    ids = {r.doc_id for r in sharded.select("doc_id").collect()}
    assert 300 not in ids          # canonical-URL dup of doc 0
    assert 301 not in ids          # seen-URL Bloom screen
    assert 313 not in ids          # over the bulk.com cap
    assert {310, 311, 312} <= ids  # cap keeps the lowest 3 ids
    assert set(range(12)) <= ids   # clean docs survive
    # registered_domain column rides through to the shards
    doms = {r.registered_domain
            for r in sharded.select("registered_domain").collect()}
    assert "bulk.com" in doms and "site0.org" in doms


def test_corpus_prep_dedup_against(spark, tmp_path, capsys):
    """--dedup-against drops exactly the docs near-duplicating the
    reference corpus; the reference itself is untouched on disk."""
    import run_corpus_prep

    docs_path = str(tmp_path / "docs_x")
    ref_path = str(tmp_path / "ref_x")
    out_path = str(tmp_path / "shards_x")
    words = ["harbor", "glacier", "forest", "timber", "quartz", "meadow",
             "breeze", "ember", "lantern", "orchid"]
    rows = []
    for i in range(20):
        rows.append((
            i,
            f"document {i} about {words[i % 10]} and {words[(i * 3 + 1) % 10]} "
            f"with unique vocabulary token alpha{i * 17} beta{i * 29} "
            f"gamma{i * 7} delta{i * 11} epsilon{i * 13}",
            "en",
        ))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(docs_path)
    # reference corpus = exact copy of doc 3 + a near copy of doc 7
    spark.createDataFrame(
        [(1000, rows[3][1]), (1001, rows[7][1] + " x")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(ref_path)

    # threshold 0.8: the template corpus has legitimate ~0.73-jaccard
    # cousins of doc 3 (same topic-word pair, digits differ) that the
    # default 0.7 would also drop — the planted copies sit at 1.0/0.98
    assert run_corpus_prep.main([
        "--documents", docs_path, "--output", out_path,
        "--n-shards", "2", "--dedup-against", ref_path,
        "--dedup-against-threshold", "0.8",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_in"] == 20
    ids = {r.doc_id for r in spark.read.parquet(out_path).select("doc_id").collect()}
    assert 3 not in ids and 7 not in ids
    assert ids == set(range(20)) - {3, 7}
    # reference corpus unchanged
    assert spark.read.parquet(ref_path).count() == 2


def test_corpus_append_job(spark, tmp_path, capsys):
    """Incremental corpus maintenance: --create initializes the table,
    the second run screens the increment (exact copy, near copy, and
    id collision all dropped; fresh docs appended atomically) and
    read_incremental exposes exactly the appended rows."""
    import run_corpus_append

    from dea_coastlines_spark.sources.table import SnapshotTable

    table_path = str(tmp_path / "corpus_t")
    words = ["harbor", "glacier", "forest", "timber", "quartz", "meadow",
             "breeze", "ember", "lantern", "orchid"]

    def doc(i):
        return (
            f"document {i} about {words[i % 10]} and {words[(i * 3 + 1) % 10]} "
            f"with unique vocabulary token alpha{i * 17} beta{i * 29} "
            f"gamma{i * 7} delta{i * 11} epsilon{i * 13}"
        )

    inc1 = str(tmp_path / "inc1")
    spark.createDataFrame(
        [(i, doc(i)) for i in range(10)] + [(50, doc(0))],  # self-dup
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(inc1)
    assert run_corpus_append.main(
        ["--table", table_path, "--increment", inc1, "--create"]
    ) == 0
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1 == {
        "n_increment": 11, "n_after_self_dedup": 10, "n_after_exact": 10,
        "n_dropped_id_collision": 0, "n_appended": 10, "version": 1,
        "created": True,
    }

    inc2 = str(tmp_path / "inc2")
    spark.createDataFrame(
        [
            (100, doc(3)),          # exact copy of existing -> stage-2 drop
            (101, doc(7) + " x"),   # near copy -> stage-4 drop
            (5, "entirely fresh text about submarine volcano cartography"),
            # ^ id collision with existing doc 5 -> stage-3 drop
            (102, "fresh survey of alpine lichen distribution patterns qq"),
            (103, "fresh treatise on tidal resonance in enclosed basins zz"),
        ],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(inc2)
    assert run_corpus_append.main(
        ["--table", table_path, "--increment", inc2, "--threshold", "0.8"]
    ) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2 == {
        "n_increment": 5, "n_after_self_dedup": 5, "n_after_exact": 4,
        "n_dropped_id_collision": 1, "n_appended": 2, "version": 2,
        "created": False, "compacted": False,
    }
    t = SnapshotTable(spark, table_path)
    assert t.read().count() == 12
    new_rows = t.read_incremental(since_snapshot=1)
    assert sorted(r.doc_id for r in new_rows.select("doc_id").collect()) == [102, 103]
    # existing doc 5 untouched by the colliding increment row
    assert t.read().filter("doc_id = 5").collect()[0].text == doc(5)

    # third run with --compact-target-bytes: append commits, then the
    # small-file rewrite lands as its own content-identical snapshot
    inc3 = str(tmp_path / "inc3")
    spark.createDataFrame(
        [(104, "fresh notes on karst aquifer tracing methods kk")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(inc3)
    assert run_corpus_append.main(
        ["--table", table_path, "--increment", inc3,
         "--compact-target-bytes", str(128 * 1024 * 1024)]
    ) == 0
    out3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out3["n_appended"] == 1 and out3["compacted"] is True
    assert out3["version"] == 4  # v3 = append, v4 = compact
    ops = [s["operation"] for s in t.snapshots()]
    assert ops[-2:] == ["append", "compact"]
    assert t.read().count() == 13
    assert len(t._metadata()["files"]) == 1  # unpartitioned -> one file
    # the pre-compact snapshot still reads (CoW time travel)
    assert t.read(snapshot=3).count() == 13


def test_image_export_job(spark, tmp_path, capsys):
    import tarfile

    import run_image_export
    from dea_coastlines_spark.synth import corpus

    spec = corpus.CorpusSpec(tile_px=64, halo_px=4, tiles_x=3, tiles_y=2,
                             year0=2000, year1=2002, obs_per_year=4,
                             cloud_frac=0.05, seed=9)
    pdf = corpus.generate_pandas(spec)
    imgs_path = str(tmp_path / "imgs")
    out_path = str(tmp_path / "wds")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(imgs_path)

    assert run_image_export.main([
        "--images", imgs_path, "--output", out_path, "--shard-size", "16",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_in"] == len(pdf)
    assert out["n_out"] == len(pdf)  # no dedup pass
    assert out["n_shards"] >= 2

    manifest = spark.read.parquet(out_path + "_manifest").toPandas()
    assert manifest.n_samples.sum() == len(pdf)
    name = manifest.shard_name.iloc[0]
    with tarfile.open(str(tmp_path / "wds" / name)) as tar:
        assert any(m.endswith(".json") for m in tar.getnames())

    # phash dedup pass drops the corpus's near-identical repeats
    assert run_image_export.main([
        "--images", imgs_path, "--output", str(tmp_path / "wds2"),
        "--shard-size", "16", "--max-hamming", "6",
    ]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0 < out2["n_out"] < len(pdf)

    # alignment gate keeps exactly the operator's own survivors
    from dea_coastlines_spark.operators.multimodal import caption_alignment

    expect = {
        r.image_id
        for r in caption_alignment(
            spark.read.parquet(imgs_path), threshold=0.0
        ).filter("keep").select("image_id").collect()
    }
    assert 0 < len(expect) < len(pdf)  # gate is non-trivial on this corpus
    assert run_image_export.main([
        "--images", imgs_path, "--output", str(tmp_path / "wds3"),
        "--shard-size", "16", "--min-alignment", "0.0",
    ]) == 0
    out3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out3["n_out"] == len(expect)


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


def test_corpus_prep_pack_sequences(spark, tmp_path, capsys):
    """--pack-seq-len emits the concat-and-chunk layout columns with
    exact per-shard running-sum offsets."""
    import run_corpus_prep

    docs_path = str(tmp_path / "docs_p")
    out_path = str(tmp_path / "shards_p")
    rows = [
        (i, " ".join(f"tok{i}_{j}" for j in range(20 + i % 13)), "en")
        for i in range(40)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(docs_path)

    assert run_corpus_prep.main([
        "--documents", docs_path, "--output", out_path,
        "--n-shards", "3", "--keep-quality", "",
        "--pack-seq-len", "64",
    ]) == 0
    out = spark.read.parquet(out_path).toPandas()
    assert {"shard", "pos", "offset", "pack_id", "pack_offset",
            "n_packs"} <= set(out.columns)
    ntok = {i: 20 + i % 13 for i in range(40)}
    for _, grp in out.groupby("shard"):
        run = 0
        for r in grp.sort_values("pos").itertuples():
            assert r.offset == run
            assert r.pack_id == r.offset // 64
            assert r.pack_offset == r.offset % 64
            run += ntok[r.doc_id]


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
