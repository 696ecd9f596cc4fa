"""End-to-end pipeline tests: synthetic corpus -> composites -> shorelines,
with closed-form oracles (the analytic coastline). Mirrors the reference's
dependency-ordered integration chain (tests/test_coastline.py) but asserts
numeric parity, not exit codes (SURVEY.md §5)."""

from __future__ import annotations

import json

import numpy as np
import pytest

from dea_coastlines_spark.codecs import image as img_codec
from dea_coastlines_spark.codecs import tiff
from dea_coastlines_spark.geometry import wkb
from dea_coastlines_spark.operators import composite as comp_op
from dea_coastlines_spark.plans.pipeline import shoreline_pipeline
from dea_coastlines_spark.synth import corpus

SPEC = corpus.CorpusSpec(
    tile_px=96, halo_px=6, tiles_x=3, tiles_y=2,
    year0=2000, year1=2002, obs_per_year=5, cloud_frac=0.04, seed=7,
)


@pytest.fixture(scope="module")
def tiles_df(spark):
    df = spark.createDataFrame(corpus.generate_pandas(SPEC))
    df.cache().count()
    return df


def test_corpus_row_invariant(tiles_df):
    """Per-row invariant (BASELINE.json input_hint): decoded pixels
    allclose + PSNR>=40dB + caption equality + phash match."""
    rows = tiles_df.limit(10).collect()
    for r in rows:
        meta = json.loads(r.caption)
        arr = img_codec.decode_tile(bytes(r.bytes), r.fmt)
        ref, tide = corpus.make_tile(SPEC, meta["tile_x"], meta["tile_y"], meta["year"], meta["obs"])
        assert arr.shape == (r.h, r.w)
        assert np.array_equal(np.isnan(arr), np.isnan(ref))
        assert np.allclose(arr[~np.isnan(arr)], ref[~np.isnan(ref)], atol=2e-4)
        assert img_codec.psnr(ref, arr) >= 40.0
        assert img_codec.phash64(arr) == r.phash
        assert meta["tide_m"] == round(tide, 4)


def test_spark_generator_matches_pandas(spark, tiles_df):
    dist = corpus.generate_spark(spark, SPEC).toPandas().set_index("image_id").sort_index()
    local = corpus.generate_pandas(SPEC).set_index("image_id").sort_index()
    assert list(dist.index) == list(local.index)
    assert all(bytes(a) == bytes(b) for a, b in zip(dist["bytes"], local["bytes"]))
    assert dist["phash"].tolist() == local["phash"].tolist()
    assert dist["caption"].tolist() == local["caption"].tolist()


def test_composite_matches_numpy_oracle(tiles_df):
    comps = comp_op.annual_composites(tiles_df, apply_tide_filter=False).toPandas()
    assert len(comps) == SPEC.tiles_x * SPEC.tiles_y * len(SPEC.years)
    row = comps[(comps.tile_x == 1) & (comps.tile_y == 0) & (comps.year == 2001)].iloc[0]
    stack = np.stack([corpus.make_tile(SPEC, 1, 0, 2001, o)[0] for o in range(SPEC.obs_per_year)])
    med = tiff.decode_f32(bytes(row.mndwi_bytes))
    want = np.nanmedian(stack, axis=0)
    # atol = PNG 16-bit quantization step (2/65534 ~= 3.1e-5)
    assert np.allclose(
        med[~np.isnan(want)], want[~np.isnan(want)], atol=2e-4, equal_nan=True
    )
    cnt = tiff.decode_f32(bytes(row.count_bytes))
    assert np.array_equal(cnt, np.isfinite(stack).sum(axis=0).astype(np.float32))
    assert row.n_obs == SPEC.obs_per_year


def test_tide_filter_prunes_rows(tiles_df):
    meta = comp_op.with_caption(tiles_df)
    kept = comp_op.tide_filtered(meta)
    n_all, n_kept = meta.count(), kept.count()
    assert 0 < n_kept < n_all
    # every kept obs is inside the per-tile window (oracle recompute)
    pdf = kept.select("tile_x", "tile_y", "tide_m").toPandas()
    allm = meta.select("tile_x", "tile_y", "tide_m").toPandas()
    for (tx, ty), grp in allm.groupby(["tile_x", "tile_y"]):
        lo = grp.tide_m.min(); hi = grp.tide_m.max()
        centre, half = (lo + hi) / 2, (hi - lo) * 0.25
        got = pdf[(pdf.tile_x == tx) & (pdf.tile_y == ty)].tide_m
        assert ((got >= centre - half - 1e-9) & (got <= centre + half + 1e-9)).all()


def test_tide_cutoffs_span_the_years_read(spark, tmp_path):
    """The cutoffs come from the rows passed in, as the reference's
    `tide_cutoffs` covers the range the run loads (raster.py:283-289):
    a `years=` read gets the window of its own years, not the tile's
    full series. Each year's tides sit in their own band, so the two
    readings keep different observations."""
    from dea_coastlines_spark.sources import read_tiles, write_tiles

    spec = corpus.CorpusSpec(
        tile_px=32, halo_px=2, tiles_x=2, tiles_y=1,
        year0=2000, year1=2002, obs_per_year=5, seed=5,
    )
    pdf = corpus.generate_pandas(spec)

    def tide(m):  # year y, observation o -> 10*(y - 2000) + o, per-tile offset
        return 100.0 * m["tile_x"] + 10.0 * (m["year"] - 2000) + m["obs"]

    metas = [json.loads(c) for c in pdf.caption]
    pdf["caption"] = [json.dumps({**m, "tide_m": tide(m)}) for m in metas]
    write_tiles(spark.createDataFrame(pdf, schema=corpus.TILES_SCHEMA), str(tmp_path / "t"))

    def kept(years):
        df = comp_op.tide_filtered(
            comp_op.with_caption(read_tiles(spark, str(tmp_path / "t"), years=years))
        )
        return {(r.tile_x, r.year, r.obs) for r in df.select("tile_x", "year", "obs").collect()}

    def inside_window(years):
        out = set()
        for tx in range(spec.tiles_x):
            ms = [m for m in metas if m["tile_x"] == tx and years[0] <= m["year"] <= years[1]]
            lo, hi = min(map(tide, ms)), max(map(tide, ms))
            centre, half = (lo + hi) / 2, (hi - lo) * 0.25
            out |= {(tx, m["year"], m["obs"]) for m in ms if centre - half <= tide(m) <= centre + half}
        return out

    full, subset = kept(None), kept((2001, 2002))
    # full window [6, 18] (+ offset): every 2001 observation
    assert full == inside_window((2000, 2002)) == {
        (tx, 2001, o) for tx in (0, 1) for o in range(5)
    }
    # 2001-2002 window [13.5, 20.5]: 2001's last and 2002's first
    # observation, not all of 2001
    assert subset == inside_window((2001, 2002)) == {
        (tx, y, o) for tx in (0, 1) for y, o in ((2001, 4), (2002, 0))
    }


def test_shorelines_match_analytic_coast(tiles_df):
    """Extracted waterline should sit within ~1 pixel of the analytic
    median shoreline (noise sd 0.08 over tanh ramp; median of 2-3 obs)."""
    sl = shoreline_pipeline(tiles_df, apply_tide_filter=True).toPandas()
    assert len(sl) > 0
    # min_vertices=10 applies to the extracted contour PRE-clip (reference:
    # subpixel_contours drops short contours before the study-area clip,
    # vector.py:1450-1456 then :1604) — clipped pieces may be shorter.
    assert (sl.n_vertices >= 2).all()
    # per year: all vertices near the analytic coast at median kept tide
    meta = comp_op.tide_filtered(comp_op.with_caption(tiles_df)).select(
        "year", "tide_m").toPandas()
    for year, grp in sl.groupby("year"):
        tide_med = float(meta[meta.year == year].tide_m.median())
        verts = np.vstack([wkb.coords_of(bytes(g)) for g in grp.geometry])
        expect = corpus.y_coast(SPEC, verts[:, 0], int(year), tide_med)
        err = np.abs(verts[:, 1] - expect)
        assert np.median(err) < SPEC.res_m  # subpixel-ish in median
        assert np.percentile(err, 95) < 3 * SPEC.res_m


def test_shorelines_seamless_across_tiles(tiles_df):
    """Halo+clip discipline: contour pieces from adjacent tiles must meet
    at tile boundaries (endpoints coincide) — the reference's buffer+clip
    semantics (raster.py:684-689)."""
    sl = shoreline_pipeline(tiles_df, apply_tide_filter=True).toPandas()
    year = int(sl.year.iloc[0])
    g = sl[sl.year == year]
    # boundary x between tile 0 and 1
    bx = SPEC.tile_core_bounds(0, 0)[2]
    left_ends, right_ends = [], []
    for _, r in g.iterrows():
        c = wkb.coords_of(bytes(r.geometry))
        for p in (c[0], c[-1]):
            if abs(p[0] - bx) < 1e-6:
                (left_ends if r.tile_x == 0 else right_ends).append(p)
    assert left_ends and right_ends
    left_ends = np.array(left_ends); right_ends = np.array(right_ends)
    for p in left_ends:
        d = np.hypot(right_ends[:, 0] - p[0], right_ends[:, 1] - p[1]).min()
        assert d < 1e-3  # metres; endpoints coincide


def test_gapfill_composites_window(tiles_df):
    gf = comp_op.gapfill_composites(tiles_df, apply_tide_filter=False).toPandas()
    assert len(gf) == SPEC.tiles_x * SPEC.tiles_y * len(SPEC.years)
    # middle year uses 3x the obs of a single year
    mid = gf[(gf.tile_x == 0) & (gf.tile_y == 0) & (gf.year == 2001)].iloc[0]
    assert mid.n_obs == 3 * SPEC.obs_per_year
    edge = gf[(gf.tile_x == 0) & (gf.tile_y == 0) & (gf.year == 2000)].iloc[0]
    assert edge.n_obs == 2 * SPEC.obs_per_year
    # oracle: 3-year nanmedian for the middle year
    stack = np.stack([
        corpus.make_tile(SPEC, 0, 0, y, o)[0]
        for y in (2000, 2001, 2002) for o in range(SPEC.obs_per_year)
    ])
    want = np.nanmedian(stack, axis=0)
    got = tiff.decode_f32(bytes(mid.mndwi_bytes))
    ok = ~np.isnan(want)
    assert np.allclose(got[ok], want[ok], atol=2e-4)


def test_parallelism_invariance_exact_match(spark, tiles_df):
    """North-rule hard requirement: N vs 4N runs must produce EXACTLY
    the same rows (SURVEY.md §7 hard part #2). Same plan executed under
    very different shuffle fan-outs -> byte-identical sorted output."""

    def run(parts: int):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            rows = shoreline_pipeline(tiles_df, apply_tide_filter=True).collect()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        return sorted(
            (r.cell_id, r.tile_x, r.tile_y, r.year, bytes(r.geometry).hex(),
             r.n_vertices, round(r.length_m, 9), r.certainty)
            for r in rows
        )

    a = run(3)
    b = run(29)
    assert a == b
    assert len(a) > 0


def test_fused_equals_staged(spark, tiles_df):
    """shoreline_pipeline (one grouped stage, no TIFF round trip) must be
    byte-identical to annual_composites |> contours.shorelines, the
    staged pair the rates and masking paths run."""
    from dea_coastlines_spark.operators import contours as cont_op

    fused = shoreline_pipeline(tiles_df, apply_tide_filter=True)
    staged = cont_op.shorelines(comp_op.annual_composites(tiles_df, apply_tide_filter=True))

    def key(rows):
        return sorted(
            (r.cell_id, r.tile_x, r.tile_y, r.year, bytes(r.geometry).hex(),
             r.n_vertices, r.length_m.hex(), r.certainty)
            for r in rows
        )

    a = key(fused.collect())
    assert a == key(staged.collect())
    assert len(a) > 0


def test_degenerate_groups(spark):
    """Groups with nothing to contour give defined output, not errors: a
    fully masked tile-year and an all-water tile give zero rows, a
    one-observation group is 'insufficient data', and an empty tiles
    frame gives an empty frame with the shoreline schema."""
    from dea_coastlines_spark.operators import contours as cont_op

    pdf = corpus.generate_pandas(SPEC)
    meta = pdf.caption.map(json.loads)
    tile_x, year, obs = (meta.map(lambda m, k=k: m[k]) for k in ("tile_x", "year", "obs"))
    n = SPEC.tile_px + 2 * SPEC.halo_px

    def fill(value):
        return img_codec.encode_tile(np.full((n, n), value, np.float32), "png")

    pdf.loc[(tile_x == 0) & (year == 2000), "bytes"] = fill(np.nan)
    pdf.loc[tile_x == 1, "bytes"] = fill(0.8)
    pdf = pdf[~((tile_x == 2) & (year == 2001) & (obs > 0))]
    tiles = spark.createDataFrame(pdf, corpus.TILES_SCHEMA)
    sl = shoreline_pipeline(tiles, apply_tide_filter=False).toPandas()

    groups = set(zip(sl.tile_x, sl.year))
    assert (0, 2000) not in groups and (0, 2001) in groups
    assert not (sl.tile_x == 1).any()
    one = sl[(sl.tile_x == 2) & (sl.year == 2001)]
    assert len(one) > 0 and (one.certainty == "insufficient data").all()

    empty = shoreline_pipeline(spark.createDataFrame([], corpus.TILES_SCHEMA))
    assert empty.schema == spark.createDataFrame([], cont_op.SHORELINE_SCHEMA).schema
    assert empty.count() == 0


def test_shoreline_pipeline_fails_on_tile_decoded_to_wrong_shape(spark):
    """A JPEG tile whose frame header says 8 rows instead of 32 decodes
    cleanly to (8, 32). Inside the shoreline grouped map the job fails
    with the TileDecodeError that names the tile."""
    spec = corpus.CorpusSpec(
        tile_px=24, halo_px=4, tiles_x=1, tiles_y=1, year0=2001, year1=2001,
        obs_per_year=2, cloud_frac=0.0, fmt="jpeg", seed=5,
    )
    pdf = corpus.generate_pandas(spec)
    bad = bytearray(pdf.at[1, "bytes"])
    sof = bad.index(b"\xff\xc0")
    bad[sof + 5 : sof + 7] = (8).to_bytes(2, "big")  # SOF0 height
    pdf.at[1, "bytes"] = bytes(bad)
    tiles = spark.createDataFrame(pdf, corpus.TILES_SCHEMA)
    with pytest.raises(Exception) as ei:
        shoreline_pipeline(tiles, apply_tide_filter=False).collect()
    assert (
        "TileDecodeError: tile (0, 0) year 2001: decoded shape (8, 32), expected (32, 32)"
        in str(ei.value)
    )


def test_shorelines_in_aoi_matches_bruteforce(spark, tiles_df):
    """Vertex-level PIP of shorelines against AOI rectangles == numpy
    brute force (n_inside, frac_inside, and the surviving pair set),
    through the one shorelines_in_aoi (broadcast AOI kernel)."""
    import pandas as pd

    from dea_coastlines_spark.geometry import algorithms as ga
    from dea_coastlines_spark.plans.pipeline import shorelines_in_aoi

    sl_df = shoreline_pipeline(tiles_df, apply_tide_filter=True)
    # rectangles straddling the synthetic coast (x in [0, 8640],
    # shoreline y in [-623, 623]): one wholly covering, one partial,
    # one fully inland (no waterline vertices)
    rects = {
        "cover": (-10.0, -2000.0, 9000.0, 2000.0),
        "west_half": (-10.0, -2000.0, 4000.0, 2000.0),
        "inland": (-10.0, 5000.0, 9000.0, 9000.0),
    }
    aoi = spark.createDataFrame(
        pd.DataFrame(
            {
                "aoi_id": list(rects),
                "geometry": [
                    wkb.polygon(
                        np.array(
                            [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
                        )
                    )
                    for x0, y0, x1, y1 in rects.values()
                ],
            }
        )
    )
    got = {
        (r.tile_x, r.tile_y, r.year, r.aoi_id): (
            r.n_inside, r.n_vertices_total, r.frac_inside,
        )
        for r in shorelines_in_aoi(sl_df, aoi, min_frac=0.0).collect()
    }

    want = {}
    for r in sl_df.collect():
        c = wkb.coords_of(bytes(r.geometry))
        for aid, (x0, y0, x1, y1) in rects.items():
            shell = np.array(
                [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
            )
            inside = ga.points_in_polygon(c[:, 0], c[:, 1], shell)
            if inside.sum() > 0:
                key = (r.tile_x, r.tile_y, r.year, aid)
                # shorelines may emit >1 row per (tile, year); keys here
                # collide only if both rows match the same AOI — fold
                prev = want.get(key, (0, 0, 0.0))
                n_in = prev[0] + int(inside.sum())
                n_tot = prev[1] + len(c)
                want[key] = (n_in, n_tot, n_in / n_tot)
    # fold engine rows the same way (sum over duplicate business keys)
    folded = {}
    for r in shorelines_in_aoi(sl_df, aoi, min_frac=0.0).collect():
        key = (r.tile_x, r.tile_y, r.year, r.aoi_id)
        prev = folded.get(key, (0, 0))
        folded[key] = (prev[0] + r.n_inside, prev[1] + r.n_vertices_total)
    folded = {k: (a, b, a / b) for k, (a, b) in folded.items()}
    assert set(folded) == set(want)
    for k in want:
        assert folded[k][0] == want[k][0], k
        assert folded[k][1] == want[k][1], k
    assert not any(a == "inland" for (_, _, _, a) in folded)
    # min_frac semantics: full-cover AOI keeps everything
    kept = shorelines_in_aoi(sl_df, aoi, min_frac=0.999).filter(
        "aoi_id = 'cover'"
    )
    assert kept.count() == sl_df.count()


def test_multi_level_shorelines(spark, tiles_df):
    """Multi-z contouring: level 0.0 rows equal the single-level op
    byte-for-byte; other levels produce distinct shoreline geometry
    (monotone coast: higher MNDWI threshold shifts the waterline)."""
    from dea_coastlines_spark.operators.contours import (
        multi_level_shorelines,
        shorelines,
    )

    comps = comp_op.annual_composites(tiles_df, apply_tide_filter=True)
    comps.cache().count()
    multi = multi_level_shorelines(comps, levels=[-0.2, 0.0, 0.2]).collect()
    single = shorelines(comps).collect()

    def key(r):
        return (r.cell_id, r.tile_x, r.tile_y, r.year,
                bytes(r.geometry), r.n_vertices)

    at0 = sorted(key(r) for r in multi if r.level == 0.0)
    assert at0 == sorted(key(r) for r in single)
    by_level = {lv: {bytes(r.geometry) for r in multi if r.level == lv}
                for lv in (-0.2, 0.0, 0.2)}
    assert by_level[-0.2] and by_level[0.2]
    assert by_level[-0.2].isdisjoint(by_level[0.0])
    assert by_level[0.2].isdisjoint(by_level[0.0])


def test_shorelines_in_aoi_min_frac_and_plan(spark, tiles_df):
    """shorelines_in_aoi's min_frac filter keeps exactly the brute-force
    pairs at or above the fraction, and its physical plan has ZERO
    exchanges past the shoreline stage (the PIP chain is one narrow
    kernel)."""
    import contextlib
    import io
    import re

    import pandas as pd

    from dea_coastlines_spark.geometry import algorithms as ga
    from dea_coastlines_spark.plans.pipeline import shorelines_in_aoi

    sl_df = shoreline_pipeline(tiles_df, apply_tide_filter=True)
    rects = {
        "cover": (-10.0, -2000.0, 9000.0, 2000.0),
        "west_half": (-10.0, -2000.0, 4000.0, 2000.0),
        "east_q": (6500.0, -2000.0, 9000.0, 2000.0),
    }
    shells = {
        aid: np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
        for aid, (x0, y0, x1, y1) in rects.items()
    }
    aoi = spark.createDataFrame(
        pd.DataFrame(
            {"aoi_id": list(shells),
             "geometry": [wkb.polygon(sh) for sh in shells.values()]}
        )
    )
    # plan: no Exchange beyond the upstream shoreline stage (explained
    # before sl_df runs: an executed AQE plan also lists its initial plan)
    buf_up, buf_fused = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(buf_up):
        sl_df.explain("formatted")
    with contextlib.redirect_stdout(buf_fused):
        shorelines_in_aoi(sl_df, aoi).explain("formatted")
    n_up = len(re.findall(r"\) Exchange", buf_up.getvalue()))
    n_fused = len(re.findall(r"\) Exchange", buf_fused.getvalue()))
    assert n_fused == n_up

    sl_rows = sl_df.collect()

    def key(r, aid, n_in, n, frac):
        return (r.tile_x, r.tile_y, r.year, aid, n_in, n, round(frac, 9),
                bytes(r.geometry).hex())

    cols = ["tile_x", "tile_y", "year", "geometry", "aoi_id", "n_inside",
            "n_vertices_total", "frac_inside"]
    for min_frac in (0.0, 0.5, 0.999):
        want = []
        for r in sl_rows:
            c = wkb.coords_of(bytes(r.geometry))
            for aid, shell in shells.items():
                n_in = int(ga.points_in_polygon(c[:, 0], c[:, 1], shell).sum())
                if n_in > 0 and n_in / len(c) >= min_frac:
                    want.append(key(r, aid, n_in, len(c), n_in / len(c)))
        got = [
            key(r, r.aoi_id, r.n_inside, r.n_vertices_total, r.frac_inside)
            for r in shorelines_in_aoi(sl_df, aoi, min_frac=min_frac)
            .select(*cols).collect()
        ]
        assert sorted(got) == sorted(want) and want, min_frac
