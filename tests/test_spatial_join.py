"""Spatial join operator tests: exact-match vs brute-force oracles
(BASELINE.json metric: 'join-row ... exact match')."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dea_coastlines_spark.geometry import algorithms as ga
from dea_coastlines_spark.geometry import wkb
from dea_coastlines_spark.operators import spatial_join as sj


@pytest.fixture(scope="module")
def points_df(spark):
    rng = np.random.default_rng(10)
    n = 2000
    pdf = pd.DataFrame(
        {
            "point_id": np.arange(n, dtype=np.int64),
            "x": rng.uniform(0, 20000, n),
            "y": rng.uniform(0, 20000, n),
        }
    )
    df = spark.createDataFrame(pdf)
    df.cache().count()
    return df, pdf


def _poly_table(spark):
    rings = {
        "pa": np.array([[1000, 1000], [8000, 1500], [7000, 9000], [1500, 7000]], float),
        "pb": np.array([[9000, 9000], [19000, 9000], [19000, 19000], [9000, 19000]], float),
        "pc": np.array([[0, 12000], [6000, 12000], [3000, 19000]], float),  # triangle
    }
    pdf = pd.DataFrame(
        {"poly_id": list(rings), "geometry": [wkb.polygon(r) for r in rings.values()]}
    )
    return spark.createDataFrame(pdf), rings


def test_points_in_polygons_exact_match(spark, points_df):
    df, pdf = points_df
    polys, rings = _poly_table(spark)
    got = (
        sj.points_in_polygons(df, polys, res=10)
        .select("point_id", "poly_id")
        .toPandas()
        .sort_values(["point_id", "poly_id"])
        .reset_index(drop=True)
    )
    # brute-force oracle
    want = []
    for pid, ring in rings.items():
        inside = ga.points_in_polygon(pdf["x"].to_numpy(), pdf["y"].to_numpy(), ring)
        for p in pdf["point_id"].to_numpy()[inside]:
            want.append((int(p), pid))
    want = pd.DataFrame(want, columns=["point_id", "poly_id"]).sort_values(
        ["point_id", "poly_id"]
    ).reset_index(drop=True)
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want)


def test_points_in_polygons_left_join_keeps_unmatched(spark, points_df):
    df, pdf = points_df
    polys, rings = _poly_table(spark)
    left = sj.points_in_polygons(df, polys, res=10, how="left").toPandas()
    matched_ids = set(left[left.poly_id.notna()].point_id)
    assert set(left.point_id) == set(pdf.point_id)  # all points kept
    assert len(left) >= len(pdf)
    # unmatched rows have null poly_id
    assert left[~left.point_id.isin(matched_ids)].poly_id.isna().all()


def test_points_in_polygons_with_hole(spark):
    shell = np.array([[0, 0], [100, 0], [100, 100], [0, 100]], float)
    hole = np.array([[40, 40], [60, 40], [60, 60], [40, 60]], float)
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": ["donut"], "geometry": [wkb.polygon(shell, [hole])]})
    )
    pts = spark.createDataFrame(
        pd.DataFrame(
            {"point_id": [0, 1, 2], "x": [50.0, 20.0, 150.0], "y": [50.0, 20.0, 50.0]}
        )
    )
    got = sj.points_in_polygons(pts, polys, res=8).select("point_id").toPandas()
    assert got.point_id.tolist() == [1]  # hole and outside excluded


def test_knn_join_exact_match(spark, points_df):
    df, pdf = points_df
    rng = np.random.default_rng(11)
    feats = pd.DataFrame(
        {
            "feat_id": [f"f{i:02d}" for i in range(15)],
            "fx": rng.uniform(0, 20000, 15),
            "fy": rng.uniform(0, 20000, 15),
        }
    )
    feats["geometry"] = [wkb.point(x, y) for x, y in zip(feats.fx, feats.fy)]
    fdf = spark.createDataFrame(feats[["feat_id", "geometry"]])
    radius = 3000.0
    got = (
        sj.knn_join(df, fdf, radius_m=radius, res=12, k=1)
        .select("point_id", "feat_id", "dist_m")
        .toPandas()
        .sort_values("point_id")
        .reset_index(drop=True)
    )
    # oracle: brute force all pairs
    dx = pdf["x"].to_numpy()[:, None] - feats.fx.to_numpy()[None, :]
    dy = pdf["y"].to_numpy()[:, None] - feats.fy.to_numpy()[None, :]
    d = np.hypot(dx, dy)
    best = d.argmin(axis=1)
    bestd = d[np.arange(len(pdf)), best]
    mask = bestd <= radius
    want = pd.DataFrame(
        {
            "point_id": pdf.point_id.to_numpy()[mask],
            "feat_id": feats.feat_id.to_numpy()[best[mask]],
            "dist_m": bestd[mask],
        }
    ).sort_values("point_id").reset_index(drop=True)
    assert len(got) == len(want) > 0
    assert got.point_id.tolist() == want.point_id.tolist()
    assert got.feat_id.tolist() == want.feat_id.tolist()
    assert np.allclose(got.dist_m, want.dist_m, atol=1e-9)


def test_knn_join_linestring_features(spark):
    line1 = np.array([[0, 100], [1000, 100]], float)
    line2 = np.array([[0, 500], [1000, 500]], float)
    feats = spark.createDataFrame(
        pd.DataFrame(
            {
                "feat_id": ["l1", "l2"],
                "geometry": [wkb.linestring(line1), wkb.linestring(line2)],
            }
        )
    )
    pts = spark.createDataFrame(
        pd.DataFrame({"point_id": [0, 1, 2], "x": [500.0, 500.0, 500.0], "y": [0.0, 400.0, 5000.0]})
    )
    got = sj.knn_join(pts, feats, radius_m=600.0, res=12, k=1).toPandas().set_index("point_id")
    assert got.loc[0, "feat_id"] == "l1" and got.loc[0, "dist_m"] == 100.0
    assert got.loc[1, "feat_id"] == "l2" and got.loc[1, "dist_m"] == 100.0
    assert 2 not in got.index  # beyond radius


def test_knn_join_deterministic_tiebreak(spark):
    # two features at identical distance -> lower feat_id wins, always
    feats = spark.createDataFrame(
        pd.DataFrame(
            {
                "feat_id": ["b", "a"],
                "geometry": [wkb.point(0.0, 100.0), wkb.point(0.0, -100.0)],
            }
        )
    )
    pts = spark.createDataFrame(pd.DataFrame({"point_id": [0], "x": [0.0], "y": [0.0]}))
    for _ in range(3):
        got = sj.knn_join(pts, feats, radius_m=500.0, res=12, k=1).toPandas()
        assert got.feat_id.tolist() == ["a"]


def test_knn_k2(spark):
    feats = spark.createDataFrame(
        pd.DataFrame(
            {
                "feat_id": ["a", "b", "c"],
                "geometry": [wkb.point(100.0, 0.0), wkb.point(200.0, 0.0), wkb.point(5000.0, 0.0)],
            }
        )
    )
    pts = spark.createDataFrame(pd.DataFrame({"point_id": [0], "x": [0.0], "y": [0.0]}))
    got = sj.knn_join(pts, feats, radius_m=1000.0, res=12, k=2).toPandas()
    assert got.sort_values("knn_rank").feat_id.tolist() == ["a", "b"]


def test_points_in_polygons_distributed_matches_broadcast(spark):
    """The big-polygon-table path (no driver materialization, shuffled
    equi join) must produce exactly the broadcast path's rows."""
    import pandas as pd

    from dea_coastlines_spark.geometry import wkb as _wkb

    rng = np.random.default_rng(11)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": np.arange(4000),
                "x": rng.uniform(0, 20000, 4000),
                "y": rng.uniform(0, 20000, 4000),
            }
        )
    )
    rects = [(f"p{i}", 1000.0 * i, 500.0 * i, 1000.0 * i + 4000, 500.0 * i + 6000)
             for i in range(12)]
    hole = np.array([[14000, 4000], [17000, 4000], [17000, 7000], [14000, 7000]], float)
    polys = spark.createDataFrame(
        pd.DataFrame(
            {
                "poly_id": [r[0] for r in rects] + ["holed"],
                "geometry": [
                    _wkb.polygon(
                        np.array([[r[1], r[2]], [r[3], r[2]], [r[3], r[4]], [r[1], r[4]]])
                    )
                    for r in rects
                ] + [
                    _wkb.polygon(
                        np.array([[13000, 1000], [19000, 1000], [19000, 9000],
                                  [13000, 9000]], float),
                        [hole],
                    )
                ],
            }
        )
    )
    for how in ("inner", "left"):
        a = sj.points_in_polygons(pts, polys, res=12, how=how)
        b = sj.points_in_polygons(pts, polys, res=12, how=how, broadcast_polys=False)
        assert a.schema == b.schema
        ra = sorted(a.collect(), key=lambda r: (r.point_id, r.poly_id or ""))
        rb = sorted(b.collect(), key=lambda r: (r.point_id, r.poly_id or ""))
        assert ra == rb and len(ra) > 100
    assert sum(r.poly_id is None for r in ra) > 0
    assert sum(r.poly_id == "holed" for r in ra) > 0


def test_points_in_polygons_broadcast_plan_is_one_kernel(spark):
    """The broadcast path is one narrow mapInPandas over the points: no
    cover join, no attribute join, no join back."""
    import contextlib
    import io
    import re

    polys, _ = _poly_table(spark)
    pts = spark.range(100).select(
        F.col("id").alias("point_id"),
        (F.col("id") * 200.0).alias("x"),
        (F.col("id") * 150.0).alias("y"),
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sj.points_in_polygons(pts, polys, how="inner").explain("formatted")
    nodes = re.findall(r"^\(\d+\) (\w+)", buf.getvalue(), re.M)
    assert nodes.count("MapInPandas") == 1, nodes
    assert not [n for n in nodes if "Join" in n], nodes


def test_knn_join_non_broadcast_matches_broadcast(spark):
    import pandas as pd

    from dea_coastlines_spark.geometry import wkb as _wkb

    rng = np.random.default_rng(5)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "point_id": np.arange(2000),
                "x": rng.uniform(0, 20000, 2000),
                "y": rng.uniform(0, 20000, 2000),
            }
        )
    )
    feats = spark.createDataFrame(
        pd.DataFrame(
            {
                "feat_id": [f"f{i}" for i in range(6)],
                "geometry": [
                    _wkb.point(3000.0 * i + 500, 2500.0 * i + 700) for i in range(6)
                ],
            }
        )
    )
    a = sj.knn_join(pts, feats, radius_m=4000.0, res=12, k=1)
    b = sj.knn_join(pts, feats, radius_m=4000.0, res=12, k=1,
                    broadcast_features=False)
    ka = sorted((r.point_id, r.feat_id, round(r.dist_m, 9)) for r in a.collect())
    kb = sorted((r.point_id, r.feat_id, round(r.dist_m, 9)) for r in b.collect())
    assert ka == kb and len(ka) > 100


def test_broadcast_auto_resolution(spark):
    from dea_coastlines_spark.operators.spatial_join import resolve_broadcast

    small = spark.range(10)
    big = spark.range(100)
    assert resolve_broadcast(small, "auto", probe_rows=50) is True
    assert resolve_broadcast(big, "auto", probe_rows=50) is False
    assert resolve_broadcast(big, True) is True
    assert resolve_broadcast(small, False) is False
