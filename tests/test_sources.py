"""Sources/sinks: snapshot table (time travel, manifest pruning,
partition overwrite, vacuum), tile source/sink with caption-derived
partition columns, JVM cell-id expression parity, CSV scan, GeoJSON
export round-trip."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from dea_coastlines_spark.geometry import wkb
from dea_coastlines_spark.index import cells
from dea_coastlines_spark.index.cells_expr import cell_id_expr
from dea_coastlines_spark.sources import (
    SnapshotTable,
    read_csv_survey,
    read_tiles,
    with_tile_meta,
    write_geojson,
    write_tiles,
)
from dea_coastlines_spark.synth import corpus


@pytest.fixture()
def sample_df(spark):
    return spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(30)], "id long, year int, val string"
    )


def test_snapshot_create_read(spark, tmp_path, sample_df):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    v = t.create(sample_df, partition_by=["year"])
    assert v == 1
    got = t.read()
    assert got.count() == 30
    assert set(got.columns) == {"id", "year", "val"}
    # partition column round-trips with the right dtype
    assert dict(got.dtypes)["year"] == "int"
    assert sorted(r.year for r in got.select("year").distinct().collect()) == [0, 1, 2]


def test_snapshot_append_and_time_travel(spark, tmp_path, sample_df):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(sample_df, partition_by=["year"])
    more = spark.createDataFrame([(100, 3, "new")], "id long, year int, val string")
    v2 = t.append(more)
    assert v2 == 2
    assert t.read().count() == 31
    assert t.read(snapshot=1).count() == 30  # time travel
    log = t.snapshots()
    assert [s["operation"] for s in log] == ["create", "append"]
    assert log[1]["n_rows"] == 31


def test_snapshot_manifest_pruning(spark, tmp_path, sample_df):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(sample_df, partition_by=["year"])
    stats = t.prune_stats(where={"year": 1})
    assert stats["kept_files"] < stats["total_files"]
    df = t.read(where={"year": 1})
    assert df.count() == 10
    assert all(r.year == 1 for r in df.collect())
    # range + list forms
    assert t.read(where={"year": (1, 2)}).count() == 20
    assert t.read(where={"year": [0, 2]}).count() == 20
    # pruning to nothing -> empty df with full schema
    empty = t.read(where={"year": 99})
    assert empty.count() == 0
    assert set(empty.columns) == {"id", "year", "val"}
    with pytest.raises(KeyError):
        t.read(where={"val": "v1"})


def _tasks_of_group(sc, group: str) -> int:
    tracker = sc.statusTracker()
    return sum(
        tracker.getStageInfo(sid).numTasks
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
        if tracker.getStageInfo(sid) is not None
    )


def test_snapshot_fully_pruned_read_is_one_task(spark, tmp_path, sample_df):
    """A read pruned to no files is an empty one-partition plan: its
    count() runs at most one task, and its schema is the table's."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(sample_df, partition_by=["year"])
    sc = spark.sparkContext
    group = f"pruned-read-{tmp_path.name}"
    sc.setJobGroup(group, "fully pruned SnapshotTable.read")
    try:
        empty = t.read(where={"year": 1900})
        assert empty.count() == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _tasks_of_group(sc, group) <= 1
    assert empty.schema == t.read().schema


def test_snapshot_read_splits_by_manifest_bytes(spark, tmp_path):
    """Scan splits are planned from the manifest: k small files feeding
    a Python kernel run it in one task, and inputs larger than
    spark.sql.files.maxPartitionBytes still split at that size."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(
        spark.range(600).select(
            F.col("id"), (F.col("id") % 6).cast("int").alias("year")
        ),
        partition_by=["year"],
    )
    df = t.read(where={"year": (1, 4)})

    def kernel(batches):
        from pyspark import TaskContext

        import pandas as pd

        part = TaskContext.get().partitionId()
        for pdf in batches:
            yield pd.DataFrame({"part": [part] * len(pdf), "id": pdf["id"]})

    got = df.mapInPandas(kernel, "part int, id long").toPandas()
    assert sorted(got["id"]) == [i for i in range(600) if 1 <= i % 6 <= 4]
    assert got["part"].nunique() == 1

    files = json.loads(
        (tmp_path / "t" / "metadata" / "v1.metadata.json").read_text()
    )["files"]
    total = sum(f["bytes"] for f in files)
    split = max(f["bytes"] for f in files)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    try:
        n = t.read().rdd.getNumPartitions()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert n == -(-total // split) > 1


def test_snapshot_overwrite_partitions(spark, tmp_path, sample_df):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(sample_df, partition_by=["year"])
    # recompute year=1 with different values (incremental annual update)
    repl = spark.createDataFrame(
        [(1000 + i, 1, "recomputed") for i in range(4)], "id long, year int, val string"
    )
    t.overwrite_partitions(repl)
    got = t.read()
    assert got.count() == 24  # 20 untouched + 4 replacements
    y1 = got.filter(F.col("year") == 1).collect()
    assert len(y1) == 4 and all(r.val == "recomputed" for r in y1)
    # old snapshot still intact
    assert t.read(snapshot=1).count() == 30


def test_snapshot_vacuum(spark, tmp_path, sample_df):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(sample_df, partition_by=["year"])
    repl = spark.createDataFrame([(1, 1, "x")], "id long, year int, val string")
    t.overwrite_partitions(repl)
    removed = t.vacuum(keep_last=1, min_age_s=0.0)  # test files are seconds old
    assert removed > 0
    assert t.read().count() == 21  # current snapshot unaffected


def test_cell_id_expr_matches_numpy(spark):
    rng = np.random.default_rng(3)
    xs = rng.uniform(-2.5e6, 2.5e6, 200)
    ys = rng.uniform(-2.5e6, 2.5e6, 200)
    for res in (4, 10, 14):
        want = cells.xy_to_cell(xs, ys, res)
        df = spark.createDataFrame(
            [(float(a), float(b)) for a, b in zip(xs, ys)], "x double, y double"
        )
        got = df.select(cell_id_expr(F.col("x"), F.col("y"), res)).collect()
        assert [r.cell_id for r in got] == want.tolist()


@pytest.fixture(scope="module")
def tile_spec():
    return corpus.CorpusSpec(
        tile_px=64, halo_px=4, tiles_x=2, tiles_y=2,
        year0=2000, year1=2002, obs_per_year=2, seed=9,
    )


def test_tile_table_roundtrip_and_pruning(spark, tmp_path, tile_spec):
    tiles = spark.createDataFrame(corpus.generate_pandas(tile_spec))
    path = str(tmp_path / "tiles")
    table = write_tiles(tiles, path)
    n_expected = 2 * 2 * 3 * 2

    got = read_tiles(spark, path)
    assert got.count() == n_expected
    # caption-derived partition columns present and correct
    row = got.filter(F.col("image_id") == "t001_001_2001_00").collect()[0]
    meta = json.loads(row.caption)
    assert (row.tile_x, row.tile_y, row.year) == (1, 1, 2001)
    assert meta["year"] == 2001

    # year pruning reads fewer files than the full table
    pruned = read_tiles(spark, path, years=2001)
    assert pruned.count() == 2 * 2 * 2
    stats = SnapshotTable(spark, path).prune_stats(where={"year": 2001})
    assert stats["kept_files"] < stats["total_files"]
    assert stats["kept_rows"] == 8

    # bytes survive the round trip exactly (per-row invariant feed)
    src = {r.image_id: bytes(r.bytes) for r in tiles.collect()}
    for r in pruned.collect():
        assert bytes(r.bytes) == src[r.image_id]


def test_tile_table_incremental_year(spark, tmp_path, tile_spec):
    tiles = spark.createDataFrame(corpus.generate_pandas(tile_spec))
    path = str(tmp_path / "tiles")
    write_tiles(tiles, path)
    # a new year arrives (reference README.md:27 incremental updates)
    spec2 = corpus.CorpusSpec(
        tile_px=64, halo_px=4, tiles_x=2, tiles_y=2,
        year0=2003, year1=2003, obs_per_year=2, seed=9,
    )
    new = spark.createDataFrame(corpus.generate_pandas(spec2))
    write_tiles(new, path, mode="append")
    assert read_tiles(spark, path, years=2003).count() == 8
    assert read_tiles(spark, path).count() == 24 + 8
    assert read_tiles(spark, path, snapshot=1).count() == 24


def test_csv_survey_scan(spark, tmp_path):
    p = tmp_path / "survey.csv"
    p.write_text(
        "site,date,distance,z,id\n"
        "narrabeen,2001-05-04,12.5,0.7,t1\n"
        "narrabeen,2002-06-01,14.0,0.8,t2\n"
    )
    df = read_csv_survey(spark, str(p))
    rows = df.orderBy("id").collect()
    assert rows[0].distance == 12.5
    assert rows[0].date.year == 2001
    assert dict(df.dtypes)["date"] == "timestamp"


def test_geojson_export(spark, tmp_path):
    df = spark.createDataFrame(
        [
            ("a", bytearray(wkb.point(1.0, 2.0))),
            ("b", bytearray(wkb.linestring(np.array([[0.0, 0.0], [1.0, 1.0]])))),
        ],
        "name string, geometry binary",
    )
    out = str(tmp_path / "o.geojson")
    n = write_geojson(df, out)
    assert n == 2
    gj = json.loads(open(out).read())
    assert gj["type"] == "FeatureCollection"
    feats = {f["properties"]["name"]: f for f in gj["features"]}
    assert feats["a"]["geometry"] == {"type": "Point", "coordinates": [1.0, 2.0]}
    assert feats["b"]["geometry"]["type"] == "LineString"


def test_with_tile_meta_is_jvm_only(spark, tile_spec):
    """The caption parse + cell assignment plan contains no Python
    stages (BatchEvalPython/ArrowEvalPython/MapInPandas)."""
    import contextlib
    import io

    tiles = spark.createDataFrame(corpus.generate_pandas(tile_spec))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        with_tile_meta(tiles).explain("formatted")
    plan = buf.getvalue()
    assert "Python" not in plan and "InPandas" not in plan


def test_snapshot_merge_upsert(spark, tmp_path, sample_df):
    """Copy-on-write MERGE: matched keys replaced, unmatched target rows
    kept, new keys inserted — and files of untouched partitions carry
    over in the manifest byte-identically (no rewrite)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(sample_df, partition_by=["year"])
    before = {e["path"] for e in t._metadata()["files"]}
    # source touches only year=1: update ids 1,4 and insert id 100
    src = spark.createDataFrame(
        [(1, 1, "UPD1"), (4, 1, "UPD4"), (100, 1, "NEW")],
        "id long, year int, val string",
    )
    v = t.merge(src, on=["id"])
    assert v == 2
    got = {(r.id, r.val) for r in t.read().collect()}
    assert (1, "UPD1") in got and (4, "UPD4") in got and (100, "NEW") in got
    assert (7, "v7") in got  # untouched row in the touched partition
    assert (0, "v0") in got  # untouched partition
    assert t.read().count() == 31
    # untouched partitions' files were NOT rewritten
    after = t._metadata()["files"]
    untouched = {e["path"] for e in after if e["partition"].get("year") != "1"}
    assert untouched <= before
    touched = [e for e in after if e["partition"].get("year") == "1"]
    assert all(e["path"] not in before for e in touched)
    # time travel still sees the pre-merge rows
    assert {(r.id, r.val) for r in t.read(snapshot=1).collect()} >= {(1, "v1")}


def test_snapshot_column_stats_file_skipping(spark, tmp_path):
    """Iceberg-style data-file skipping: per-file column min/max from
    the parquet footers let read(stats_where=...) open only files whose
    range intersects a NON-partition predicate — conservatively (a
    superset of matching rows comes back; the caller's filter is still
    exact)."""
    df = spark.createDataFrame(
        [(i, i // 10, f"v{i:02d}") for i in range(30)],
        "id long, bucket int, val string",
    )
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(df, partition_by=["bucket"])  # 3 files: ids 0-9/10-19/20-29

    ps = t.prune_stats(stats_where={"id": (12, 15)})
    assert ps["total_files"] == 3 and ps["kept_files"] == 1
    got = t.read(stats_where={"id": (12, 15)})
    assert {r.id for r in got.collect()} == set(range(10, 20))  # superset
    exact = {r.id for r in got.filter("id between 12 and 15").collect()}
    assert exact == {12, 13, 14, 15}

    # string stats, equality + list forms
    assert t.prune_stats(stats_where={"val": "v25"})["kept_files"] == 1
    assert t.prune_stats(stats_where={"val": ["v05", "v25"]})["kept_files"] == 2
    # no-match range skips every file (empty read, schema intact)
    empty = t.read(stats_where={"id": (100, 200)})
    assert empty.count() == 0 and empty.columns == ["id", "bucket", "val"]
    # partition + stats predicates compose
    assert (
        t.prune_stats(where={"bucket": 1}, stats_where={"id": (0, 50)})["kept_files"]
        == 1
    )
    with pytest.raises(KeyError):
        t.read(stats_where={"bucket": 1})  # partition col -> use where=
    with pytest.raises(KeyError):
        t.read(stats_where={"nope": 1})
    # stats survive CoW rewrites (merge rewrites the touched file)
    t.merge(
        spark.createDataFrame([(12, 1, "UPD")], "id long, bucket int, val string"),
        on=["id", "bucket"],
    )
    assert t.prune_stats(stats_where={"id": (25, 26)})["kept_files"] == 1


def test_snapshot_incremental_read(spark, tmp_path, sample_df):
    """Iceberg-style incremental append scan: read exactly the rows of
    files added after a snapshot; rewrite commits in range raise unless
    explicitly allowed; changed_partitions yields the maintainer
    work-list from the manifest alone."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(sample_df, partition_by=["year"])  # v1: ids 0..29
    b2 = spark.createDataFrame(
        [(100, 0, "b2a"), (101, 1, "b2b")], "id long, year int, val string"
    )
    t.append(b2)  # v2
    b3 = spark.createDataFrame(
        [(200, 9, "b3a")], "id long, year int, val string"
    )
    t.append(b3)  # v3

    inc = t.read_incremental(1)
    assert {r.id for r in inc.collect()} == {100, 101, 200}
    assert {r.id for r in t.read_incremental(1, end_snapshot=2).collect()} == {100, 101}
    assert {r.id for r in t.read_incremental(2).collect()} == {200}
    assert t.read_incremental(3).count() == 0
    assert t.read_incremental(0).count() == t.read().count()
    # partition columns are reconstructed on the incremental path too
    assert {(r.id, r.year) for r in t.read_incremental(2).collect()} == {(200, 9)}

    got = {tuple(sorted(d.items())) for d in t.changed_partitions(1)}
    assert got == {(("year", "0"),), (("year", "1"),), (("year", "9"),)}

    # a CoW rewrite in range poisons the append-only semantics
    t.merge(
        spark.createDataFrame([(100, 0, "UPD")], "id long, year int, val string"),
        on=["id"],
    )  # v4
    with pytest.raises(ValueError, match="row-rewriting"):
        t.read_incremental(1)
    # pre-rewrite ranges stay readable; opt-in reads rewritten files
    assert {r.id for r in t.read_incremental(1, end_snapshot=3).collect()} == {100, 101, 200}
    assert t.read_incremental(1, allow_rewrites=True).count() > 0
    # the work-list view treats the rewritten partition as changed
    assert (("year", "0"),) in {
        tuple(sorted(d.items())) for d in t.changed_partitions(3)
    }

    # a snapshot id beyond the table's version is a stale/typo'd
    # reference, not an empty change set — it must raise, never
    # silently skip the incremental work-list
    with pytest.raises(ValueError, match="beyond the table"):
        t.read_incremental(99)
    with pytest.raises(ValueError, match="beyond the table"):
        t.changed_partitions(99)


def test_snapshot_merge_partition_moving_key(spark, tmp_path, sample_df):
    """A MERGE that changes a row's PARTITION value must rewrite the
    partition the old version lives in, not just the partitions present
    in the source — otherwise both versions survive (the documented
    contract is 'a matched target row is REPLACED')."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(sample_df, partition_by=["year"])
    # id=5 lives in year=2 (5 % 3); move it to a brand-new year=9
    src = spark.createDataFrame(
        [(5, 9, "MOVED")], "id long, year int, val string"
    )
    t.merge(src, on=["id"])
    got = t.read().filter(F.col("id") == 5).collect()
    assert [(r.year, r.val) for r in got] == [(9, "MOVED")]
    assert t.read().count() == 30  # replaced, not duplicated
    # rows sharing the rewritten partition survive unchanged
    assert {r.id for r in t.read().filter(F.col("year") == 2).collect()} == {
        i for i in range(30) if i % 3 == 2 and i != 5
    }


def test_snapshot_merge_nonstring_partition_values(spark, tmp_path):
    """Partition-touch matching must render source values the way the
    Hive-style writer names directories: booleans lowercase, NULL ->
    __HIVE_DEFAULT_PARTITION__, timestamps with trailing fraction zeros
    trimmed. str(True)='True' etc. silently classified those partitions
    as untouched, leaving duplicate rows after an upsert."""
    import datetime

    t = SnapshotTable(spark, str(tmp_path / "bool"))
    t.create(
        spark.createDataFrame(
            [(1, True, "a"), (2, False, "b"), (3, None, "c")],
            "id long, flag boolean, val string",
        ),
        partition_by=["flag"],
    )
    t.merge(
        spark.createDataFrame([(1, True, "A1")], "id long, flag boolean, val string"),
        on=["id", "flag"],  # key pins the partition: manifest-only path
    )
    assert t.read().count() == 3
    assert t.read().filter(F.col("id") == 1).collect()[0].val == "A1"
    # upsert into the NULL partition
    t.merge(
        spark.createDataFrame([(3, None, "C3")], "id long, flag boolean, val string"),
        on=["id"],
    )
    assert t.read().count() == 3
    assert t.read().filter(F.col("id") == 3).collect()[0].val == "C3"

    ts = datetime.datetime(2020, 1, 2, 3, 4, 5, 123000)
    t2 = SnapshotTable(spark, str(tmp_path / "ts"))
    t2.create(
        spark.createDataFrame(
            [(1, ts, "a"), (2, datetime.datetime(2021, 6, 7), "b")],
            "id long, stamp timestamp, val string",
        ),
        partition_by=["stamp"],
    )
    t2.merge(
        spark.createDataFrame(
            [(1, ts, "A1")], "id long, stamp timestamp, val string"
        ),
        on=["id", "stamp"],
    )
    assert t2.read().count() == 2
    assert t2.read().filter(F.col("id") == 1).collect()[0].val == "A1"


def test_snapshot_merge_schema_and_key_validation(spark, tmp_path, sample_df):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(sample_df, partition_by=["year"])
    with pytest.raises(ValueError):
        t.merge(spark.createDataFrame([(1, 1)], "id long, year int"), on=["id"])
    with pytest.raises(KeyError):
        t.merge(
            spark.createDataFrame([(1, 1, "x")], "id long, year int, val string"),
            on=["nope"],
        )


def test_snapshot_delete_where(spark, tmp_path, sample_df):
    """Row-level CoW DELETE: scoped rewrite prunes by partition, rows
    where the predicate is NULL survive (SQL DELETE semantics)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    # val NULL for id 5 so the NULL-predicate path is exercised
    df = sample_df.withColumn(
        "val", F.when(F.col("id") == 5, F.lit(None)).otherwise(F.col("val"))
    )
    t.create(df, partition_by=["year"])
    before = {e["path"] for e in t._metadata()["files"]}
    # delete even ids, but only inside partition year=2; predicate on
    # val is NULL for id 5 (year 2) -> that row must SURVIVE
    v = t.delete_where(
        "id % 2 = 0 AND length(val) > 0", where={"year": 2}
    )
    assert v == 2
    got = t.read()
    assert got.filter("year = 2 AND id % 2 = 0 AND id != 5").count() == 0
    assert got.filter("id = 5").count() == 1  # NULL predicate keeps row
    # other partitions untouched, files carried over
    assert got.filter("year != 2").count() == 20
    after = t._metadata()["files"]
    untouched = {e["path"] for e in after if e["partition"].get("year") != "2"}
    assert untouched <= before
    assert [s["operation"] for s in t.snapshots()] == ["create", "delete"]


def test_snapshot_partition_value_escaping_roundtrip(spark, tmp_path):
    """Partition values with Hive-escaped characters (space, %, =, +)
    must round-trip exactly through write -> manifest -> read, and must
    NOT compound escaping across CoW rewrite cycles (merge/delete)."""
    vals = ["4-NOT SPECIFIED", "a%b", "k=v", "p+q"]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, pri string"
    )
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(df, partition_by=["pri"])
    assert {r.pri for r in t.read().collect()} == set(vals)
    # manifest stores DECODED values
    assert {e["partition"]["pri"] for e in t._metadata()["files"]} == set(vals)
    # two CoW cycles: values still exact, no %2520 compounding
    t.merge(
        spark.createDataFrame([(0, "4-NOT SPECIFIED")], "id long, pri string"),
        on=["id"],
    )
    t.delete_where("id = 999")
    assert {r.pri for r in t.read().collect()} == set(vals)
    assert t.read().count() == 4


def test_snapshot_merge_conflict(spark, tmp_path, sample_df):
    """A merge whose base snapshot moved mid-flight must raise, not
    silently drop the concurrent writer's rows."""
    from dea_coastlines_spark.sources.table import CommitConflictError

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(sample_df, partition_by=["year"])
    src = spark.createDataFrame(
        [(1, 1, "UPD")], "id long, year int, val string"
    )
    orig_commit = t._commit

    def racing_commit(*args, **kwargs):
        # another writer lands v2 between merge's read and its commit
        t2 = SnapshotTable(spark, str(tmp_path / "t"))
        t2.append(
            spark.createDataFrame([(200, 4, "c")], "id long, year int, val string")
        )
        return orig_commit(*args, **kwargs)

    t._commit = racing_commit
    with pytest.raises(CommitConflictError):
        t.merge(src, on=["id"])


def test_commit_conflict_detection(spark, tmp_path, sample_df):
    """Optimistic concurrency: a writer whose base snapshot moved must
    fail with CommitConflictError, not silently clobber."""
    from dea_coastlines_spark.sources.table import CommitConflictError

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(sample_df, partition_by=["year"])

    # writer A reads v1, stages files; writer B commits v2 first
    base_v = t.current_version()
    m = t._metadata(base_v)
    staged = t._write_files(
        spark.createDataFrame([(7, 7, "a")], "id long, year int, val string"),
        ["year"],
    )
    t2 = SnapshotTable(spark, str(tmp_path / "t"))
    t2.append(spark.createDataFrame([(8, 8, "b")], "id long, year int, val string"))

    with pytest.raises(CommitConflictError):
        t._commit("append", m["files"] + staged, m["schema_json"],
                  m["partition_by"], expected_version=base_v)
    # the winning commit is intact
    assert t.read().count() == 31


def test_load_config(tmp_path):
    from dea_coastlines_spark.config import DEFAULTS, load_config

    assert load_config()["min_vertices"] == 10
    p = tmp_path / "run.json"
    p.write_text('{"min_vertices": 5, "extra": "x"}')
    cfg = load_config(str(p), overrides={"cell_res": 9})
    assert cfg["min_vertices"] == 5 and cfg["extra"] == "x" and cfg["cell_res"] == 9
    assert DEFAULTS["min_vertices"] == 10  # defaults not mutated
    py = tmp_path / "run.yaml"
    py.write_text("min_vertices: 7\n")
    assert load_config(str(py))["min_vertices"] == 7


def test_dms2dd_parity_and_hemispheres(spark):
    """dms2dd matches the reference's float chain (validation.py:212-219)
    on its own form, honors S/W/N/E hemisphere letters, tolerates
    missing seconds, and NULLs malformed strings."""
    import re as _re

    from dea_coastlines_spark.sources.files import dms2dd

    def ref_dms2dd(s):
        degrees, minutes, seconds = _re.split("[°'\"]+", s)
        if float(degrees) > 0:
            return float(degrees) + float(minutes) / 60 + float(seconds) / 3600
        return float(degrees) - float(minutes) / 60 - float(seconds) / 3600

    # the reference splits into exactly three fields, so its own form
    # has no trailing seconds mark: "0°51'56.29"
    ref_forms = ["0°51'56.29", "33°42'12.5", "-33°42'12.5",
                 "151°12'0", "-0°30'0"]
    rows = [(s,) for s in ref_forms] + [
        ('33°42\'12.5"S',), ('151°12\'30"E',), ('33°42\'S',),
        ('117°53\'W',), ('12°30\'N',), ("garbage",),
    ]
    df = spark.createDataFrame(rows, "dms string")
    got = {r.dms: r.dd for r in df.select("dms", dms2dd("dms").alias("dd")).collect()}
    for s in ref_forms:
        assert abs(got[s] - ref_dms2dd(s)) < 1e-12, s
    assert abs(got['33°42\'12.5"S'] + (33 + 42 / 60 + 12.5 / 3600)) < 1e-12
    assert abs(got['151°12\'30"E'] - (151 + 12 / 60 + 30 / 3600)) < 1e-12
    assert abs(got["33°42'S"] + (33 + 42 / 60)) < 1e-12
    assert abs(got["117°53'W"] + (117 + 53 / 60)) < 1e-12
    assert abs(got["12°30'N"] - (12 + 30 / 60)) < 1e-12
    assert got["garbage"] is None


def test_geojsonseq_distributed_export(spark, tmp_path):
    """write_geojsonseq handles row counts the single-file GeoJSON sink
    refuses, with no driver collect: >100k point features written as
    partitioned newline-delimited GeoJSON and read back line-parseable."""
    import json as _json

    import pandas as pd
    import pytest

    from dea_coastlines_spark.geometry import wkb as _wkb
    from dea_coastlines_spark.sources.files import (
        write_geojson,
        write_geojsonseq,
    )

    n = 120_000

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"]
            yield pd.DataFrame(
                {
                    "feat_id": ids,
                    "cell": (ids % 8).astype("int64"),
                    "geometry": [
                        _wkb.point(float(i % 1000), float(i // 1000))
                        for i in ids
                    ],
                }
            )

    df = spark.range(n).mapInPandas(
        gen, "feat_id long, cell long, geometry binary"
    )
    with pytest.raises(ValueError, match="capped"):
        write_geojson(df, str(tmp_path / "too_big.geojson"))

    out = str(tmp_path / "seq")
    wrote = write_geojsonseq(df, out, partition_by=["cell"])
    assert wrote == n
    back = spark.read.text(out)
    assert back.count() == n
    # partition layout: one directory per cell value
    import os

    parts = sorted(
        d for d in os.listdir(out) if d.startswith("cell=")
    )
    assert parts == [f"cell={i}" for i in range(8)]
    line = back.limit(1).collect()[0].value
    feat = _json.loads(line)
    assert feat["type"] == "Feature"
    assert feat["geometry"]["type"] == "Point"
    assert "feat_id" in feat["properties"]


def _files_per_partition(t):
    m = t._metadata()
    out = {}
    for e in m["files"]:
        out.setdefault(tuple(sorted(e["partition"].items())), []).append(e)
    return {k: len(v) for k, v in out.items()}


def test_snapshot_compact_small_files(spark, tmp_path, sample_df):
    """Repeated appends -> one file per partition per commit; compact
    rewrites each partition to a single file with identical content,
    and time travel to the pre-compact snapshot still works."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(sample_df, partition_by=["year"])
    for i in range(3):
        t.append(
            spark.createDataFrame(
                [(100 + 10 * i + j, j % 3, f"a{i}{j}") for j in range(6)],
                "id long, year int, val string",
            )
        )
    before = t.read().orderBy("id").collect()
    v_pre = t.current_version()
    assert max(_files_per_partition(t).values()) == 4  # create + 3 appends

    v = t.compact()
    assert v == v_pre + 1
    assert set(_files_per_partition(t).values()) == {1}
    assert t.read().orderBy("id").collect() == before
    # old snapshot untouched (CoW), and already-compact layout is a no-op
    assert t.read(snapshot=v_pre).orderBy("id").collect() == before
    assert t.compact() == v
    assert [s["operation"] for s in t.snapshots()][-1] == "compact"


def test_snapshot_compact_multi_file_target(spark, tmp_path):
    """A partition whose bytes exceed target_bytes compacts to ceil(
    total/target) files, not one."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, 0, "x" * 2000) for i in range(2000)],
        "id long, year int, val string",
    )
    t.create(df, partition_by=["year"])
    for _ in range(5):
        t.append(df)
    m = t._metadata()
    total = sum(e["bytes"] for e in m["files"])
    n_files_before = len(m["files"])
    target = total // 3 + 1  # expect 3 output files
    assert n_files_before > 3
    before_rows = t.read().count()
    t.compact(target_bytes=int(target))
    after = t._metadata()["files"]
    assert len(after) == 3
    assert t.read().count() == before_rows


def test_snapshot_compact_unpartitioned_and_vacuum(spark, tmp_path, sample_df):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(sample_df.repartition(4))
    t.append(sample_df.repartition(4))
    assert len(t._metadata()["files"]) == 8
    before = t.read().orderBy("id", "val").collect()
    t.compact()
    assert len(t._metadata()["files"]) == 1
    assert t.read().orderBy("id", "val").collect() == before
    # vacuum drops the pre-compact files; the compacted head still reads
    removed = t.vacuum(keep_last=1, min_age_s=0.0)
    assert removed >= 8
    assert t.read().orderBy("id", "val").collect() == before


def test_schema_evolution_add_drop_rename(spark, tmp_path, sample_df):
    """Metadata-only DDL: adds read as NULL on old files, renames
    resolve the whole name lineage, drops disappear; mixed-era file
    sets read consistently and time travel sees each era's schema."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(sample_df, partition_by=["year"])  # v1

    v2 = t.add_columns({"score": "double", "tags": "array<string>"})
    assert v2 == 2
    got = t.read()
    assert set(got.columns) == {"id", "year", "val", "score", "tags"}
    assert got.filter("score IS NOT NULL").count() == 0  # old files -> NULL
    # a post-evolution append carries real values
    t.append(spark.createDataFrame(
        [(100, 3, "new", 0.9, ["a", "b"])],
        "id long, year int, val string, score double, tags array<string>",
    ))  # v3
    got = t.read()
    assert got.filter("score IS NOT NULL").count() == 1
    assert got.filter("id = 100").collect()[0].tags == ["a", "b"]
    # time travel: v1 has the original schema
    assert set(t.read(snapshot=1).columns) == {"id", "year", "val"}

    # rename resolves BOTH eras (files written before and after)
    v4 = t.rename_column("val", "label")
    got = t.read()
    assert "val" not in got.columns
    vals = {r.id: r.label for r in got.collect()}
    assert vals[0] == "v0" and vals[100] == "new"
    # second rename extends the lineage
    t.rename_column("label", "name")
    vals = {r.id: r.name for r in t.read().collect()}
    assert vals[7] == "v7" and vals[100] == "new"
    # a post-rename append writes the new physical name and still reads
    t.append(spark.createDataFrame(
        [(101, 3, "fresh", None, None)],
        "id long, year int, name string, score double, tags array<string>",
    ))
    assert {r.name for r in t.read().filter("id >= 100").collect()} == {
        "new", "fresh"}

    # drop: disappears from reads; name (and lineage) is tombstoned
    t.drop_columns(["score"])
    assert "score" not in t.read().columns
    with pytest.raises(ValueError, match="retired"):
        t.add_columns({"score": "double"})
    t.drop_columns(["name"])
    for dead in ("name", "label", "val"):
        with pytest.raises(ValueError, match="retired"):
            t.add_columns({dead: "string"})
    assert set(t.read().columns) == {"id", "year", "tags"}
    ops = [s["operation"] for s in t.snapshots()]
    assert ops.count("add-columns") == 1
    assert ops.count("rename-column") == 2
    assert ops.count("drop-columns") == 2


def test_schema_evolution_guards(spark, tmp_path, sample_df):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(sample_df, partition_by=["year"])
    with pytest.raises(ValueError, match="partition"):
        t.rename_column("year", "yr")
    with pytest.raises(ValueError, match="partition"):
        t.drop_columns(["year"])
    with pytest.raises(KeyError):
        t.drop_columns(["nope"])
    with pytest.raises(KeyError):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="in use"):
        t.add_columns({"val": "string"})
    with pytest.raises(ValueError, match="in use"):
        t.rename_column("val", "id")
    t.rename_column("val", "label")
    # the previous name stays unusable while its field lives
    with pytest.raises(ValueError, match="in use"):
        t.add_columns({"val": "string"})
    t.drop_columns(["id"])
    assert set(t.read().columns) == {"year", "label"}
    # an unpartitioned table refuses to drop its last columns
    u = SnapshotTable(spark, str(tmp_path / "u"))
    u.create(spark.createDataFrame([(1, "a")], "id long, v string"))
    with pytest.raises(ValueError, match="cannot drop every column"):
        u.drop_columns(["id", "v"])


def test_schema_evolution_cow_materializes_current_schema(
    spark, tmp_path, sample_df
):
    """A merge after add+rename rewrites touched files under the
    CURRENT schema; untouched old files keep resolving via lineage."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(sample_df, partition_by=["year"])
    t.add_columns({"score": "double"})
    t.rename_column("val", "label")
    src = spark.createDataFrame(
        [(0, 0, "upd", 1.5)], "id long, year int, label string, score double"
    )
    t.merge(src, on=["id"])
    got = t.read()
    assert got.count() == 30
    row = got.filter("id = 0").collect()[0]
    assert row.label == "upd" and row.score == 1.5
    # untouched rows still resolve the renamed column from old files
    assert got.filter("id = 1").collect()[0].label == "v1"
    # compact converges every file to the current physical schema
    t.compact()
    assert t.read().count() == 30
    assert {r.label for r in t.read().filter("id <= 1").collect()} == {
        "upd", "v1"}


def test_rewrite_sorted_enables_file_skipping(spark, tmp_path):
    """Sort rewrite narrows per-file id ranges so a stats_where range
    opens ~1 file instead of all; content stays identical."""
    import numpy as np

    rng = np.random.default_rng(5)
    ids = rng.permutation(4000).tolist()
    df = spark.createDataFrame(
        [(int(i), f"p{i}") for i in ids], "id long, payload string"
    ).repartition(8)  # shuffled: every file spans ~the full id range
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(df)
    before = t.prune_stats(stats_where={"id": (100, 150)})
    assert before["kept_files"] == before["total_files"]  # no skip possible

    v = t.rewrite_sorted(sort_by=["id"], target_bytes=12_000)
    assert t.snapshots()[-1]["operation"] == "rewrite-sorted"
    after = t.prune_stats(stats_where={"id": (100, 150)})
    assert after["total_files"] >= 4
    assert after["kept_files"] <= 2  # disjoint ranges -> narrow prune
    # content identity + correctness of the pruned read
    got = t.read(stats_where={"id": (100, 150)}).filter(
        "id BETWEEN 100 AND 150"
    )
    assert got.count() == 51
    assert t.read().count() == 4000
    assert t.read(snapshot=v - 1).count() == 4000  # time travel intact


def test_rewrite_zorder_prunes_box_queries(spark, tmp_path):
    """Z-order rewrite prunes 2-D box predicates on BOTH axes; a
    single-axis sort cannot do that for the second column."""
    import numpy as np

    rng = np.random.default_rng(11)
    n = 6000
    xs = rng.uniform(0, 1000, n)
    ys = rng.uniform(0, 1000, n)
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))],
        "id long, x double, y double",
    ).repartition(8)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(df)
    t.rewrite_sorted(zorder_by=("x", "y"), target_bytes=20_000)
    assert t.snapshots()[-1]["operation"] == "rewrite-zorder"
    st = t.prune_stats(stats_where={"x": (0.0, 120.0), "y": (0.0, 120.0)})
    assert st["total_files"] >= 6
    # a corner box touches a corner of the Z-curve -> most files skip
    assert st["kept_files"] < st["total_files"] / 2
    got = t.read(
        stats_where={"x": (0.0, 120.0), "y": (0.0, 120.0)}
    ).filter("x <= 120 AND y <= 120")
    want = sum(1 for x, y in zip(xs, ys) if x <= 120 and y <= 120)
    assert got.count() == want
    assert t.read().count() == n


def test_rewrite_sorted_partitioned_and_guards(spark, tmp_path, sample_df):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(sample_df, partition_by=["year"])
    with pytest.raises(ValueError, match="exactly one"):
        t.rewrite_sorted()
    with pytest.raises(ValueError, match="exactly one"):
        t.rewrite_sorted(sort_by=["id"], zorder_by=("id", "id"))
    with pytest.raises(KeyError, match="data column"):
        t.rewrite_sorted(sort_by=["year"])
    v = t.rewrite_sorted(sort_by=["id"], target_bytes=1 << 30)
    got = t.read()
    assert got.count() == 30
    assert dict(got.dtypes)["year"] == "int"  # partition layout intact
    assert t.read(where={"year": 1}).count() == 10


def test_partition_evolution_read_and_prune(spark, tmp_path):
    """set_partitioning changes layout for FUTURE writes only; mixed
    layouts read consistently, pruning stays exact (legacy files kept
    conservatively + row filter), and rewrites migrate files."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df1 = spark.createDataFrame(
        [(i, i % 3, i % 5, f"v{i}") for i in range(30)],
        "id long, year int, cell int, val string",
    )
    t.create(df1, partition_by=["year"])  # v1: year-partitioned
    t.set_partitioning(["year", "cell"])  # v2: finer layout forward
    assert t.snapshots()[-1]["operation"] == "set-partitioning"
    t.append(spark.createDataFrame(
        [(100 + i, 3, i % 5, "new") for i in range(10)],
        "id long, year int, cell int, val string",
    ))  # v3: new layout files
    got = t.read()
    assert got.count() == 40
    # legacy rows resolve year from path, cell from file data;
    # new rows resolve both from path
    assert got.filter("id = 7").collect()[0].cell == 2
    assert got.filter("id = 104").collect()[0].cell == 4
    # pruning on the NEW key is exact: legacy files kept + row filter
    c3 = t.read(where={"cell": 3})
    assert sorted(r.id for r in c3.collect()) == sorted(
        [i for i in range(30) if i % 5 == 3] + [103, 108]
    )
    st = t.prune_stats(where={"cell": 3})
    assert st["kept_files"] < st["total_files"]  # new-layout files pruned
    # pruning on the old key still prunes legacy files AND filters new
    y1 = t.read(where={"year": 1})
    assert sorted(r.id for r in y1.collect()) == [i for i in range(30)
                                                  if i % 3 == 1]

    # un-partition going forward
    t.set_partitioning([])
    t.append(spark.createDataFrame(
        [(200, 9, 9, "flat")], "id long, year int, cell int, val string"
    ))
    got = t.read()
    assert got.count() == 41
    assert got.filter("id = 200").collect()[0].year == 9
    # where= now refuses (no partition columns in the current spec)
    with pytest.raises(KeyError):
        t.read(where={"year": 1})


def test_partition_evolution_merge_and_overwrite(spark, tmp_path):
    """CoW ops stay row-exact across mixed layouts and migrate legacy
    files to the current layout."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(
        spark.createDataFrame(
            [(i, i % 3, f"v{i}") for i in range(30)],
            "id long, year int, val string",
        ),
        partition_by=["year"],
    )
    t.add_columns({"val_bucket": "int"})
    t.set_partitioning(["val_bucket"])  # a fresh partition key
    # merge under the new layout: key pins nothing; legacy files are
    # always affected, so the matched row is really replaced
    src = spark.createDataFrame(
        [(7, 1, "upd", 0), (300, 0, "ins", 1)],
        "id long, year int, val string, val_bucket int",
    )
    t.merge(src, on=["id"])
    got = t.read()
    assert got.count() == 31
    assert got.filter("id = 7").collect()[0].val == "upd"
    assert got.filter("id = 7").count() == 1  # no duplicate survivor
    # every file now carries the current layout (legacy all rewritten)
    m = t._metadata()
    assert all(set(e["partition"]) == {"val_bucket"} for e in m["files"])

    # overwrite under another evolution: legacy (val_bucket) files hold
    # rows of many year partitions; replaced year's rows must vanish
    t.set_partitioning(["year"])
    repl = spark.createDataFrame(
        [(1000, 1, "recomputed", 5)],
        "id long, year int, val string, val_bucket int",
    )
    t.overwrite_partitions(repl)
    got = t.read()
    y1 = got.filter("year = 1").collect()
    assert len(y1) == 1 and y1[0].val == "recomputed"
    # other years' rows all survived the legacy rewrite
    assert got.count() == 1 + got.filter("year != 1").count()
    assert got.filter("year = 0").count() == 11  # 10 originals + id 300
    # delete scoped to a partition stays exact across mixed layout
    t.delete_where("id >= 1000", where={"year": 1})
    assert t.read().filter("year = 1").count() == 0


def test_dms_survey_naive_timestamps_not_double_shifted(spark, tmp_path):
    """Mixed agency exports carry both offset-aware and naive local
    timestamps. With a survey tz, only offset-bearing rows convert;
    a naive 20:00 New Year's Eve entry must stay in its local year."""
    import pandas as pd

    from dea_coastlines_spark.sources import read_csv_survey_dms

    p = tmp_path / "s.csv"
    pd.DataFrame({
        "site": ["a", "b", "c"],
        "obs_time": [
            "2001-01-01T08:00:00+10:30",  # instant: 2000-12-31 21:30 UTC
            "2000-12-31T20:00:00",        # naive local wall clock
            "2000-12-31T11:00:00Z",       # Zulu = 2000-12-31 21:30 ACDT
        ],
        "chainage_m": [1.0, 2.0, 3.0],
        "elevation": [0.0, 0.0, 0.0],
        "profile_id": ["a", "b", "c"],
        "lat_dms": ["33°S"] * 3,
        "lon_dms": ["151°E"] * 3,
    }).to_csv(p, index=False)
    out = {
        r["site"]: str(r["date"])
        for r in read_csv_survey_dms(
            spark, str(p), tz="Australia/Adelaide"
        ).collect()
    }
    assert out["a"].startswith("2001-01-01 08:00")  # offset honored
    assert out["b"].startswith("2000-12-31 20:00")  # naive: verbatim
    assert out["c"].startswith("2000-12-31 21:30")  # Z suffix honored


def test_dms_survey_bare_date_not_treated_as_offset(spark, tmp_path):
    """A date-only obs_time ends in '-01', which an unanchored offset
    regex read as a -01-hour offset and double-shifted — moving
    midnight into the previous day (wrong year) for negative-offset
    zones. The offset must follow a time component (ADVICE r5)."""
    import pandas as pd

    from dea_coastlines_spark.sources import read_csv_survey_dms

    p = tmp_path / "bare.csv"
    pd.DataFrame({
        "site": ["a", "b"],
        "obs_time": [
            "2001-01-01",                 # bare date: naive, verbatim
            "2001-01-01T00:30:00-03:30",  # true negative offset
        ],
        "chainage_m": [1.0, 2.0],
        "elevation": [0.0, 0.0],
        "profile_id": ["a", "b"],
        "lat_dms": ["33°S"] * 2,
        "lon_dms": ["151°E"] * 2,
    }).to_csv(p, index=False)
    out = {
        r["site"]: str(r["date"])
        for r in read_csv_survey_dms(
            spark, str(p), tz="America/St_Johns"
        ).collect()
    }
    # bare date stays midnight 2001-01-01 (previously shifted into 2000)
    assert out["a"].startswith("2001-01-01 00:00")
    # offset-bearing row still converts: 04:00 UTC -> 00:30 NST
    assert out["b"].startswith("2001-01-01 00:30")
