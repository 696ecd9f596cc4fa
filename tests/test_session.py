"""The engine's Arrow batch contract.

A mixed tabular/raster engine needs two independent caps (Spark 4
semantics: a batch closes when EITHER cap hits):

  * maxBytesPerBatch bounds UDF-input batches by BYTES, so fat image
    rows (~100 KB encoded tile each) can never form multi-GB batches —
    the executor-OOM guard at cluster scale;
  * maxRecordsPerBatch stays at the 10k default so thin tabular rows
    and toPandas transfers (which the byte cap does NOT govern) are not
    throttled — an earlier global 256-record cap made a 1.9 M-row
    collect 100x slower than the query that produced it.

These tests pin the contract behaviorally (actual batch sizes seen by
a mapInPandas kernel), not just the conf strings, for both session
factories (get_spark for local/test/bench, submit_session for the
spark-submit jobs).

The later tests pin get_spark's Python worker daemon
(dea_coastlines_spark._daemon): every task runs with the zip-directory
re-read switched off, files added mid-session stay importable, and
workers find the engine when the driver runs outside the checkout.
"""

from __future__ import annotations

import os
import subprocess
import sys
import uuid
import zipfile

import numpy as np
import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _batch_sizes(spark, df):
    def kernel(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    return [
        int(r.n) for r in df.mapInPandas(kernel, "n int").collect()
    ]


def test_fat_rows_are_byte_bounded(spark):
    """Rows carrying ~100 KB payloads must batch by bytes: every batch
    but a partition's last stays under maxBytesPerBatch and none gets
    anywhere near the 10k record cap."""
    max_bytes = int(spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch"))
    row_bytes = 100_000
    n_rows = 2_000
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "id": np.arange(n_rows, dtype=np.int64),
            # incompressible payload: Arrow buffer size ~= logical size
            "payload": [rng.bytes(row_bytes) for _ in range(n_rows)],
        }
    )
    sizes = _batch_sizes(spark, spark.createDataFrame(pdf).repartition(2))
    assert sum(sizes) == n_rows
    # byte cap ~= max_bytes / row_bytes rows per batch (+1 row slack:
    # the cap closes the batch when crossed, not before)
    cap_rows = max_bytes // row_bytes + 1
    assert max(sizes) <= cap_rows, (max(sizes), cap_rows)
    # and the cap is actually binding: batches are much smaller than
    # the record cap, and more than one batch per partition forms
    assert max(sizes) < 10_000
    assert len(sizes) > 2


def test_thin_rows_are_not_throttled(spark):
    """Thin rows must reach the record cap — a regression to a small
    record cap would re-introduce the per-batch overhead tax on every
    tabular kernel and collect."""
    rec_cap = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    assert rec_cap >= 10_000
    # each partition must hold MORE than rec_cap rows, or the batch
    # closes on partition exhaustion instead of the record cap
    sizes = _batch_sizes(spark, spark.range(2 * 2 * rec_cap).repartition(2))
    assert max(sizes) == rec_cap


def test_submit_session_applies_defaults_and_yields_to_existing(spark, monkeypatch):
    """submit_session must reuse a live session (in-process callers)
    and carry the same Arrow contract keys in its defaults. It keeps
    pyspark's worker daemon: under --py-files the engine reaches the
    workers only with a task, after the daemon has started."""
    from pyspark.sql import SparkSession

    from dea_coastlines_spark.session import _SUBMIT_DEFAULTS, submit_session

    built = []
    get_or_create = SparkSession.Builder.getOrCreate

    def recording_get_or_create(self):
        built.append(dict(self._options))
        return get_or_create(self)

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", recording_get_or_create)
    s2 = submit_session("contract-check")
    assert s2.sparkContext is spark.sparkContext
    assert len(built) == 1
    assert "spark.python.daemon.module" not in built[0]
    assert "spark.sql.execution.arrow.maxBytesPerBatch" in _SUBMIT_DEFAULTS
    assert (
        _SUBMIT_DEFAULTS["spark.sql.execution.arrow.pyspark.enabled"] == "true"
    )
    # the byte cap ships a sane bound: positive, and small enough that
    # a 100 KB-row batch stays well under a GB
    assert 0 < int(
        _SUBMIT_DEFAULTS["spark.sql.execution.arrow.maxBytesPerBatch"]
    ) <= 256 * 1024 * 1024


def test_manifest_read_lists_files_on_driver(spark, tmp_path):
    """A SnapshotTable read passes the manifest's file list to Spark.
    With more files than Spark's default parallel-listing threshold
    (32), get_spark must still list them on the driver: the read starts
    no Spark job."""
    from pyspark.sql import functions as F

    from dea_coastlines_spark.sources.table import SnapshotTable

    table = SnapshotTable(spark, str(tmp_path / "t"))
    table.create(spark.range(40).withColumn("k", F.col("id") % 40), partition_by=["k"])
    assert table.snapshots()[-1]["n_files"] == 40

    sc = spark.sparkContext
    group = f"manifest-read-{tmp_path.name}"
    sc.setJobGroup(group, "SnapshotTable.read listing")
    try:
        df = table.read()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert df.count() == 40


def test_workers_skip_zip_directory_reread(spark):
    """get_spark starts Python workers from dea_coastlines_spark._daemon,
    so every task runs with zipimporter.invalidate_caches replaced by
    the engine's no-op (CPython < 3.13) instead of re-reading pyspark.zip
    at every task start."""

    def kernel(batches):
        import zipimport

        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        code = getattr(fn, "__code__", None)
        patched = (
            fn.__name__ == "_keep_zip_directory"
            and code is not None
            and os.path.basename(code.co_filename) == "_daemon.py"
        )
        yield pd.DataFrame({"patched": [patched]})

    n_tasks = 8
    rows = (
        spark.range(n_tasks, numPartitions=n_tasks)
        .mapInPandas(kernel, "patched boolean")
        .collect()
    )
    assert len(rows) == n_tasks
    assert [r.patched for r in rows] == [sys.version_info < (3, 13)] * n_tasks


def test_py_files_added_after_jobs_are_importable(spark, tmp_path):
    """Workers that have already run Python tasks keep their zip
    directories cached. A zip added later by addPyFile is a new path
    entry, and a .py file lands in the SparkFiles directory that is
    already on the path: a later kernel imports a module from each."""
    warm = spark.range(8, numPartitions=8).mapInPandas(lambda it: it, "id long")
    assert warm.count() == 8

    tag = uuid.uuid4().hex
    zipped, plain = f"late_zipped_{tag}", f"late_plain_{tag}"
    zip_path = tmp_path / f"{zipped}.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.writestr(f"{zipped}.py", "VALUE = 40\n")
    (tmp_path / f"{plain}.py").write_text("VALUE = 2\n")
    spark.sparkContext.addPyFile(str(zip_path))
    spark.sparkContext.addPyFile(str(tmp_path / f"{plain}.py"))

    def kernel(batches):
        import importlib

        value = sum(importlib.import_module(m).VALUE for m in (zipped, plain))
        for pdf in batches:
            yield pd.DataFrame({"v": [value] * len(pdf)})

    rows = spark.range(8, numPartitions=8).mapInPandas(kernel, "v long").collect()
    assert [r.v for r in rows] == [42] * 8


_OUTSIDE_DRIVER = """
import sys

sys.path.insert(0, sys.argv[1])
from dea_coastlines_spark.session import get_spark

spark = get_spark(
    "outside-checkout", cpus=2,
    extra_conf={"spark.executorEnv.PYTHONPATH": sys.argv[2]},
)


def kernel(batches):
    import caller_module

    for pdf in batches:
        yield pdf.assign(id=pdf["id"] + caller_module.OFFSET)


print(sorted(r.id for r in spark.range(4, numPartitions=2).mapInPandas(kernel, "id long").collect()))
spark.stop()
"""


def test_get_spark_workers_find_engine_outside_checkout(tmp_path):
    """A driver whose working directory is outside the checkout, with the
    engine on sys.path but not on PYTHONPATH, still runs Python kernels:
    get_spark puts the engine on the workers' path itself, and keeps the
    worker path the caller passed."""
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "caller_module.py").write_text("OFFSET = 10\n")
    driver = tmp_path / "driver.py"
    driver.write_text(_OUTSIDE_DRIVER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, str(driver), REPO, str(extra)],
        capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[10, 11, 12, 13]"
