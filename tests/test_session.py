"""The engine's Arrow batch contract.

A mixed tabular/multimodal engine needs two independent caps (Spark 4
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
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


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


def test_submit_session_applies_defaults_and_yields_to_existing(spark):
    """submit_session must reuse a live session (in-process callers)
    and carry the same Arrow contract keys in its defaults."""
    from dea_coastlines_spark.session import _SUBMIT_DEFAULTS, submit_session

    s2 = submit_session("contract-check")
    assert s2.sparkContext is spark.sparkContext
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
