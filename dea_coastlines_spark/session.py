"""SparkSession factory with the engine's tuned defaults.

Scale notes (100 TB / 1000-executor design):
  * AQE on — runtime coalesce + skew-join splitting for shuffle-size
    skew; compute skew on dense coastal cells is handled separately by
    explicit salting (operators/spatial_join.py).
  * Arrow on — every Python kernel crosses the JVM<->Python boundary in
    columnar Arrow batches, never row-at-a-time pickling.
  * shuffle.partitions default matches local core count; on a real
    cluster this is set to 2-3x total cores by spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Default local parallelism: honors the driver's $SPARK_GRAFT_CPUS.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "dea-coastlines-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing for a MIXED tabular/multimodal engine:
        # batches close on whichever cap hits first (Spark 4 semantics).
        #   * maxBytesPerBatch 32 MB bounds UDF-input batches by BYTES —
        #     fat image rows (~100 KB encoded tile each) form ~320-row
        #     batches, so per-task decoded memory stays bounded no
        #     matter the row width.
        #   * maxRecordsPerBatch raised from the 10k default: thin-row
        #     kernel stages (pair verify: 16-byte rows) were crossing
        #     the boundary in ~160 KB batches — 600 batches for a 6 M
        #     row stage, each paying per-batch framing + pandas
        #     conversion. 64k-row batches still cap thin rows around a
        #     few MB while fat rows close on the 32 MB BYTE cap first
        #     (Spark 4 semantics), so image-kernel memory is unchanged.
        #     An earlier build capped records at 256 globally to
        #     protect the image kernels; that throttled every LARGE
        #     tabular transfer instead (maxBytesPerBatch does not apply
        #     to toPandas, so the record cap is what toPandas sees:
        #     collecting charset_jaccard's 1.9 M pair rows took 88 s in
        #     256-row batches vs 1.0 s in 10k-row batches).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            str(32 * 1024 * 1024),
        )
        .config("spark.sql.parquet.filterPushdown", "true")
        # small-file splits: narrow Python-kernel stages (distance
        # refine, decode) inherit scan partitioning — a single 20 MB
        # file must not serialize a 32-core kernel stage. At cluster
        # scale inputs have thousands of splits and this is a no-op.
        # It is also the split target of SnapshotTable reads, which
        # coalesce to one split per this many manifest bytes, so small
        # inputs are not spread one Python task per file.
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # SnapshotTable reads pass the manifest's explicit file list.
        # Above this threshold (default 32 paths) Spark lists them in a
        # Spark job, which in local mode costs more than stat-ing a few
        # thousand local files on the driver. Spark has no per-read
        # option for this, so it is set here; submit_session keeps the
        # default because object-store listing on a cluster gains from
        # the parallel job.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Engine defaults a spark-submit entrypoint needs regardless of cluster:
# the Arrow contract (columnar JVM<->Python transfer, byte-bounded UDF
# batches for fat image rows) plus AQE and a pinned timezone. Everything
# cluster-shaped (master, executors, memory, shuffle width) is left to
# spark-submit.
_SUBMIT_DEFAULTS = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxBytesPerBatch": str(32 * 1024 * 1024),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
}


def submit_session(app_name: str) -> SparkSession:
    """SparkSession for a spark-submit job entrypoint.

    NOT get_spark(): that factory pins a local[] master and local-mode
    sizing for tests/bench, while a submitted job must take master /
    executors / memory from spark-submit. What every job needs is the
    engine's Arrow contract — in particular
    `arrow.maxBytesPerBatch` = 32 MB: the tile tables carry ~100 KB
    encoded images per row, so the stock 10k-records-per-batch default
    would feed UDFs ~1 GB encoded (several GB decoded) per batch — an
    executor OOM on a real cluster. The byte cap bounds per-task batch
    memory no matter the row width without throttling thin rows.

    Every default yields to an explicit `spark-submit --conf` (checked
    against the properties spark-submit planted in the base SparkConf —
    the operator knows their cluster better than the app).
    """
    from pyspark import SparkConf

    submitted = SparkConf()  # loads the spark.* properties spark-submit set
    builder = SparkSession.builder.appName(app_name)
    for key, value in _SUBMIT_DEFAULTS.items():
        if submitted.get(key, None) is None:
            builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
