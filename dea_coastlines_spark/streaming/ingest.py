"""Exactly-once streaming ingestion into the snapshot table.

Structured Streaming's file sink can't target a transactional table,
and a naive foreachBatch append duplicates a batch whenever the
process dies BETWEEN the table commit and the streaming checkpoint
commit (the batch replays on restart). This sink closes that window
with the Delta-style txnAppId/txnVersion handshake: every batch
appends with (txn_app = the query's ingest id, txn_version =
batch_id), and SnapshotTable.append skips any (app, version) at or
below the highest it has committed — so a replayed batch is a no-op
and end-to-end semantics are exactly-once, not at-least-once.

Scale shape: each micro-batch is ONE atomic manifest commit; the
screen (optional) is a left-anti equi join against the table's
current keys. Source parallelism, batch sizing, and backpressure stay
Spark's (maxFilesPerTrigger etc.).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources.table import SnapshotTable


def start_table_ingest(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    ingest_id: str = "table-ingest",
    partition_by: list[str] | None = None,
    dedupe_cols: list[str] | None = None,
    available_now: bool = True,
):
    """Start a streaming query appending every micro-batch to the
    snapshot table at table_path, exactly once.

    dedupe_cols: optional content key — each batch drops rows whose
    key already exists in the table OR occurs earlier in the same
    batch (first-seen-wins within the batch by the key's natural
    order of arrival after dropDuplicates).
    Returns the StreamingQuery; callers await/stop it."""
    spark = stream_df.sparkSession

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        t = SnapshotTable(spark, table_path)
        df = batch_df
        if dedupe_cols:
            df = df.dropDuplicates(dedupe_cols)
        if t.current_version() == 0:
            # schema-only create so every data commit is a txn append
            # (an idempotency-checked replay target); racing a
            # concurrent creator is surfaced by CommitConflictError
            t.create(df.limit(0), partition_by=partition_by or [])
        if dedupe_cols:
            existing = t.read().select(*dedupe_cols)
            df = df.join(existing, dedupe_cols, "left_anti")
        t.append(df, txn_app=ingest_id, txn_version=batch_id)

    writer = stream_df.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.queryName(ingest_id).start()
