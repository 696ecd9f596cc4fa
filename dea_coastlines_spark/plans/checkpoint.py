"""Per-partition checkpoint/lineage: resume-by-skip for killed jobs.

Generalizes the reference's `run_completed` marker files
(coastlines/raster.py:716-725,749-754; vector.py:1791-1800) into
committed lineage: every stage is a SnapshotTable partitioned by
`cell_key`, and every batch of completed keys is ONE commit of that
table. The commit publishes the batch's data files and its lineage
together, so there is no window in which one exists without the other
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics").

Layout under `base_dir`:
    <stage>/metadata/v{N}.metadata.json   one snapshot per batch; its
                                          summary holds the batch's
                                          keys and run_id
    <stage>/data/stage-*/cell_key=<k>/    parquet output per key

Lineage is derived from the metadata alone: a key's `n_rows` is the sum
of `rows` over its manifest entries (0 when it produced no rows) and
its `completed_at` is the timestamp of the commit that listed it.

A killed batch leaves only unreferenced staged files (reclaimed by
`SnapshotTable.vacuum`); the rerun redoes exactly that batch. Two
runners over one base dir cannot both commit the same keys: a batch
commits against the version its work list was read from, so the loser
gets `CommitConflictError` and a rerun skips what the winner committed.

Stages must be key-separable (outputs for one cell depend only on that
cell's inputs) — true for every per-tile stage in this engine; the
reference's per-tile CLI founds the same assumption.
"""

from __future__ import annotations

import datetime
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.table import SnapshotTable


def _key_expr(key_cols: list[str]):
    return F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])


class CheckpointedPipeline:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir.rstrip("/")
        self.run_id = uuid.uuid4().hex[:12]

    # ------------------------------------------------------------- lineage

    def table(self, stage: str) -> SnapshotTable:
        """The stage's output table; its commit log is the lineage."""
        return SnapshotTable(self.spark, f"{self.base}/{stage}")

    def _commit_log(self, stage: str) -> list[tuple]:
        table = self.table(stage)
        if table.current_version() == 0:
            return []
        n_rows: dict[str, int] = {}
        for e in table._metadata()["files"]:
            k = e["partition"]["cell_key"]
            n_rows[k] = n_rows.get(k, 0) + e["rows"]
        return [
            (
                k, stage, n_rows.get(k, 0), s["summary"]["run_id"],
                datetime.datetime.fromtimestamp(
                    s["timestamp_ms"] / 1000, datetime.timezone.utc
                ),
            )
            for s in table.snapshots()
            for k in s["summary"].get("keys", ())
        ]

    def done_keys(self, stage: str) -> list[str]:
        """Keys committed for `stage` (metadata only, no Spark job)."""
        return [r[0] for r in self._commit_log(stage)]

    def lineage(self) -> DataFrame:
        """One row per completed (cell_key, stage), every stage."""
        stages = sorted(os.listdir(self.base)) if os.path.isdir(self.base) else []
        return self.spark.createDataFrame(
            [r for st in stages for r in self._commit_log(st)],
            "cell_key string, stage string, n_rows long, run_id string, "
            "completed_at timestamp",
        )

    def completed_keys(self, stage: str) -> DataFrame:
        return self.spark.createDataFrame(
            [(k,) for k in self.done_keys(stage)], "cell_key string"
        )

    # --------------------------------------------------------------- stages

    def run_stage(
        self,
        stage: str,
        inputs: DataFrame,
        key_cols: list[str],
        fn,
        batch_keys: int | None = None,
    ) -> DataFrame:
        """Run `fn(todo_inputs) -> DataFrame` for keys not yet completed;
        commit per-key outputs; return the stage's FULL output (completed
        + new). Keys are serialized as 'a|b' strings in `cell_key`.

        batch_keys: commit granularity. None = one commit for the whole
        todo set (lowest overhead); k = process todo keys in sorted
        groups of k, one commit per group, so a job killed mid-stage
        resumes at the last committed group instead of recomputing
        everything (north-rule kill-resume semantics).

        Raises CommitConflictError when another runner committed to the
        stage after this run read its work list."""
        if batch_keys is not None and batch_keys < 1:
            raise ValueError(f"batch_keys must be >= 1, got {batch_keys}")
        table = self.table(stage)
        version = table.current_version()
        done = self.done_keys(stage)
        inputs_k = inputs.withColumn("cell_key", _key_expr(key_cols))
        todo = inputs_k.filter(~F.col("cell_key").isin(done)) if done else inputs_k

        all_todo = sorted(
            r.cell_key for r in todo.select("cell_key").distinct().collect()
        )
        step = batch_keys or max(len(all_todo), 1)
        groups = [all_todo[i : i + step] for i in range(0, len(all_todo), step)]
        for group in groups:
            sub = (
                todo
                if len(groups) == 1
                else todo.filter(F.col("cell_key").isin(group))
            )
            out_k = fn(sub.drop("cell_key")).withColumn(
                "cell_key", _key_expr(key_cols)
            )
            files = table._write_files(out_k, ["cell_key"])
            prev = (
                table._metadata(version) if version
                else {"files": [], "schema_json": out_k.schema.json()}
            )
            version = table._commit(
                "append" if version else "create",
                prev["files"] + files,
                prev["schema_json"],
                ["cell_key"],
                expected_version=version,
                summary={"keys": group, "run_id": self.run_id},
            )
        if version == 0:
            # fresh dir and nothing to do: the stage's schema from fn on
            # a limit(0) plan (schema-only, no action)
            empty = fn(inputs_k.drop("cell_key").limit(0))
            return empty.withColumn("cell_key", _key_expr(key_cols)).limit(0)
        return table.read()

    def metrics(self) -> DataFrame:
        """Per-(key, stage) metrics view of the lineage."""
        return self.lineage()
