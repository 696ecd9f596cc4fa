"""Iceberg-style snapshot/manifest table over parquet.

The north rule specifies "Iceberg-backed tables of tile imagery". This
container has no Iceberg runtime jar, so the engine ships a thin,
format-compatible-in-spirit layer that reproduces the Iceberg behaviors
the pipeline actually depends on — in production the same call sites
swap to `spark.read.format("iceberg")`:

  * **snapshot isolation + time travel** — every commit writes an
    immutable `v{N}.metadata.json` listing the table's data files; a
    `version-hint.text` pointer names the current version. Readers
    resolve a snapshot once and never see half-written commits
    (parquet files are written to a staging dir and only referenced
    after the metadata rename).
  * **manifest-side partition pruning + column-stats file skipping** —
    the manifest records each file's partition tuple, row count, and
    per-column min/max (from the parquet footers at commit time), so
    `read(..., where=...)` prunes partitions and
    `read(..., stats_where=...)` skips data files on NON-partition
    predicates BEFORE Spark lists or opens anything. At 10^12 images
    this is the difference between "open 10^6 footers" and "open 40".
    (Iceberg analog: manifest entries + partition summaries + data-file
    column stats. The reference's analog: bbox-pushdown vector reads,
    coastlines/vector.py:1413,1421-1433.)
  * **append + overwrite_partitions** — incremental annual updates
    ("updated regularly as data continues to be acquired",
    reference README.md:27) are snapshot-append of new (cell, year)
    files plus overwrite of recomputed partitions; old snapshots stay
    readable (SURVEY.md §2.10).

Layout:
    <path>/metadata/v1.metadata.json, v2..., version-hint.text
    <path>/data/<part>=<val>/.../part-*.parquet
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CommitConflictError(RuntimeError):
    """Another writer committed between this writer's read and commit
    (optimistic concurrency, the Iceberg commit-conflict analog)."""


class SnapshotTable:
    """Handle to one snapshot-versioned parquet table."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self.meta_dir = f"{self.path}/metadata"
        self.data_dir = f"{self.path}/data"

    # ------------------------------------------------------------ metadata

    def current_version(self) -> int:
        # The O_EXCL-created metadata FILE is the commit point; the hint
        # is only a fast pointer and lags one version if a writer died
        # between writing v{N}.metadata.json and replacing the hint.
        # Walk forward from the hint so an orphaned (fully written)
        # snapshot is recovered instead of wedging every future commit
        # with a permanent version collision.
        if not os.path.isdir(self.meta_dir):
            return 0
        v = 0
        hint = f"{self.meta_dir}/version-hint.text"
        if os.path.exists(hint):
            with open(hint) as f:
                v = int(f.read().strip())
        while os.path.exists(f"{self.meta_dir}/v{v + 1}.metadata.json"):
            v += 1
        return v

    def _metadata(self, version: int | None = None) -> dict:
        v = version or self.current_version()
        if v == 0:
            raise FileNotFoundError(f"no snapshot yet at {self.path}")
        with open(f"{self.meta_dir}/v{v}.metadata.json") as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        """Snapshot log (id, ts, operation, file/row counts, and the
        caller-supplied commit summary)."""
        out = []
        for v in range(1, self.current_version() + 1):
            m = self._metadata(v)
            out.append(
                {
                    "version": v,
                    "timestamp_ms": m["timestamp_ms"],
                    "operation": m["operation"],
                    "n_files": len(m["files"]),
                    "n_rows": sum(f["rows"] for f in m["files"]),
                    "summary": m.get("summary", {}),
                }
            )
        return out

    def _commit(self, operation: str, files: list[dict], schema_json: str,
                partition_by: list[str], expected_version: int | None = None,
                retire: list[str] | None = None,
                txn: tuple[str, int] | None = None,
                summary: dict | None = None) -> int:
        """Publish snapshot v{N+1}. `summary` is a small JSON-able dict
        stored with this commit only (not carried forward), e.g. the
        keys a checkpoint batch completed."""
        os.makedirs(self.meta_dir, exist_ok=True)
        cur = self.current_version()
        if expected_version is not None and cur != expected_version:
            raise CommitConflictError(
                f"table at {self.path} moved to v{cur} (expected "
                f"v{expected_version}); re-read and retry"
            )
        v = cur + 1
        # the retired-name tombstone list survives every commit: a
        # dropped column's physical data still sits in old files, so
        # re-using its name would silently resurrect stale values
        # (name-based parquet mapping has no Iceberg field ids)
        retired = self._metadata(cur).get("retired_names", []) if cur else []
        txns = dict(self._metadata(cur).get("txns", {})) if cur else {}
        if txn is not None:
            txns[txn[0]] = max(int(txn[1]), int(txns.get(txn[0], -1)))
        meta = {
            "format": "dea-coastlines-spark/snapshot-table-v1",
            "version": v,
            "operation": operation,
            "timestamp_ms": int(time.time() * 1000),
            "partition_by": partition_by,
            "schema_json": schema_json,
            "retired_names": sorted(set(retired) | set(retire or [])),
            "txns": txns,
            "summary": summary or {},
            "files": files,
        }
        # Publish content ATOMICALLY with the commit point: write + fsync
        # a private temp file, then hard-link it to the version name.
        # link(2) is atomic create-with-content, so a reader can never
        # observe an empty/partial v{N}.metadata.json (O_EXCL-then-dump
        # had a window where a writer crash left a permanently corrupt
        # head version). EEXIST keeps the same lock semantics: two
        # writers racing to v{N} — one wins, the loser gets
        # CommitConflictError.
        final = f"{self.meta_dir}/v{v}.metadata.json"
        tmp = f"{self.meta_dir}/.v{v}.{uuid.uuid4().hex[:12]}.tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)
        except FileExistsError as e:
            raise CommitConflictError(
                f"concurrent commit already produced v{v} at {self.path}"
            ) from e
        finally:
            os.unlink(tmp)
        hint_tmp = f"{self.meta_dir}/.version-hint.tmp"
        with open(hint_tmp, "w") as f:
            f.write(str(v))
        os.replace(hint_tmp, f"{self.meta_dir}/version-hint.text")
        return v

    # --------------------------------------------------------------- write

    def _write_files(
        self, df: DataFrame, partition_by: list[str], cluster: bool = True
    ) -> list[dict]:
        """Write df to a unique staging dir under data/, return manifest
        entries (path, partition tuple, rows) — files become visible
        only when a commit references them.

        cluster=False skips the partition-key repartition for callers
        that already sized df's partitioning deliberately (compact()'s
        multi-file-target path)."""
        stage_id = uuid.uuid4().hex[:12]
        stage_dir = f"{self.data_dir}/stage-{stage_id}"
        if partition_by and cluster:
            # cluster rows so each partition directory gets ONE file:
            # avoids a small-files explosion and keeps one manifest
            # entry per partition key
            df = df.repartition(*[F.col(c) for c in partition_by])
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(stage_dir)

        # Per-file manifest entries. Row counts AND per-column min/max
        # stats come from parquet footers (driver-side, one footer read
        # per file — the same cost Iceberg pays at commit time when
        # building manifests; the stats power read(stats_where=...)
        # file skipping on NON-partition columns).
        import pyarrow.parquet as pq

        entries = []
        for root, _dirs, names in os.walk(stage_dir):
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                full = os.path.join(root, name)
                rel = os.path.relpath(full, self.path)
                part = {}
                for seg in os.path.relpath(root, stage_dir).split(os.sep):
                    if "=" in seg:
                        k, val = seg.split("=", 1)
                        # Hive-escaped dir names (space -> %20, %-> %25,
                        # ...) must be DECODED into the manifest, or a
                        # later CoW rewrite re-escapes the literal '%'
                        # and every merge/delete cycle compounds the
                        # escaping ("4-NOT SPECIFIED" -> %20 -> %2520)
                        part[k] = _unescape_partition(val)
                md = pq.ParquetFile(full).metadata
                entries.append(
                    {
                        "path": rel,
                        "partition": part,
                        "rows": md.num_rows,
                        "bytes": os.path.getsize(full),
                        "stats": _footer_column_stats(md),
                    }
                )
        return entries

    def create(self, df: DataFrame, partition_by: list[str] | None = None) -> int:
        partition_by = partition_by or []
        files = self._write_files(df, partition_by)
        return self._commit("create", files, df.schema.json(), partition_by)

    def append(
        self,
        df: DataFrame,
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> int:
        """Append df as a new snapshot. (txn_app, txn_version) makes
        the append IDEMPOTENT — the Delta txnAppId/txnVersion pattern
        streaming foreachBatch sinks need for exactly-once: the table
        records the highest committed version per app id, and a replay
        of an already-committed (app, version) returns the current
        version WITHOUT writing (the crash-between-table-commit-and-
        checkpoint-commit window otherwise duplicates the batch)."""
        if (txn_app is None) != (txn_version is None):
            raise ValueError("txn_app and txn_version come together")
        base_v = self.current_version()
        m = self._metadata(base_v)
        if txn_app is not None:
            done = m.get("txns", {}).get(txn_app)
            if done is not None and int(txn_version) <= int(done):
                return base_v  # replayed batch: already committed
        new = self._write_files(df, m["partition_by"])
        return self._commit(
            "append", m["files"] + new, m["schema_json"], m["partition_by"],
            expected_version=base_v,
            txn=(txn_app, int(txn_version)) if txn_app is not None else None,
        )

    def overwrite_partitions(
        self, df: DataFrame, drop_partitions: list[dict] | None = None
    ) -> int:
        """Replace every partition present in df (dynamic partition
        overwrite — the incremental-recompute primitive: rewrite only
        affected (cell, year) partitions, SURVEY.md §2.10).

        drop_partitions: partitions the caller RECOMPUTED even if df has
        no rows for them — dynamic overwrite alone can never delete a
        partition whose recompute came back empty, so an incremental
        maintainer must name its full affected set or stale rows survive
        (values are matched as partition-directory strings)."""
        m = self._metadata()
        part_cols = m["partition_by"]
        if not part_cols:
            raise ValueError("overwrite_partitions needs a partitioned table")
        new = self._write_files(df, part_cols)
        replaced = {tuple(sorted(e["partition"].items())) for e in new}
        if drop_partitions:
            replaced |= {
                tuple(
                    sorted(
                        (k, _hive_partition_value(v)) for k, v in d.items()
                    )
                )
                for d in drop_partitions
            }
        # legacy-layout files (partition evolution) may hold rows of
        # MANY current-layout partitions: rewrite them with the replaced
        # partitions' rows anti-joined out (typed equi keys — exact),
        # which also migrates them to the current layout.
        legacy = [
            e for e in m["files"] if set(e["partition"]) != set(part_cols)
        ]
        kept = [
            e
            for e in m["files"]
            if set(e["partition"]) == set(part_cols)
            and tuple(sorted(e["partition"].items())) not in replaced
        ]
        if legacy:
            repl_keys = df.select(*part_cols).distinct()
            if drop_partitions:
                extra = self.spark.createDataFrame(
                    [tuple(d[c] for c in part_cols) for d in drop_partitions],
                    repl_keys.schema,
                )
                repl_keys = repl_keys.unionByName(extra).distinct()
            ldf = self._read_entries(m, legacy)
            cond = None
            for c in part_cols:
                # eqNullSafe: a replaced NULL-valued partition must also
                # anti-match legacy rows carrying NULL
                term = ldf[c].eqNullSafe(repl_keys[c])
                cond = term if cond is None else cond & term
            survivors = ldf.join(repl_keys, cond, "left_anti")
            new += self._write_files(survivors, part_cols)
        return self._commit(
            "overwrite_partitions", kept + new, m["schema_json"], part_cols,
            expected_version=m["version"],
        )

    def merge(self, source: DataFrame, on: list[str]) -> int:
        """MERGE INTO (upsert, copy-on-write — the Iceberg MoR/CoW
        row-level-update analog, CoW variant): every source row lands in
        the table; a target row whose `on` key matches a source row is
        REPLACED by it, all other target rows survive unchanged.

        Scale shape: only AFFECTED data files are rewritten. For a
        partitioned table the source's distinct partition tuples are
        collected (bounded by partitions touched, not rows) and files
        outside them carry over in the manifest untouched — at 10^12
        rows an annual-update merge rewrites the handful of (cell, year)
        partitions it touches, never the table. When the merge key does
        not pin the partition (part_cols ⊄ on), partitions holding
        MATCHED keys outside the source's partition set are found with
        a column-pruned semi join and rewritten too — otherwise a
        partition-moving upsert would leave both row versions alive.
        The matched/unmatched
        split is one anti join on the key (broadcast/AQE decide the
        strategy). NULL key semantics match SQL MERGE: a NULL never
        equals anything, so NULL-keyed target rows are kept and
        NULL-keyed source rows insert. Unpartitioned tables rewrite
        fully (documented CoW cost; the production path partitions).

        Commit carries expected_version, so a concurrent writer raises
        CommitConflictError instead of silently losing rows."""
        m = self._metadata()
        part_cols = m["partition_by"]
        schema_cols = [
            f["name"] for f in json.loads(m["schema_json"])["fields"]
        ]
        missing = [c for c in schema_cols if c not in source.columns]
        if missing:
            raise ValueError(f"merge source missing columns {missing}")
        bad_keys = [k for k in on if k not in schema_cols]
        if bad_keys:
            raise KeyError(f"merge keys not in table schema: {bad_keys}")
        source = source.select(*schema_cols)
        if part_cols:
            touched = {
                tuple(
                    sorted(
                        (k, _hive_partition_value(v))
                        for k, v in r.asDict().items()
                    )
                )
                for r in source.select(*part_cols).distinct().collect()
            }
            # legacy-layout entries (partition evolution) cannot be
            # classified by current-layout tuples — always rewrite them
            # (which also migrates them to the current layout)
            def _is_affected(e):
                return (
                    set(e["partition"]) != set(part_cols)
                    or tuple(sorted(e["partition"].items())) in touched
                )

            kept = [e for e in m["files"] if not _is_affected(e)]
            if kept and not set(part_cols) <= set(on):
                # The upsert can MOVE a row across partitions: a target
                # row whose key matches a source row may live in a
                # partition the source doesn't write (e.g. the merge
                # updates the partition column itself). Its file must be
                # rewritten too, or both versions survive. Find those
                # partitions with a column-pruned semi join over the
                # untouched files — reads only the key + partition
                # columns (the Iceberg analog is manifest column stats /
                # bloom filters); rows returned are bounded by distinct
                # partitions, not data size. When part_cols ⊆ on the
                # key pins the partition and this scan is skipped.
                moved = (
                    self._read_entries(m, kept)
                    .select(*dict.fromkeys(list(on) + part_cols))
                    .join(source.select(*on).distinct(), on, "left_semi")
                    .select(*part_cols)
                    .distinct()
                    .collect()
                )
                touched |= {
                    tuple(
                        sorted(
                            (k, _hive_partition_value(v))
                            for k, v in r.asDict().items()
                        )
                    )
                    for r in moved
                }
            affected = [e for e in m["files"] if _is_affected(e)]
            kept = [e for e in m["files"] if not _is_affected(e)]
        else:
            affected, kept = m["files"], []
        target = self._read_entries(m, affected)
        merged = source.unionByName(
            target.join(source.select(*on).distinct(), on, "left_anti")
        )
        new = self._write_files(merged, part_cols)
        return self._commit(
            "merge", kept + new, m["schema_json"], part_cols,
            expected_version=m["version"],
        )

    def delete_where(
        self, condition: str, where: dict[str, object] | None = None
    ) -> int:
        """Row-level DELETE (copy-on-write): drop rows where `condition`
        (a Spark SQL boolean expression) evaluates TRUE; NULL keeps the
        row, matching SQL DELETE semantics.

        `where` (same partition-predicate form as read()) scopes the
        rewrite to manifest-pruned files; files outside it carry over
        untouched — the caller-supplied stand-in for the column-stats
        file pruning a production Iceberg DELETE gets from manifests.
        Unscoped deletes rewrite every file (documented CoW cost)."""
        m = self._metadata()
        files = m["files"]
        affected = files
        if where:
            for col, want in where.items():
                if col not in m["partition_by"]:
                    raise KeyError(f"{col} is not a partition column")
                # legacy-layout files stay IN scope (conservative): the
                # row-level condition re-applies exactly below
                affected = [
                    f for f in affected
                    if col not in f["partition"]
                    or _part_match(f["partition"][col], want)
                ]
        affected_paths = {e["path"] for e in affected}
        kept = [e for e in files if e["path"] not in affected_paths]
        target = self._read_entries(m, affected)
        # NOT coalesce(cond, false): rows where the predicate is NULL
        # survive (plain ~expr would silently delete them)
        remaining = target.filter(
            ~F.coalesce(F.expr(condition), F.lit(False))
        )
        new = self._write_files(remaining, m["partition_by"])
        return self._commit(
            "delete", kept + new, m["schema_json"], m["partition_by"],
            expected_version=m["version"],
        )

    def compact(
        self, target_bytes: int = 128 * 1024 * 1024, min_files: int = 2
    ) -> int:
        """Rewrite small-file partitions into ~target_bytes files —
        content-identical new snapshot (Iceberg rewrite_data_files
        analog). Incremental appends (jobs/run_corpus_append.py) add one
        file per partition per commit, so a frequently-appended table
        accumulates files whose per-file size no scan wants; compaction
        is the maintenance half of that write pattern. Old files stay
        referenced by prior snapshots for time travel until vacuum().

        A partition qualifies when it has >= min_files files AND its
        total bytes fit in fewer files of target_bytes than it currently
        has (so already-compact layouts are a no-op — returns the
        current version without a commit). Unpartitioned tables compact
        the whole file set under the same rule.

        Rewrites batch into ONE Spark job for every partition whose
        target is a single file (the overwhelmingly common case — the
        existing partition-key clustering write yields exactly one file
        per partition), plus one sized repartition(n) job per partition
        that still needs n > 1 files."""

        m = self._metadata()
        part_cols = m["partition_by"]
        schema_cols = [
            f["name"] for f in json.loads(m["schema_json"])["fields"]
        ]

        groups: dict[tuple, list[dict]] = {}
        for e in m["files"]:
            groups.setdefault(
                tuple(sorted(e["partition"].items())), []
            ).append(e)

        single, multi = [], []
        for entries in groups.values():
            if len(entries) < min_files:
                continue
            total = sum(e["bytes"] for e in entries)
            n_target = max(1, math.ceil(total / target_bytes))
            if n_target >= len(entries):
                continue  # can't do better than the current layout
            # the batched single-file path relies on the partition-key
            # clustering write; an unpartitioned table has no key, so
            # it always takes the explicitly-sized repartition path
            if n_target == 1 and part_cols:
                single.append((entries, n_target))
            else:
                multi.append((entries, n_target))
        if not single and not multi:
            return m["version"]

        new: list[dict] = []
        if single:
            batch = [e for entries, _n in single for e in entries]
            df = self._read_entries(m, batch).select(*schema_cols)
            new += self._write_files(df, part_cols)
        for entries, n_target in multi:
            df = (
                self._read_entries(m, entries)
                .select(*schema_cols)
                .repartition(n_target)
            )
            new += self._write_files(df, part_cols, cluster=False)

        rewritten = {
            e["path"] for entries, _n in single + multi for e in entries
        }
        kept = [e for e in m["files"] if e["path"] not in rewritten]
        # content-identity guard from the manifests themselves: the
        # rewrite must carry every row (footer counts, no extra scan)
        rows_in = sum(
            e["rows"] for e in m["files"] if e["path"] in rewritten
        )
        rows_out = sum(e["rows"] for e in new)
        if rows_in != rows_out:
            raise RuntimeError(
                f"compact row-count mismatch: {rows_in} in rewritten "
                f"files, {rows_out} in their replacements"
            )
        return self._commit(
            "compact", kept + new, m["schema_json"], part_cols,
            expected_version=m["version"],
        )

    def rewrite_sorted(
        self,
        sort_by: list[str] | None = None,
        zorder_by: tuple[str, str] | None = None,
        target_bytes: int = 128 * 1024 * 1024,
        zorder_bits: int = 16,
    ) -> int:
        """Data-layout rewrite for scan pruning — the Iceberg
        rewrite_data_files(strategy='sort' | 'zorder') analog. Rewrites
        every partition's rows range-clustered so per-file column
        min/max stats become narrow and read(stats_where=...) SKIPS
        files a range predicate cannot match instead of opening them.
        Content-identical snapshot (row-count guard), old files remain
        time-travelable until vacuum().

        sort_by: lexicographic range clustering (repartitionByRange +
        sortWithinPartitions) — ideal for one dominant filter column.
        zorder_by: two numeric columns interleaved bitwise on
        ``zorder_bits``-bucket QUANTILE ranks (edges from
        approxQuantile, so skew cannot collapse buckets) — balanced
        pruning for 2-D box predicates, the classic spatial layout.
        Exactly one of the two must be given.

        Scale: one range shuffle per partition group (Spark's range
        partitioner samples keys, no global sort barrier); the zorder
        key is a pure JVM expression (bucket lookup over broadcast
        literal edges + constant-folded bit interleave)."""

        if (sort_by is None) == (zorder_by is None):
            raise ValueError("give exactly one of sort_by / zorder_by")
        m = self._metadata()
        part_cols = m["partition_by"]
        schema_cols = [
            f["name"] for f in json.loads(m["schema_json"])["fields"]
        ]
        data_cols = [c for c in schema_cols if c not in part_cols]
        for c in list(sort_by or []) + list(zorder_by or []):
            if c not in data_cols:
                raise KeyError(
                    f"{c} is not a data column (partition columns are "
                    "constant per file — sorting them prunes nothing)"
                )

        def _zkey(df: DataFrame):
            cx, cy = zorder_by
            nb = int(zorder_bits)
            # quantile edges once, driver-side, bounded error; literals
            # broadcast with the plan
            ex, ey = df.stat.approxQuantile(
                [cx, cy], [i / nb for i in range(1, nb)], 0.001
            )
            def bucket(col, edges):
                b = F.lit(0)
                for e in edges:
                    b = b + F.when(
                        F.col(col).cast("double") >= float(e), 1
                    ).otherwise(0)
                return b
            bx, by = bucket(cx, ex), bucket(cy, ey)
            bits = max(1, (nb - 1)).bit_length()
            z = F.lit(0).cast("long")
            for i in range(bits):
                # Column | is LOGICAL or in PySpark — bitwiseOR is the
                # bit interleave
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(bx, i).bitwiseAND(F.lit(1)).cast("long"),
                        2 * i + 1,
                    )
                ).bitwiseOR(
                    F.shiftleft(
                        F.shiftright(by, i).bitwiseAND(F.lit(1)).cast("long"),
                        2 * i,
                    )
                )
            return df.withColumn("_zkey", z)

        groups: dict[tuple, list[dict]] = {}
        for e in m["files"]:
            groups.setdefault(
                tuple(sorted(e["partition"].items())), []
            ).append(e)

        new: list[dict] = []
        rewritten: set = set()
        for entries in groups.values():
            total = sum(e["bytes"] for e in entries)
            n_target = max(1, math.ceil(total / target_bytes))
            df = self._read_entries(m, entries).select(*schema_cols)
            if sort_by is not None:
                keys = [F.col(c) for c in sort_by]
            else:
                df = _zkey(df)
                keys = [F.col("_zkey")]
            df = df.repartitionByRange(n_target, *keys)
            df = df.sortWithinPartitions(*keys).select(*schema_cols)
            new += self._write_files(df, part_cols, cluster=False)
            rewritten |= {e["path"] for e in entries}

        kept = [e for e in m["files"] if e["path"] not in rewritten]
        rows_in = sum(
            e["rows"] for e in m["files"] if e["path"] in rewritten
        )
        rows_out = sum(e["rows"] for e in new)
        if rows_in != rows_out:
            raise RuntimeError(
                f"rewrite row-count mismatch: {rows_in} in rewritten "
                f"files, {rows_out} in their replacements"
            )
        op = "rewrite-sorted" if sort_by is not None else "rewrite-zorder"
        return self._commit(
            op, kept + new, m["schema_json"], part_cols,
            expected_version=m["version"],
        )

    # ---------------------------------------------------------------- read

    # ---------------------------------------------------- schema evolution
    #
    # Metadata-only DDL, Iceberg-style: a new snapshot with a new
    # schema_json and the SAME file list — zero data movement at any
    # table size. Reads resolve heterogeneous files lazily
    # (_read_entries), CoW rewrites materialize the current schema.
    # Without Iceberg's field ids the mapping is name-based, so names
    # that ever carried OTHER data (dropped columns, and the previous
    # names of renames when their field is dropped) are tombstoned in
    # `retired_names` and can never be reused — the alternative is
    # silent resurrection of stale values from old files.

    def _unusable_names(self, m: dict) -> set:
        taken = set(m.get("retired_names", []))
        for f in json.loads(m["schema_json"])["fields"]:
            taken.add(f["name"])
            taken.update(_previous_names(f))
        return taken

    def add_columns(self, columns: dict[str, str]) -> int:
        """Append nullable columns (name -> Spark SQL type string, e.g.
        "double", "array<string>"). Pre-evolution files read the new
        columns as NULL (parquet requested-schema clipping)."""
        from pyspark.sql.types import _parse_datatype_string

        m = self._metadata()
        taken = self._unusable_names(m)
        schema = json.loads(m["schema_json"])
        for name, dtype in columns.items():
            if name in taken:
                raise ValueError(
                    f"column name {name!r} is in use or retired "
                    "(re-using it would resurrect stale file data)"
                )
            schema["fields"].append(
                {
                    "name": name,
                    "type": _parse_datatype_string(dtype).jsonValue(),
                    "nullable": True,
                    "metadata": {},
                }
            )
        return self._commit(
            "add-columns", m["files"], json.dumps(schema),
            m["partition_by"], expected_version=m["version"],
        )

    def drop_columns(self, names: list[str]) -> int:
        """Remove columns from the schema (metadata-only; file bytes
        stay until CoW rewrites/compaction age them out). Partition
        columns cannot be dropped. The dropped names — and the whole
        name lineage of a dropped renamed field — are retired."""
        m = self._metadata()
        fields = json.loads(m["schema_json"])["fields"]
        have = {f["name"] for f in fields}
        for n in names:
            if n not in have:
                raise KeyError(f"{n} is not a table column")
            if n in m["partition_by"]:
                raise ValueError(f"cannot drop partition column {n}")
        if not have - set(names):
            raise ValueError("cannot drop every column")
        retire = []
        kept = []
        for f in fields:
            if f["name"] in names:
                retire += [f["name"], *_previous_names(f)]
            else:
                kept.append(f)
        schema = json.loads(m["schema_json"])
        schema["fields"] = kept
        return self._commit(
            "drop-columns", m["files"], json.dumps(schema),
            m["partition_by"], expected_version=m["version"],
            retire=retire,
        )

    def set_partitioning(self, cols: list[str]) -> int:
        """Partition evolution (metadata-only): FUTURE writes lay out
        under `cols`; existing files keep their layout and stay fully
        readable — a column lives in the directory path for old files
        and in the parquet data for new ones (or vice versa), and
        _read_entries resolves whichever side exists per file. CoW
        rewrites and compact/rewrite_sorted migrate files to the
        current layout as they touch them; partition pruning
        (read(where=...)) stays EXACT by keeping legacy files
        conservatively and re-applying the predicate as a row filter.
        `cols=[]` un-partitions the table going forward."""
        m = self._metadata()
        have = {f["name"] for f in json.loads(m["schema_json"])["fields"]}
        for c in cols:
            if c not in have:
                raise KeyError(f"{c} is not a table column")
        if list(cols) == m["partition_by"]:
            return m["version"]
        return self._commit(
            "set-partitioning", m["files"], m["schema_json"], list(cols),
            expected_version=m["version"],
        )

    def rename_column(self, old: str, new: str) -> int:
        """Rename a column (metadata-only). The old name joins the
        field's lineage so files written before the rename keep
        resolving; columns whose name is baked into any data-file path
        (current partition columns, and former ones while pre-evolution
        files remain) cannot be renamed."""
        m = self._metadata()
        if old in m["partition_by"] or any(
            old in f["partition"] for f in m["files"]
        ):
            raise ValueError(
                f"cannot rename partition column {old} (its name is in "
                "data-file paths; compact/rewrite first)"
            )
        taken = self._unusable_names(m)
        if new in taken:
            raise ValueError(
                f"column name {new!r} is in use or retired "
                "(re-using it would resurrect stale file data)"
            )
        schema = json.loads(m["schema_json"])
        hit = False
        for f in schema["fields"]:
            if f["name"] == old:
                meta = dict(f.get("metadata") or {})
                meta["previous_names"] = [old, *_previous_names(f)]
                f["metadata"] = meta
                f["name"] = new
                hit = True
        if not hit:
            raise KeyError(f"{old} is not a table column")
        return self._commit(
            "rename-column", m["files"], json.dumps(schema),
            m["partition_by"], expected_version=m["version"],
        )

    def read(
        self,
        snapshot: int | None = None,
        where: dict[str, object] | None = None,
        stats_where: dict[str, object] | None = None,
    ) -> DataFrame:
        """Read a snapshot. `where` maps partition column -> value |
        list-of-values | (lo, hi) inclusive range; matching happens
        against the MANIFEST (no file listing, no footer reads for
        pruned files) and is EXACT — returned rows satisfy it.

        stats_where maps NON-partition columns to the same predicate
        forms, matched against per-file column min/max recorded in the
        manifest at commit time (the Iceberg data-file-skipping analog:
        a year-range or score-threshold scan opens only files whose
        stats ranges intersect). File skipping is CONSERVATIVE — the
        result is a superset of matching rows (a file without stats for
        the column is always kept), so the caller still applies the
        real filter; Catalyst then also pushes it into the row groups
        of the files that were opened.

        Non-partition predicates still push down to parquet row groups
        via Catalyst as usual."""
        m = self._metadata(snapshot)
        files = m["files"]
        post_filters = []
        if where:
            for col, want in where.items():
                if col not in m["partition_by"]:
                    raise KeyError(f"{col} is not a partition column")
                # partition evolution: a legacy-layout file has no
                # manifest value for this key — keep it (conservative)
                # and re-apply the predicate as an exact row filter
                if any(col not in f["partition"] for f in files):
                    post_filters.append(_pred_column(col, want))
                files = [
                    f for f in files
                    if col not in f["partition"]
                    or _part_match(f["partition"][col], want)
                ]
        if stats_where:
            schema_cols = {
                f["name"] for f in json.loads(m["schema_json"])["fields"]
            }
            for col, want in stats_where.items():
                if col not in schema_cols:
                    raise KeyError(f"{col} is not a table column")
                if col in m["partition_by"]:
                    raise KeyError(
                        f"{col} is a partition column — use where="
                    )
                files = [f for f in files if _stats_match(f, col, want)]
        out = self._read_entries(m, files)
        for p in post_filters:
            out = out.filter(p)
        return out

    def _new_entries(
        self, since_snapshot: int, end_snapshot: int | None,
        allow_rewrites: bool,
    ) -> tuple[dict, list[dict]]:
        """(end metadata, manifest entries added after since_snapshot)."""
        end = self._metadata(end_snapshot)
        if since_snapshot > end["version"]:
            # a stale / typo'd snapshot id (recorded from another table,
            # or after a restore) must not silently read as "nothing
            # changed" — the incremental recompute would skip real work
            raise ValueError(
                f"since_snapshot {since_snapshot} is beyond the table's "
                f"version {end['version']}; refusing to report an empty "
                "change set for an unknown snapshot"
            )
        if since_snapshot == end["version"]:
            return end, []
        if since_snapshot < 0:
            raise ValueError("since_snapshot must be >= 0")
        if not allow_rewrites:
            for v in range(since_snapshot + 1, end["version"] + 1):
                op = self._metadata(v)["operation"]
                if op not in ("create", "append", "overwrite_partitions"):
                    raise ValueError(
                        f"snapshot range contains a row-rewriting commit "
                        f"(v{v}: {op}); its files mix NEW rows with "
                        "carried-over copies of old ones, so an "
                        "append-only incremental scan would double-count"
                        " — pass allow_rewrites=True to read the "
                        "rewritten files anyway"
                    )
        old = (
            {f["path"] for f in self._metadata(since_snapshot)["files"]}
            if since_snapshot > 0
            else set()
        )
        return end, [f for f in end["files"] if f["path"] not in old]

    def read_incremental(
        self,
        since_snapshot: int,
        end_snapshot: int | None = None,
        allow_rewrites: bool = False,
    ) -> DataFrame:
        """Rows in data files added AFTER since_snapshot, up to
        end_snapshot (default: current) — the Iceberg incremental
        append scan: an annual-update maintainer processes only the new
        (cell, year) files instead of re-scanning 10^12 rows
        (reference analog: README.md's 'updated regularly as data
        continues to be acquired' re-supply loop).

        Semantics: exactly the appended rows for append-only ranges
        (create/append/overwrite_partitions commits; an overwritten
        partition's files count as new — the recompute IS its change).
        Ranges containing copy-on-write rewrites (merge/delete_where)
        raise by design: a rewritten file mixes changed rows with
        carried-over copies, so an append-only scan would double-count;
        allow_rewrites=True opts into reading those files regardless
        (file-level change-data capture, caller dedups). since_snapshot
        = 0 reads everything."""
        end, new = self._new_entries(
            since_snapshot, end_snapshot, allow_rewrites
        )
        return self._read_entries(end, new)

    def changed_partitions(
        self,
        since_snapshot: int,
        end_snapshot: int | None = None,
        allow_rewrites: bool = True,
    ) -> list[dict]:
        """Distinct partition tuples of files added after
        since_snapshot — the work-list an incremental maintainer feeds
        to its recompute + overwrite_partitions cycle (e.g. which
        (cell, year) composites to rebuild after a tile re-supply).
        Manifest-only: no file is opened. Rewrite commits are allowed
        by default here: for a work-list, a rewritten partition IS a
        changed partition."""
        _end, new = self._new_entries(
            since_snapshot, end_snapshot, allow_rewrites
        )
        seen: set[tuple] = set()
        out: list[dict] = []
        for f in new:
            key = tuple(sorted(f["partition"].items()))
            if key not in seen:
                seen.add(key)
                out.append(dict(f["partition"]))
        return out

    def _read_entries(self, m: dict, files: list[dict]) -> DataFrame:
        """Read an explicit manifest-entry list from snapshot metadata m
        (the path read() and the copy-on-write rewrites share).

        Schema evolution makes the file set heterogeneous: files
        written before an add_columns lack the new columns, files
        written before a rename_column carry the old physical name.
        The read therefore REQUESTS an explicit physical schema — every
        field under its current name plus every previous name (parquet
        requested-schema clipping returns NULL for names a file lacks)
        — and coalesces each renamed field from its name lineage:
        exactly one lineage name is physically present per file, so the
        coalesce resolves losslessly.

        Partition evolution (set_partitioning) additionally makes the
        LAYOUT heterogeneous: a column may live in the directory path
        for some files and inside the parquet data for others. Every
        name that is a current partition column or appears as a
        partition key of any entry being read resolves as
        coalesce(path-derived value, physical column) — per file
        exactly one of the two exists. CoW rewrites (merge/delete/
        compact/rewrite_sorted) read through this path and write the
        CURRENT schema and layout, so files converge lazily, as in
        Iceberg."""
        from pyspark.sql.types import StructType

        fields = json.loads(m["schema_json"])["fields"]
        if not files:
            # an empty RDD has one partition and no Python side; an
            # empty local list would run a Python task per default slice
            return self.spark.createDataFrame(
                self.spark.sparkContext.emptyRDD(),
                StructType.fromJson(json.loads(m["schema_json"])),
            )
        paths = [f"{self.path}/{f['path']}" for f in files]
        part_set = set(m["partition_by"])
        for f in files:
            part_set |= set(f["partition"])
        phys = []
        for f in fields:
            for nm in [f["name"], *_previous_names(f)]:
                phys.append(
                    {"name": nm, "type": f["type"], "nullable": True,
                     "metadata": {}}
                )
        df = self.spark.read.schema(
            StructType.fromJson({"type": "struct", "fields": phys})
        ).parquet(*paths)
        schema_cols = [f["name"] for f in fields]
        for col in sorted(part_set):
            if col not in schema_cols:
                # a historical partition key whose field was dropped —
                # nothing in the current schema resolves from it
                continue
            # partition values live under per-commit staging dirs;
            # recover them from dir names relative to each stage root.
            raw = F.regexp_extract(
                F.input_file_name(), f"/{col}=([^/]+)/", 1
            )

            # input_file_name() is a URI, so the dir segment is
            # URI-encoded ON TOP of Hive path escaping (value "a%b"
            # -> Hive dir "a%25b" -> URI "a%2525b"; space is NOT
            # Hive-escaped but IS URI-encoded). Two decode passes
            # invert both layers exactly; url_decode additionally
            # maps '+' -> ' ' which neither layer produces, so
            # shield literal '+' before each pass.
            def _decode_once(c):
                return F.url_decode(
                    F.regexp_replace(c, r"\+", "%2B")
                )

            decoded = _decode_once(_decode_once(raw))
            # a NULL partition value is written as the Hive default-
            # partition sentinel; map it back to NULL BEFORE the
            # cast (under ANSI mode casting the sentinel to a
            # non-string type throws; for string columns the
            # sentinel would otherwise leak through as a literal)
            decoded = F.when(
                decoded == "__HIVE_DEFAULT_PARTITION__", F.lit(None)
            ).otherwise(decoded)
            typed = decoded.cast(_partition_dtype(m["schema_json"], col))
            # raw == "" means this file has no such path segment: the
            # value (if any) is the file's physical column. A file that
            # HAS the segment carries the authoritative value there
            # (never both — the writer drops partition columns from
            # file data).
            df = df.withColumn(
                col, F.when(raw == "", F.col(col)).otherwise(typed)
            )
        # schema_json column ORDER, matching the empty-prune branch:
        # the withColumn loop reorders appended columns, and a
        # positional union of an empty read with a non-empty one
        # would mis-align columns
        df = _resolve_lineage(
            df, [f for f in fields if _previous_names(f)]
        ).select(*schema_cols)
        # Split planning from the manifest, as Iceberg plans from its
        # manifests: one split per maxPartitionBytes of file bytes.
        # Spark alone spreads small inputs over every core, so k small
        # files feeding a Python kernel would start k Python tasks that
        # each pay the fixed per-task cost. coalesce never adds
        # partitions, so large files still split at maxPartitionBytes.
        if all("bytes" in f for f in files):
            split = _byte_size(
                self.spark.conf.get("spark.sql.files.maxPartitionBytes")
            )
            total = sum(f["bytes"] for f in files)
            df = df.coalesce(max(1, math.ceil(total / split)))
        return df

    def prune_stats(
        self,
        where: dict[str, object] | None = None,
        stats_where: dict[str, object] | None = None,
    ) -> dict:
        """How much the manifest prune saves — for tests and metrics.
        Counts files kept after partition pruning (`where`) and
        column-stats file skipping (`stats_where`)."""
        m = self._metadata()
        total = len(m["files"])
        kept = self.read(where=where, stats_where=stats_where)  # validates
        files = m["files"]
        for col, want in (where or {}).items():
            # legacy-layout files (partition evolution) are kept
            # conservatively, mirroring read()
            files = [
                f for f in files
                if col not in f["partition"]
                or _part_match(f["partition"][col], want)
            ]
        for col, want in (stats_where or {}).items():
            files = [f for f in files if _stats_match(f, col, want)]
        return {
            "total_files": total,
            "kept_files": len(files),
            "kept_rows": sum(f["rows"] for f in files),
            "_df": kept,
        }

    def vacuum(self, keep_last: int = 1, min_age_s: float = 3600.0) -> int:
        """Delete data files unreferenced by the last `keep_last`
        snapshots (Iceberg expire_snapshots analog). Returns files
        removed.

        min_age_s guards in-flight writers: a concurrent commit stages
        its files BEFORE the snapshot references them, so deleting young
        unreferenced files would corrupt that commit (the same reason
        Iceberg's remove_orphan_files has a retention interval). Also
        note reads of vacuumed snapshots (read(snapshot=expired)) will
        fail with missing paths — expired history is gone by design."""
        cur = self.current_version()
        keep_versions = range(max(1, cur - keep_last + 1), cur + 1)
        live = set()
        for v in keep_versions:
            live |= {f["path"] for f in self._metadata(v)["files"]}
        removed = 0
        now = time.time()
        for root, _dirs, names in os.walk(self.data_dir):
            for name in names:
                full = os.path.join(root, name)
                rel = os.path.relpath(full, self.path)
                if (
                    name.endswith(".parquet")
                    and rel not in live
                    and now - os.path.getmtime(full) >= min_age_s
                ):
                    os.remove(full)
                    removed += 1
        # drop now-empty staging dirs (age-guarded: an in-flight writer's
        # stage dir is briefly parquet-free before its first file lands)
        for entry in os.listdir(self.data_dir):
            full = os.path.join(self.data_dir, entry)
            if (
                os.path.isdir(full)
                and now - os.path.getmtime(full) >= min_age_s
                and not any(
                    n.endswith(".parquet")
                    for _r, _d, ns in os.walk(full)
                    for n in ns
                )
            ):
                shutil.rmtree(full)
        return removed


def _byte_size(conf_value: str) -> int:
    """A Spark byte-size setting ("8388608", "8m", "134217728b") in bytes."""
    m = re.fullmatch(r"(\d+)([kmgtp]?)b?", conf_value.strip().lower())
    if m is None:
        raise ValueError(f"not a byte size: {conf_value!r}")
    return int(m.group(1)) * 1024 ** " kmgtp".index(m.group(2) or " ")


def _previous_names(field: dict) -> list[str]:
    """Name lineage a renamed field still resolves from (newest first)."""
    return list((field.get("metadata") or {}).get("previous_names", []))


def _resolve_lineage(df: DataFrame, data_fields: list[dict]) -> DataFrame:
    """Coalesce every renamed field from its physical-name lineage and
    drop the retired physical columns. Exactly one lineage name exists
    per file (the others read as NULL via schema clipping), so the
    coalesce is lossless — except that a genuinely-NULL value in a
    newer file falls through to the older name, which is also NULL in
    that file, keeping the result correct."""
    for f in data_fields:
        prev = _previous_names(f)
        if prev:
            df = df.withColumn(
                f["name"], F.coalesce(F.col(f["name"]), *prev)
            ).drop(*prev)
    return df


def _footer_column_stats(md) -> dict:
    """{column: [min, max]} aggregated across a parquet file's row
    groups, from footer statistics alone (no data pages read). Only
    JSON-representable scalar types are kept (int/float/bool, UTF-8
    strings); nested paths, binary payloads, and stat-less columns are
    skipped — a missing entry means "cannot skip", never "no rows".
    Writer-truncated string bounds are safe: parquet truncation widens
    the range, which only makes skipping more conservative."""
    agg: dict[str, list] = {}
    # a single stat-less/undecodable row group poisons the column: a
    # partial range would wrongly skip files
    poisoned: set[str] = set()
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name or name in poisoned:
                continue
            st = col.statistics
            mn = mx = None
            if st is not None and st.has_min_max:
                mn, mx = st.min, st.max
                if isinstance(mn, bytes) or isinstance(mx, bytes):
                    try:
                        mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                    except UnicodeDecodeError:
                        mn = None
                if mn is not None and not all(
                    isinstance(v, (bool, int, float, str)) for v in (mn, mx)
                ):
                    mn = None
            if mn is None:
                poisoned.add(name)
                agg.pop(name, None)
                continue
            cur = agg.get(name)
            if cur is None:
                agg[name] = [mn, mx]
            else:
                agg[name] = [min(cur[0], mn), max(cur[1], mx)]
    return agg


def _stats_match(entry: dict, col: str, want) -> bool:
    """Conservative file-skip test against manifest column stats: True
    (keep the file) unless the stats PROVE no row can match. Missing
    stats always keep."""
    s = (entry.get("stats") or {}).get(col)
    if s is None:
        return True
    mn, mx = s
    try:
        if isinstance(want, tuple) and len(want) == 2:
            lo, hi = want
            return not (mx < lo or mn > hi)
        if isinstance(want, (list, set)):
            return any(mn <= w <= mx for w in want)
        return mn <= want <= mx
    except TypeError:
        return True  # incomparable types: never skip on a guess


def _hive_partition_value(v) -> str:
    """Render a typed partition value the way Spark's Hive-style writer
    renders it in the partition directory name (pre-escaping), so
    collected source values compare equal to the (decoded) manifest
    strings: NULL -> __HIVE_DEFAULT_PARTITION__, booleans lowercase,
    dates ISO, timestamps 'YYYY-MM-DD HH:MM:SS[.f*]' with trailing
    fraction zeros trimmed. Plain str() diverges for all four
    (str(True)='True' vs dir 'true', str(None)='None', datetime's 'T'
    separator / trailing '.000000'), silently classifying those
    partitions as untouched in merge()/overwrite_partitions()."""
    import datetime

    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        if v.microsecond:
            s += ("." + f"{v.microsecond:06d}").rstrip("0")
        return s
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _unescape_partition(s: str) -> str:
    """Decode Hive path escaping (%XX) in a partition directory value.
    Hive escapes a fixed ASCII set (space, '%', ':', '=', ...) char-by-
    char, so plain %XX -> chr decoding is the exact inverse."""
    import re

    return re.sub(
        r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), s
    )


def _pred_column(col: str, want) -> F.Column:
    """read(where=...)'s predicate as a row-level Column — the exact
    re-application for legacy-layout files manifest pruning cannot
    classify (same forms as _part_match: value | list | (lo, hi))."""
    c = F.col(col)
    if isinstance(want, tuple) and len(want) == 2:
        return (c >= F.lit(want[0])) & (c <= F.lit(want[1]))
    if isinstance(want, (list, set)):
        vals = list(want)
        non_null = [v for v in vals if v is not None]
        p = c.isin(non_null) if non_null else F.lit(False)
        if any(v is None for v in vals):
            p = p | c.isNull()
        return p
    if want is None:
        return c.isNull()
    return c == F.lit(want)


def _part_match(raw: str | None, want) -> bool:
    if raw is None:
        return False

    def _coerce(template):
        try:
            return type(template)(raw) if not isinstance(template, str) else raw
        except (TypeError, ValueError):
            return raw

    if isinstance(want, tuple) and len(want) == 2:
        lo, hi = want
        v = _coerce(lo)
        return lo <= v <= hi
    if isinstance(want, (list, set)):
        return any(_coerce(w) == w for w in want)
    return _coerce(want) == want


def _partition_dtype(schema_json: str, col: str) -> str:
    for f in json.loads(schema_json)["fields"]:
        if f["name"] == col:
            t = f["type"]
            return t if isinstance(t, str) else "string"
    return "string"
