"""Snapshot table store — Iceberg semantics on plain parquet.

The production design is an Iceberg table per dataset (`frontier`,
`fetchlist`, `fetch_results`, `parsed`, `linkdb`, `metrics`) with atomic
snapshot commits replacing the reference's directory-rename install
(CrawlDb.java:158-176 swaps ``current/`` → ``old/`` under a lockfile).
This container has no Iceberg jars, so `SnapshotStore` reproduces the
three properties the engine relies on, on plain parquet:

  1. **Atomic commit** — a write lands in a fresh ``snapshots/<n>/`` dir;
     readers only see it after the one-line ``CURRENT`` pointer file is
     atomically replaced (os.replace). Equivalent of an Iceberg snapshot
     commit; the reference's ``.locked`` + rename dance (LockUtil.java).
  2. **Time travel / rollback** — old snapshot dirs are retained;
     `read(table, snapshot=k)` reads any retained snapshot (the
     reference keeps one generation in ``old/``).
  3. **Checkpoint manifest** — `run_stage` is the one resume step of
     every warehouse writer (north_rule resumability): it records every
     table's pointer before a stage and marks the stage done after, like
     Iceberg snapshot metadata. A stage started but never marked is
     rolled back to its recorded pointers and replayed, so a crash
     between a sink commit and the mark never applies a stage twice.
  4. **Schema in the commit** — each snapshot's ``_TBLMETA.json``
     sidecar carries the written frame's schema and is in place before
     the pointer swap, so it commits atomically with the data. `read`
     hands that schema to the reader, as Iceberg readers take theirs
     from table metadata, instead of submitting a Spark job to infer it
     from a parquet footer. Snapshots without one are inferred as before.

On a real cluster swap `write` for
``df.writeTo(table).overwritePartitions()`` — the API here is kept
narrow so that swap is mechanical.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from typing import Any, Callable

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.types import StructType

# per-snapshot sidecar: the committed schema (+ drop_on_read columns)
_META = "_TBLMETA.json"


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---- paths ----
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "CURRENT")

    def _pointer_state(self, table: str) -> tuple[int, str] | None:
        """(snapshot, mode) from CURRENT; mode ∈ {overwrite, append}.

        The mode rides in the pointer file so it commits atomically with
        the snapshot id — a table can never be observed with a new
        snapshot under the old read semantics. Legacy single-token
        pointers fall back to the APPEND flag file."""
        try:
            with open(self._pointer(table)) as f:
                toks = f.read().split()
        except FileNotFoundError:
            return None
        if len(toks) >= 2:
            return int(toks[0]), toks[1]
        legacy_append = os.path.exists(
            os.path.join(self._table_dir(table), "APPEND")
        )
        return int(toks[0]), "append" if legacy_append else "overwrite"

    def current_snapshot(self, table: str) -> int | None:
        st = self._pointer_state(table)
        return None if st is None else st[0]

    def exists(self, table: str) -> bool:
        return self.current_snapshot(table) is not None

    def snapshot_path(self, table: str, snapshot: int) -> str:
        return os.path.join(self._table_dir(table), "snapshots", str(snapshot))

    # ---- read / write ----
    def write(self, df: DataFrame, table: str, partition_by: list[str] | None = None,
              drop_on_read: list[str] | None = None) -> int:
        """Write df as the next snapshot and atomically advance CURRENT.

        Equivalent to Iceberg ``overwritePartitions`` / the reference's
        CrawlDb.install() (CrawlDb.java:158-176), minus lockfiles.

        `drop_on_read` names SYNTHETIC columns (e.g. the frontier's
        host_bucket partition key, derived at write purely for
        partition pruning) that `read` strips centrally — so EVERY
        consumer (crawl loop, server /seed, readdb, streaming) sees the
        logical schema, not just callers that know about the layout.
        The list rides in the snapshot's sidecar with its schema (see
        `_write_meta`).
        """
        cur = self.current_snapshot(table)
        nxt = 0 if cur is None else cur + 1
        path = self.snapshot_path(table, nxt)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        if partition_by and not self._has_data_files(path):
            # Spark writes NO files for an empty partitioned frame, so
            # the snapshot would fail schema inference on read; fall
            # back to the unpartitioned layout, whose empty write still
            # emits a schema-bearing footer (reachable when e.g. every
            # seed is filtered out).
            df.write.mode("overwrite").parquet(path)
            drop_on_read = [
                c for c in (drop_on_read or []) if c in df.columns
            ]
        self._write_meta(path, df, drop_on_read)
        # a full-history write flips the table back to overwrite mode in
        # the same atomic pointer swap, so a later read never unions a
        # full snapshot with earlier incremental ones (double counting)
        self._advance(table, nxt, mode="overwrite")
        return nxt

    @staticmethod
    def _has_data_files(path: str) -> bool:
        for root, _dirs, files in os.walk(path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def append(self, df: DataFrame, table: str) -> int:
        """Append-only commit: the new snapshot dir holds ONLY the new
        rows and `read` unions every committed snapshot (Iceberg
        append-snapshot semantics). Used for the metrics/lineage table
        so per-stage counter writes are O(new rows), not O(history).

        Refuses to append to a table whose existing snapshots are
        full-history `write()` commits: unioning a full snapshot with
        incremental ones would double-count every historical row."""
        st = self._pointer_state(table)
        if st is not None and st[1] != "append":
            raise ValueError(
                f"table {table} has overwrite-style snapshots; append() "
                "would double-count history — use write(), or start a "
                "fresh table for incremental commits"
            )
        nxt = 0 if st is None else st[0] + 1
        path = self.snapshot_path(table, nxt)
        df.write.mode("overwrite").parquet(path)
        self._write_meta(path, df)
        self._advance(table, nxt, mode="append")
        return nxt

    @staticmethod
    def _write_meta(path: str, df: DataFrame,
                    drop_on_read: list[str] | None = None) -> None:
        """Write the snapshot's sidecar: `df`'s schema and the columns
        `read` drops.

        Called BEFORE the pointer swap, so the sidecar commits
        atomically with the data. Its name starts with ``_``, which
        Spark's file listing skips, so it is never read as data."""
        with open(os.path.join(path, _META), "w") as f:
            json.dump({"schema": df.schema.jsonValue(),
                       "drop_on_read": drop_on_read or []}, f)

    @staticmethod
    def _read_meta(path: str) -> dict[str, Any]:
        try:
            with open(os.path.join(path, _META)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return {}

    def _is_append(self, table: str) -> bool:
        st = self._pointer_state(table)
        return st is not None and st[1] == "append"

    def _advance(self, table: str, snapshot: int, mode: str = "overwrite") -> None:
        ptr = self._pointer(table)
        os.makedirs(os.path.dirname(ptr), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(ptr))
        with os.fdopen(fd, "w") as f:
            f.write(f"{snapshot} {mode}")
        os.replace(tmp, ptr)  # atomic pointer swap = snapshot commit

    def read(self, spark: SparkSession, table: str, snapshot: int | None = None) -> DataFrame:
        """The table as of `snapshot` (default: current).

        Reads through the schema committed with the snapshot, so no
        Spark job runs to infer it. An append table uses it only when
        every unioned snapshot committed the same one; otherwise, and
        for snapshots committed without one, Spark infers it. (An
        append table of more than 32 snapshots still costs a job: Spark
        lists that many paths in parallel,
        ``spark.sql.sources.parallelPartitionDiscovery.threshold``.)"""
        snap = self.current_snapshot(table) if snapshot is None else snapshot
        if snap is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        if self._is_append(table):
            paths = [
                self.snapshot_path(table, i)
                for i in range(snap + 1)
                if os.path.isdir(self.snapshot_path(table, i))
            ]
            schemas = [self._read_meta(p).get("schema") for p in paths]
            schema = schemas[0] if all(s == schemas[0] for s in schemas) else None
            return self._reader(spark, schema).parquet(*paths)
        path = self.snapshot_path(table, snap)
        meta = self._read_meta(path)
        df = self._reader(spark, meta.get("schema")).parquet(path)
        return df.drop(*meta.get("drop_on_read", []))

    @staticmethod
    def _reader(spark: SparkSession, schema: dict[str, Any] | None) -> DataFrameReader:
        if schema is None:
            return spark.read
        return spark.read.schema(StructType.fromJson(schema))

    def rollback(self, table: str, snapshot: int) -> None:
        if not os.path.isdir(self.snapshot_path(table, snapshot)):
            raise FileNotFoundError(f"{table}@{snapshot} not retained")
        mode = "append" if self._is_append(table) else "overwrite"
        self._advance(table, snapshot, mode=mode)

    def expire_snapshots(self, table: str, keep: int = 2) -> None:
        """Drop all but the newest `keep` snapshots (Iceberg expire_snapshots).

        Refuses append tables: each of their snapshots holds only its
        increment and `read` unions them all, so dropping one would
        delete committed rows."""
        if self._is_append(table):
            raise ValueError(
                f"table {table} is append-mode; its snapshots are "
                "increments, so expiring one would delete committed rows"
            )
        cur = self.current_snapshot(table)
        if cur is None:
            return
        snaps_dir = os.path.join(self._table_dir(table), "snapshots")
        for name in os.listdir(snaps_dir):
            if name.isdigit() and int(name) <= cur - keep:
                shutil.rmtree(os.path.join(snaps_dir, name), ignore_errors=True)

    # ---- cycle manifest (checkpoint/resume) ----
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "MANIFEST.json")

    def read_manifest(self) -> dict[str, Any]:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"cycles": {}}

    def commit_manifest(self, manifest: dict[str, Any]) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root)
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path())

    def mark_stage(self, segment: str, stage: str, **extra: Any) -> None:
        m = self.read_manifest()
        cyc = m["cycles"].setdefault(segment, {})
        cyc[stage] = {"done": True, **extra}
        m.get("started", {}).pop(f"{segment}/{stage}", None)
        self.commit_manifest(m)

    def stage_done(self, segment: str, stage: str) -> bool:
        return bool(self.read_manifest()["cycles"].get(segment, {}).get(stage, {}).get("done"))

    def run_stage(self, segment: str, stage: str, body: Callable[[], Any]) -> None:
        """Run `body` as (segment, stage) of the checkpoint manifest,
        exactly once in effect.

        A stage marked done is skipped. Before a first attempt the
        manifest records every table's pointer under ``started``; a
        replay (started but never marked) first restores those pointers
        and drops tables the stage created, so it reads what the first
        attempt read and appends to `metrics` once. The record is kept
        out of ``cycles``, which holds only completed stages."""
        if self.stage_done(segment, stage):
            return
        m = self.read_manifest()
        tables = [t for t in os.listdir(self.root) if os.path.exists(self._pointer(t))]
        before = m.setdefault("started", {}).get(f"{segment}/{stage}")
        if before is None:
            m["started"][f"{segment}/{stage}"] = {t: self._pointer_state(t) for t in tables}
            self.commit_manifest(m)
        else:  # a replay: restore the pointers the first attempt read
            for t in tables:
                if t in before:
                    self._advance(t, *before[t])
                else:
                    os.remove(self._pointer(t))
        body()
        self.mark_stage(segment, stage)
