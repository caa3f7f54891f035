"""Snapshot-committed parquet tables — the engine's Iceberg seam.

The north rule requires wave-atomic commits, snapshot checkpoint/resume, and
per-partition lineage (reference: JSON state files, crawler/WebCrawler.java:
135-172, replaced per SURVEY.md §1.3 by table snapshots). This container has
no Iceberg runtime jars, so :class:`SnapshotTable` provides the same commit
semantics over plain parquet:

    root/
      data/s<k>/part-*.parquet      one immutable directory per commit
      manifests/<k>.json            {snapshot_id, parent, dirs, schema, summary}
      HEAD                          text file "k" — atomically os.replace()d

A commit = write data dir → write manifest → atomic HEAD swap. Readers
resolve HEAD → manifest → ``spark.read.schema(schema).parquet(*dirs)``.
Time travel = read any manifest; rollback = move HEAD. Crash between
data-write and HEAD swap leaves an orphan dir, never a torn table — the
same guarantee Iceberg's metadata pointer gives.

The manifest records the schema the commit wrote, as Iceberg's table
metadata does, so a read hands it to the parquet reader and never starts
the footer-reading Spark job that schema inference costs.

:func:`arrow_table` turns the small relations the driver itself produces
(seed lists, the per-wave ``state``/``lineage``/``metrics`` rows, empty
tables for ``read_or_empty``) into one Arrow table. :func:`local_df` hands
that table to the JVM as a DataFrame, so building it runs no Python worker
task; ``append``/``overwrite`` also take the Arrow table itself and write
it with ``pyarrow.parquet``, so committing it runs no Spark job at all.

On a real cluster every call site swaps one-for-one onto Iceberg:
``append``   → ``df.writeTo(tbl).append()``; an Arrow table →
PyIceberg's ``Table.append(pa.Table)``
``overwrite``→ ``df.writeTo(tbl).overwritePartitions()``; an Arrow table →
PyIceberg's ``Table.overwrite(pa.Table)``
``merge_upsert`` → ``MERGE INTO tbl USING src ON key``
``insert_absent`` → ``MERGE INTO … WHEN NOT MATCHED THEN INSERT *``
``read(snapshot_id=k)`` → ``spark.read.option("snapshot-id", k).table(tbl)``
(the schema comes from the table metadata there too)
``arrow_table``/``local_df`` → unchanged (they are the source of a
commit, not a table operation)
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import StructType


def arrow_table(rows: list, schema: str) -> pa.Table:
    """Driver-side `rows` (tuples or Rows, in `schema`'s column order) as
    one Arrow table typed by `schema`. Values are type-checked against
    `schema` (a wrong type raises); map columns take dicts."""
    arrow = to_arrow_schema(StructType.fromDDL(schema))
    width = len(arrow)
    bad = next((r for r in rows if len(r) != width), None)
    if bad is not None:
        raise ValueError(f"row {bad!r} does not have the {width} fields "
                         f"of {schema!r}")
    cols = zip(*rows) if rows else [()] * width
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )


def local_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """DataFrame of driver-side `rows` built on the JVM from
    :func:`arrow_table`.

    A Python list handed to ``spark.createDataFrame`` travels through a
    Python RDD, even when empty, so every driver-built relation ran Python
    worker tasks, each paying the worker's fixed start-up cost (~0.2
    CPU-s) for a handful of rows. An Arrow table is handed to the JVM
    as-is: no Python task runs, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says."""
    return spark.createDataFrame(arrow_table(rows, schema),
                                 StructType.fromDDL(schema))


class SnapshotTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)

    # -- metadata ----------------------------------------------------------
    @property
    def _head_path(self) -> str:
        return os.path.join(self.root, "HEAD")

    def snapshot_id(self) -> Optional[int]:
        """Current committed snapshot id, or None for an empty table."""
        try:
            with open(self._head_path) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def _manifest(self, sid: int) -> dict:
        with open(os.path.join(self.root, "manifests", f"{sid}.json")) as f:
            return json.load(f)

    def history(self) -> list[dict]:
        """All committed manifests, oldest first (Iceberg history parity).
        Ancestry older than an `expire_snapshots` cut truncates silently,
        exactly as Iceberg's history does after expiration."""
        sid = self.snapshot_id()
        out: list[dict] = []
        while sid is not None:
            try:
                m = self._manifest(sid)
            except FileNotFoundError:
                break  # expired ancestry
            out.append(m)
            sid = m["parent"]
        return list(reversed(out))

    def exists(self) -> bool:
        return self.snapshot_id() is not None

    # -- read --------------------------------------------------------------
    def read(self, snapshot_id: Optional[int] = None) -> DataFrame:
        """Read the table at HEAD or at a given snapshot (time travel)."""
        sid = self.snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise ValueError(f"table {self.root} has no committed snapshot")
        m = self._manifest(sid)
        schema = StructType.fromJson(m["schema"])
        return self.spark.read.schema(schema).parquet(*m["dirs"])

    def read_or_empty(self, schema: str) -> DataFrame:
        if self.exists():
            return self.read()
        return local_df(self.spark, [], schema)

    # -- write -------------------------------------------------------------
    def _commit(self, data: DataFrame | pa.Table,
                dirs_base: list[str], summary: dict) -> int:
        parent = self.snapshot_id()
        sid = (parent or 0) + 1
        ddir = os.path.join(self.root, "data", f"s{sid}-{uuid.uuid4().hex[:8]}")
        if isinstance(data, DataFrame):
            data.write.mode("errorifexists").parquet(ddir)
            schema = data.schema
        else:
            # driver-built rows: one file written here, no Spark job
            os.makedirs(ddir)
            pq.write_table(data, os.path.join(ddir, "part-00000.parquet"))
            schema = from_arrow_schema(data.schema)
        manifest = {
            "snapshot_id": sid,
            "parent": parent,
            "dirs": dirs_base + [ddir],
            "schema": schema.jsonValue(),
            "summary": summary,
        }
        mpath = os.path.join(self.root, "manifests", f"{sid}.json")
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        tmp = self._head_path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(str(sid))
        os.replace(tmp, self._head_path)  # the atomic commit point
        return sid

    def append(self, df: DataFrame | pa.Table,
               summary: Optional[dict] = None) -> int:
        """Append-commit: new data dir + all parent dirs (Iceberg append).
        `df` may be an Arrow table of driver-built rows, committed without
        a Spark job."""
        parent = self.snapshot_id()
        base = self._manifest(parent)["dirs"] if parent is not None else []
        return self._commit(df, base, summary or {})

    def overwrite(self, df: DataFrame | pa.Table,
                  summary: Optional[dict] = None) -> int:
        """Full-table replace commit (Iceberg overwrite). `df` may be an
        Arrow table, as for :meth:`append`."""
        return self._commit(df, [], summary or {})

    def merge_upsert(self, src: DataFrame, key: str | list[str],
                     summary: Optional[dict] = None) -> int:
        """MERGE INTO … WHEN MATCHED UPDATE ALL / NOT MATCHED INSERT ALL.

        Local stand-in: keep target rows whose key is absent from src
        (left_anti), union src. One overwrite commit. On Iceberg this is a
        single MERGE statement with the same semantics.
        """
        keys = [key] if isinstance(key, str) else list(key)
        if not self.exists():
            return self.overwrite(src, summary)
        tgt = self.read()
        merged = tgt.join(src.select(*keys).distinct(), on=keys, how="left_anti")
        merged = merged.unionByName(src.select(*tgt.columns))
        # no pre-materialization needed: _commit writes a FRESH data dir and
        # the dirs the plan reads stay on disk until expire_snapshots, so the
        # single write job both evaluates and commits the merge (a checkpoint
        # here would materialize the full table twice — block store + parquet)
        return self.overwrite(merged, summary)

    def insert_absent(self, src: DataFrame, key: str | list[str],
                      summary: Optional[dict] = None) -> int:
        """MERGE INTO … USING src ON key WHEN NOT MATCHED THEN INSERT *.

        Insert-only: the rows of `src` whose key the table lacks are
        appended; matched rows stay as they are. When every key is already
        present nothing is committed and the current snapshot id is
        returned, so re-recording a known row costs a probe, not a
        rewrite of the table (merge_upsert rewrites it on every call)."""
        keys = [key] if isinstance(key, str) else list(key)
        if not self.exists():
            return self.overwrite(src, summary)
        tgt = self.read()
        new = src.join(tgt.select(*keys), on=keys, how="left_anti")
        if new.isEmpty():
            return self.snapshot_id()
        return self.append(new.select(*tgt.columns), summary)

    # -- maintenance ---------------------------------------------------------
    def data_files(self, snapshot_id: Optional[int] = None) -> list[tuple[str, int]]:
        """(path, size_bytes) of every data file a snapshot references —
        the information an Iceberg manifest carries per file. Driver-side
        filesystem metadata, bounded by the file count, which is exactly
        the quantity compact() keeps bounded."""
        sid = self.snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            return []
        out: list[tuple[str, int]] = []
        for d in self._manifest(sid)["dirs"]:
            for name in sorted(os.listdir(d)):
                if name.endswith(".parquet"):
                    p = os.path.join(d, name)
                    out.append((p, os.path.getsize(p)))
        return out

    def compact(self, target_file_bytes: int = 128 << 20, min_files: int = 8,
                summary: Optional[dict] = None) -> Optional[int]:
        """Bin-pack small data files into ~target-size ones (Iceberg's
        ``rewrite_data_files(strategy => 'binpack')``).

        Every per-wave append adds a directory of up-to-shuffle-partitions
        part-files, so after W waves a scan schedules O(W × partitions)
        tasks and the manifest lists as many files — the small-files
        problem that dominates table maintenance at the 10^10-row design
        point. compact() reads HEAD and commits a data-identical REPLACE
        snapshot written as ceil(total_bytes / target_file_bytes) balanced
        files via ``coalesce`` — a shuffle-free rewrite where each output
        task concatenates ~files/n similar-sized inputs.

        Time travel to pre-compaction snapshots is untouched (old dirs
        stay until expire_snapshots); a crash mid-compaction leaves HEAD
        on the parent like any torn commit; the engine's resume() may roll
        a compaction back, which only re-exposes the same rows in more
        files. Returns the new snapshot id, or None when the table already
        has fewer than `min_files` files or is already at the target
        granularity (file-count probe only — no data is read)."""
        files = self.data_files()
        if len(files) < min_files:
            return None
        total = sum(sz for _, sz in files)
        nparts = max(1, -(-total // max(target_file_bytes, 1)))
        if nparts >= len(files):
            return None
        base = dict(summary or {})
        base.update({"operation": "compact", "files_before": len(files),
                     "files_target": int(nparts), "bytes": total})
        return self.overwrite(self.read().coalesce(int(nparts)), base)

    def expire_snapshots(self, retain_last: int = 1,
                         retain_ids: Optional[set[int]] = None,
                         clean_orphans: bool = False) -> dict:
        """Iceberg ``expire_snapshots`` (+ ``remove_orphan_files`` when
        `clean_orphans`). Keeps the newest `retain_last` snapshots on the
        HEAD lineage plus any in `retain_ids` (e.g. the ids recorded in
        the engine's last consistent cut, which resume() may still roll
        back to), deletes the expired manifests, then removes every data
        directory no manifest still on disk references. Manifests from
        abandoned rollback forks keep protecting their dirs unless
        `clean_orphans` scrubs directories referenced by NO manifest
        (debris of torn commits). Manifests are deleted before data dirs,
        so a partial expiration never leaves a readable snapshot whose
        data is gone."""
        if self.snapshot_id() is None:
            return {"expired": 0, "dirs_removed": 0, "bytes_reclaimed": 0}
        lineage = self.history()
        keep = {m["snapshot_id"] for m in lineage[-max(retain_last, 1):]}
        keep |= set(retain_ids or ())
        expired = [m for m in lineage if m["snapshot_id"] not in keep]
        mdir = os.path.join(self.root, "manifests")
        expired_dirs: set[str] = set()
        for m in expired:
            expired_dirs |= set(m["dirs"])
            os.remove(os.path.join(mdir, f"{m['snapshot_id']}.json"))
        still_referenced: set[str] = set()
        for name in os.listdir(mdir):
            with open(os.path.join(mdir, name)) as f:
                still_referenced |= set(json.load(f)["dirs"])
        removed, reclaimed = 0, 0
        droot = os.path.join(self.root, "data")
        for name in sorted(os.listdir(droot)):
            d = os.path.join(droot, name)
            if d in still_referenced:
                continue
            if not clean_orphans and d not in expired_dirs:
                continue
            reclaimed += sum(
                os.path.getsize(os.path.join(dp, fn))
                for dp, _, fns in os.walk(d) for fn in fns
            )
            shutil.rmtree(d, ignore_errors=True)
            removed += 1
        return {"expired": len(expired), "dirs_removed": removed,
                "bytes_reclaimed": reclaimed}

    def rollback(self, snapshot_id: int) -> None:
        """Point HEAD at an earlier snapshot (Iceberg rollback)."""
        self._manifest(snapshot_id)  # raises if unknown
        tmp = self._head_path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(str(snapshot_id))
        os.replace(tmp, self._head_path)

    def rollback_to_empty(self) -> None:
        """Roll back to the pre-first-commit state (no snapshot at all).

        Needed by crash recovery when a table's FIRST-ever commit was torn:
        there is no earlier snapshot id to point HEAD at, so HEAD is removed
        and the table reads as empty again. Orphan data dirs/manifests are
        harmless (same as any aborted commit) and get overwritten by id reuse.
        """
        try:
            os.remove(self._head_path)
        except FileNotFoundError:
            pass

    def drop(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
