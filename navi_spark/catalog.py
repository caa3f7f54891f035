"""Snapshot-committed parquet tables — the engine's Iceberg seam.

The north rule requires wave-atomic commits, snapshot checkpoint/resume, and
per-partition lineage (reference: JSON state files, crawler/WebCrawler.java:
135-172, replaced per SURVEY.md §1.3 by table snapshots). This container has
no Iceberg runtime jars, so :class:`SnapshotTable` and :class:`CatalogRoot`
provide the same commit semantics over plain parquet:

    <table>/
      data/s<k>-<uuid>/part-*.parquet  one immutable directory per commit
      manifests/<k>.json            {snapshot_id, parent, dirs, schema, summary}
    <root file>                     {"snapshots": {table: k}, …owner fields}

A commit writes a data dir and a manifest and stages its snapshot id in
the table's :class:`CatalogRoot`; one atomic replace of the root file
publishes every staged id at once (Iceberg's multi-table catalog
commit). The crawl engine's root (``frontier.CUT_FILE``) publishes once
per step; a standalone table's root names only itself and publishes on
every commit. Readers resolve id → manifest →
``spark.read.schema(schema).parquet(*dirs)``; time travel = read any
manifest. A crash before the publish leaves orphan files, never a torn
table; the next commit reuses their ids, and
``expire_snapshots(clean_orphans=True)`` clears them.

The manifest records the schema the commit wrote, as Iceberg's table
metadata does, so a read hands it to the parquet reader and never starts
the footer-reading Spark job that schema inference costs.

:func:`arrow_table` turns the small relations the driver itself produces
(seed lists, the per-wave ``lineage`` rows, a query's suggestion row,
empty tables for ``read_or_empty``) into one Arrow table.
:func:`local_df` hands that table to the JVM as a DataFrame, so building
it runs no Python worker task; ``append``/``overwrite``/``insert_absent``
also take the Arrow table itself and write it with ``pyarrow.parquet``,
so committing it runs no Spark job at all.

On a real cluster every call site swaps one-for-one onto Iceberg:
``append``   → ``df.writeTo(tbl).append()``; an Arrow table →
PyIceberg's ``Table.append(pa.Table)``
``overwrite``→ ``df.writeTo(tbl).overwritePartitions()``; an Arrow table →
PyIceberg's ``Table.overwrite(pa.Table)``
``merge_upsert`` → ``MERGE INTO tbl USING src ON key``
``insert_absent`` → ``MERGE INTO … WHEN NOT MATCHED THEN INSERT *``
(its source is an Arrow table of driver-built rows)
``read(snapshot_id=k)`` → ``spark.read.option("snapshot-id", k).table(tbl)``
(the schema comes from the table metadata there too)
``arrow_table``/``local_df`` → unchanged (they are the source of a
commit, not a table operation)
``CatalogRoot.publish`` → the catalog's commit of a multi-table
transaction (one metadata-pointer swap for every table it staged)
"""

from __future__ import annotations

import functools
import json
import operator
import os
import shutil
import uuid
from typing import Optional

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
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


def atomic_write(path: str, text: str) -> None:
    """Replace the file at `path` with `text` in one step: a reader, or a
    restart after a crash, sees the old content or the new, never a mix."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


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


def child_session(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    """A new session of `spark`'s SparkContext and cache manager that
    starts from `spark`'s modifiable SQL confs, then takes `confs`.

    The only place navi_spark sets a conf: a component that plans under
    confs of its own plans in a child session made once with them, so no
    caller's session, shared with whatever else runs on it, ever changes."""
    session = spark.newSession()
    for key, value in spark.conf.getAll.items():
        if spark.conf.isModifiable(key):
            session.conf.set(key, value)
    for key, value in confs.items():
        session.conf.set(key, value)
    return session


def rebind(df: DataFrame, session: SparkSession) -> DataFrame:
    """`df`'s logical plan as a DataFrame of `session`, planned under
    `session`'s confs. The plan is the same, so the shared cache manager
    serves a cached `df` to it; nothing is registered or copied."""
    jdf = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session._jsparkSession, df._jdf.logicalPlan())
    return DataFrame(jdf, session)


class CatalogRoot:
    """The one commit point of a set of tables: the file at `path` holds
    each table's published snapshot id (``snapshots``) and its owner's
    fields. Commits stage ids in :attr:`staged` (distinct tables may
    stage from concurrent threads); :meth:`publish` makes them visible
    in one atomic replace, and :meth:`load` drops them."""

    def __init__(self, path: str):
        self.path = path
        self.load()

    def load(self) -> dict:
        """The published root ({"snapshots": {}} if none); staged := it."""
        try:
            with open(self.path) as f:
                doc = json.load(f)
        except FileNotFoundError:
            doc = {"snapshots": {}}
        self.staged = dict(doc["snapshots"])
        return doc

    def publish(self, **fields) -> None:
        atomic_write(self.path,
                     json.dumps({**fields, "snapshots": self.staged}))


class SnapshotTable:
    """Snapshot commits under the directory `root`, whose basename names
    the table in `catalog`, the root it commits through: by default its
    own ``<root>/root.json``, published on every commit."""

    def __init__(self, spark: SparkSession, root: str,
                 catalog: Optional[CatalogRoot] = None):
        self.spark = spark
        self.root = root
        self.name = os.path.basename(os.path.normpath(root))
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        self._own_root = catalog is None
        self.catalog = catalog or CatalogRoot(os.path.join(root, "root.json"))

    # -- metadata ----------------------------------------------------------
    def snapshot_id(self) -> Optional[int]:
        """The id staged in the table's root, or None for an empty table."""
        return self.catalog.staged.get(self.name)

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
        """Read the table at its snapshot id or at a given one (time
        travel)."""
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
        atomic_write(os.path.join(self.root, "manifests", f"{sid}.json"),
                     json.dumps({"snapshot_id": sid, "parent": parent,
                                 "dirs": dirs_base + [ddir],
                                 "schema": schema.jsonValue(),
                                 "summary": summary}))
        self.catalog.staged[self.name] = sid
        if self._own_root:
            self.catalog.publish()
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
        # no pre-materialization: _commit writes a FRESH data dir while the
        # plan's dirs stay until expire_snapshots, so one write job both
        # evaluates and commits the merge (a checkpoint would write it twice)
        return self.overwrite(merged, summary)

    def insert_absent(self, rows: pa.Table, key: str | list[str],
                      summary: Optional[dict] = None) -> int:
        """MERGE INTO … USING rows ON key WHEN NOT MATCHED THEN INSERT *,
        for a source of driver-built rows (an Arrow table, see
        :func:`arrow_table`).

        Insert-only: the rows whose key the table lacks are appended;
        matched rows stay as they are. One filtered read of the table
        fetches which of the source's keys it already holds, and the
        absent rows commit through the Arrow path, so no Spark write job
        runs. A null key matches nothing, as in MERGE. When every key is
        already present nothing is committed and the current snapshot id
        is returned, so re-recording a known row costs one probe, not a
        rewrite of the table (merge_upsert rewrites it on every call)."""
        keys = [key] if isinstance(key, str) else list(key)
        if not self.exists():
            return self.overwrite(rows, summary)
        src = [tuple(r[k] for k in keys) for r in rows.select(keys).to_pylist()]
        if not src:
            return self.snapshot_id()
        match = functools.reduce(operator.or_, (
            functools.reduce(operator.and_, (
                F.col(k) == F.lit(v) for k, v in zip(keys, vals)))
            for vals in src))
        tgt = self.read()
        present = {tuple(r) for r in
                   tgt.filter(match).select(*keys).collect()}
        absent = [i for i, vals in enumerate(src) if vals not in present]
        if not absent:
            return self.snapshot_id()
        return self.append(
            rows.take(absent).select(tgt.columns)
            .cast(to_arrow_schema(tgt.schema)), summary)

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
        point. compact() reads the table and commits a data-identical
        REPLACE snapshot written as ceil(total_bytes / target_file_bytes)
        balanced files via ``coalesce`` — a shuffle-free rewrite where
        each output task concatenates ~files/n similar-sized inputs.

        Time travel to pre-compaction snapshots is untouched (old dirs
        stay until expire_snapshots). A compaction is a commit like any
        other: a crash before its root publishes it leaves the parent as
        the table, the same rows in more files. Returns the new snapshot
        id, or None when the table already has fewer than `min_files`
        files or is already at the target granularity (file-count probe
        only — no data is read)."""
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
                         clean_orphans: bool = False) -> dict:
        """Iceberg ``expire_snapshots`` (+ ``remove_orphan_files`` when
        `clean_orphans`). Keeps the newest `retain_last` snapshots on the
        current snapshot's lineage, deletes the expired manifests, then
        removes every data directory no manifest still on disk
        references. A manifest of a commit its root never published (an
        id above the current one) keeps protecting its dirs unless
        `clean_orphans` removes it, along with every directory no kept
        manifest references (debris of unpublished commits). Anything
        in manifests/ that is not a readable ``<id>.json`` (the temp file
        of an interrupted write, a torn file) is debris and is removed.
        Manifests are deleted before data dirs, so a partial expiration
        never leaves a readable snapshot whose data is gone."""
        head = self.snapshot_id()
        if head is None:
            return {"expired": 0, "dirs_removed": 0, "bytes_reclaimed": 0}
        lineage = self.history()
        keep = {m["snapshot_id"] for m in lineage[-max(retain_last, 1):]}
        expired = [m for m in lineage if m["snapshot_id"] not in keep]
        mdir = os.path.join(self.root, "manifests")
        expired_dirs: set[str] = set()
        for m in expired:
            expired_dirs |= set(m["dirs"])
            os.remove(os.path.join(mdir, f"{m['snapshot_id']}.json"))
        still_referenced: set[str] = set()
        for name in os.listdir(mdir):
            path = os.path.join(mdir, name)
            try:
                if not (name.endswith(".json") and name[:-5].isdigit()):
                    raise ValueError(name)
                with open(path) as f:
                    m = json.load(f)
            except ValueError:  # a temp file or a torn write
                os.remove(path)
                continue
            if clean_orphans and m["snapshot_id"] > head:
                os.remove(path)  # a commit never published
            else:
                still_referenced |= set(m["dirs"])
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
