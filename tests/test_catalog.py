"""SnapshotTable commit semantics: append/overwrite/merge/time-travel, and
the catalog root that publishes them."""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

import pytest

from pyspark.sql.types import StructType

from navi_spark.catalog import (
    CatalogRoot,
    SnapshotTable,
    arrow_table,
    local_df,
)
from navi_spark.operators.frontier import LINEAGE_SCHEMA


@pytest.fixture()
def table(spark):
    d = tempfile.mkdtemp(prefix="navi-cat-")
    yield SnapshotTable(spark, d)
    shutil.rmtree(d, ignore_errors=True)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _arrow(rows):
    return arrow_table(rows, "k long, v string")


def test_append_and_time_travel(spark, table):
    assert not table.exists()
    s1 = table.append(_df(spark, [(1, "a")]), {"op": "first"})
    s2 = table.append(_df(spark, [(2, "b")]))
    assert table.read().count() == 2
    assert table.read(snapshot_id=s1).count() == 1  # time travel
    hist = table.history()
    assert [m["snapshot_id"] for m in hist] == [s1, s2]
    assert hist[0]["summary"] == {"op": "first"}


def test_overwrite_and_time_travel(spark, table):
    s1 = table.append(_df(spark, [(1, "a")]))
    table.overwrite(_df(spark, [(9, "z")]))
    assert [r["k"] for r in table.read().collect()] == [9]
    assert [r["k"] for r in table.read(snapshot_id=s1).collect()] == [1]


def test_standalone_table_publishes_every_commit(spark, table):
    """A table with no shared root is a root naming only itself, in its
    own directory, published by each commit: a second handle on the
    directory reads what the first committed. No HEAD file is written."""
    table.append(_df(spark, [(1, "a")]))
    sid = table.append(_df(spark, [(2, "b")]))
    with open(os.path.join(table.root, "root.json")) as f:
        assert json.load(f) == {"snapshots": {table.name: sid}}
    again = SnapshotTable(spark, table.root)
    assert again.snapshot_id() == sid
    assert _rows(again) == [(1, "a"), (2, "b")]
    assert sorted(os.listdir(table.root)) == ["data", "manifests",
                                              "root.json"]


def test_shared_root_publishes_tables_together(spark, tmp_path):
    """Tables on one root stage their commits; nothing is visible through
    the root file until publish(), which names every staged id at once.
    load() drops what was staged since, and the next commit reuses the
    dropped id without reading the unpublished files."""
    root = CatalogRoot(str(tmp_path / "root.json"))
    a = SnapshotTable(spark, str(tmp_path / "a"), root)
    b = SnapshotTable(spark, str(tmp_path / "b"), root)
    a.append(_df(spark, [(1, "a")]))
    b.append(_df(spark, [(2, "b")]))
    assert CatalogRoot(root.path).staged == {}  # staged, not published
    root.publish(step=1)
    assert CatalogRoot(root.path).load() == {"step": 1,
                                             "snapshots": {"a": 1, "b": 1}}
    a.overwrite(_df(spark, [(9, "z")]))
    assert _rows(a) == [(9, "z")]  # a step reads what it staged
    assert root.load() == {"step": 1, "snapshots": {"a": 1, "b": 1}}
    assert a.snapshot_id() == 1 and _rows(a) == [(1, "a")]
    assert a.append(_df(spark, [(3, "c")])) == 2
    assert _rows(a) == [(1, "a"), (3, "c")]
    assert not any("HEAD" in fns for _, _, fns in os.walk(tmp_path))


def test_merge_upsert(spark, table):
    table.append(_df(spark, [(1, "a"), (2, "b")]))
    table.merge_upsert(_df(spark, [(2, "B"), (3, "c")]), key="k")
    got = {r["k"]: r["v"] for r in table.read().collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_insert_absent(spark, table):
    """Insert-only MERGE: the first call creates the table, matched keys
    keep their rows, only unmatched source rows are appended, and a source
    with no new key commits nothing."""
    s1 = table.insert_absent(_arrow([(1, "a"), (2, "b")]), key="k")
    s2 = table.insert_absent(_arrow([(2, "B"), (3, "c")]), key="k")
    got = {r["k"]: r["v"] for r in table.read().collect()}
    assert got == {1: "a", 2: "b", 3: "c"}
    assert s2 == s1 + 1 and len(table.history()) == 2
    assert table.insert_absent(_arrow([(1, "A"), (3, "C")]), "k") == s2
    assert table.snapshot_id() == s2 and len(table.history()) == 2


def test_read_starts_no_spark_job(spark, table):
    """The manifest carries the committed schema, so reading a table
    plans its scan without the footer-reading job schema inference runs."""
    table.append(_df(spark, [(1, "a")]))
    sc = spark.sparkContext
    group = f"read-jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs of one read")
    try:
        df = table.read()
    finally:
        sc.setJobGroup(None, None)
    tracker = sc._jsc.sc().statusTracker()  # noqa: SLF001
    assert len(list(tracker.getJobIdsForGroup(group))) == 0
    assert df.schema == StructType.fromDDL("k long, v string")
    assert [tuple(r) for r in df.collect()] == [(1, "a")]


def test_read_or_empty(spark, table):
    df = table.read_or_empty("k long, v string")
    assert df.schema == StructType.fromDDL("k long, v string")
    assert df.count() == 0


# a map-typed schema, whose column takes dicts (an empty one included)
MAP_SCHEMA = "k int, n long, done boolean, ids map<string,int>"

# the engine's per-partition lineage rows, and rows of a map-typed table
DRIVER_ROWS = {
    "lineage": (LINEAGE_SCHEMA, [
        (1, hp, 10 + hp, 9, 7, 2, 1, 1, 0, 1, 4, 7520) for hp in range(3)
    ]),
    "map": (MAP_SCHEMA, [
        (3, 42, False, {"frontier": 4, "pages": 2}),
        (0, 0, True, {}),
    ]),
}


@pytest.mark.parametrize("name", sorted(DRIVER_ROWS))
def test_local_df_matches_create_dataframe(spark, table, name):
    """local_df, and a commit of the Arrow table it is built from, give
    the rows and schema a Python-list createDataFrame gives, for the
    engine's lineage rows, for dicts in a map column and for no rows."""
    schema, rows = DRIVER_ROWS[name]
    want = spark.createDataFrame(rows, schema)
    table.overwrite(arrow_table(rows, schema))
    for got in (local_df(spark, rows, schema), table.read()):
        assert got.schema == want.schema
        assert got.collect() == want.collect()
    empty = local_df(spark, [], schema)
    assert empty.schema == want.schema
    assert empty.collect() == []


def test_local_df_rejects_mistyped_rows(spark):
    with pytest.raises((TypeError, ValueError)):
        local_df(spark, [("not-an-int", 0, False, {})], MAP_SCHEMA)
    with pytest.raises(ValueError, match="4 fields"):
        local_df(spark, [(1, 0, False)], MAP_SCHEMA)


def _rows(table):
    return sorted((r["k"], r["v"]) for r in table.read().collect())


def test_compact_preserves_data_and_cuts_files(spark, table):
    for i in range(8):
        table.append(_df(spark, [(2 * i, "a"), (2 * i + 1, "b")]).repartition(2))
    before = _rows(table)
    files_before = len(table.data_files())
    assert files_before >= 8
    pre_sid = table.snapshot_id()
    sid = table.compact(min_files=2)
    assert sid == pre_sid + 1
    assert _rows(table) == before  # data-identical REPLACE
    assert len(table.data_files()) < files_before
    assert table.history()[-1]["summary"]["operation"] == "compact"
    # time travel to the pre-compaction snapshot still reads the old files
    assert table.read(snapshot_id=pre_sid).count() == 16


def test_compact_noop_when_already_small(spark, table):
    table.append(_df(spark, [(1, "a")]).coalesce(1))
    sid = table.snapshot_id()
    assert table.compact(min_files=8) is None
    assert table.snapshot_id() == sid


def test_expire_keeps_append_ancestry_files(spark, table):
    """Appends share data dirs with their ancestors: expiring old append
    snapshots removes manifests but no data files (still referenced)."""
    for i in range(4):
        table.append(_df(spark, [(i, "x")]))
    before = _rows(table)
    out = table.expire_snapshots(retain_last=2)
    assert out["expired"] == 2 and out["dirs_removed"] == 0
    assert _rows(table) == before
    assert len(table.history()) == 2  # ancestry truncates, Iceberg-style


def test_expire_after_compact_reclaims_files(spark, table):
    for i in range(6):
        table.append(_df(spark, [(i, "x")]).repartition(2))
    old_sid = table.snapshot_id()
    table.compact(min_files=2)
    before = _rows(table)
    out = table.expire_snapshots(retain_last=1)
    assert out["expired"] == 6
    assert out["dirs_removed"] == 6 and out["bytes_reclaimed"] > 0
    assert _rows(table) == before
    with pytest.raises(FileNotFoundError):
        table.read(snapshot_id=old_sid)  # expired manifest is gone


def test_expire_clean_orphans(spark, table):
    table.append(_df(spark, [(1, "a")]))
    # debris of a torn commit: a data dir no manifest references
    orphan = os.path.join(table.root, "data", "s99-deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "wb") as f:
        f.write(b"torn")
    assert table.expire_snapshots(retain_last=1)["dirs_removed"] == 0
    out = table.expire_snapshots(retain_last=1, clean_orphans=True)
    assert out["dirs_removed"] == 1
    assert not os.path.exists(orphan)
    assert _rows(table) == [(1, "a")]


def test_expire_clears_torn_and_unpublished_manifests(spark, table):
    """A manifest that is not a readable <id>.json (a torn write, a temp
    file of an interrupted one) is debris: expiration clears it instead of
    failing on it. A readable manifest above the current id, a commit its
    root never published, keeps its data dir until clean_orphans removes
    both."""
    for i in range(3):
        table.append(_df(spark, [(i, "x")]))
    mdir = os.path.join(table.root, "manifests")
    with open(os.path.join(mdir, "4.json"), "w") as f:
        f.write('{"snapshot_id": 4, "par')
    with open(os.path.join(mdir, "4.json.tmp-0123abcd"), "w") as f:
        f.write("{")
    orphan = os.path.join(table.root, "data", "s5-deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(mdir, "5.json"), "w") as f:
        json.dump({"snapshot_id": 5, "parent": 4, "dirs": [orphan],
                   "schema": {}, "summary": {}}, f)
    out = table.expire_snapshots(retain_last=2)
    assert out["expired"] == 1 and out["dirs_removed"] == 0
    assert sorted(os.listdir(mdir)) == ["2.json", "3.json", "5.json"]
    assert _rows(table) == [(0, "x"), (1, "x"), (2, "x")]
    out = table.expire_snapshots(retain_last=2, clean_orphans=True)
    assert out["dirs_removed"] == 1 and not os.path.exists(orphan)
    assert sorted(os.listdir(mdir)) == ["2.json", "3.json"]
    assert _rows(table) == [(0, "x"), (1, "x"), (2, "x")]
