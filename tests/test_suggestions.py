"""The suggestions table of a long-running server keeps a bounded history:
its compactions also expire the snapshots behind them, so distinct
queries do not pile up manifests and data directories on disk."""

from __future__ import annotations

import os

from navi_spark.catalog import SnapshotTable
from navi_spark.operators.search import record_suggestion


def test_distinct_suggestions_keep_on_disk_history_bounded(spark, tmp_path):
    tbl = SnapshotTable(spark, str(tmp_path / "suggestions"))
    queries = [f"query number {i}" for i in range(40)]
    for q in queries:
        record_suggestion(tbl, q)
    n_manifests = len(os.listdir(os.path.join(tbl.root, "manifests")))
    n_dirs = len(os.listdir(os.path.join(tbl.root, "data")))
    # on disk: the last compaction, its parent (whose dirs hold the rows
    # before it) and the appends since, never one entry per query
    assert n_manifests <= 16, n_manifests
    assert n_dirs <= 16, n_dirs
    assert sorted(r["suggestion"] for r in tbl.read().collect()) == sorted(
        queries)
