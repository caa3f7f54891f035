"""PageRank parity vs pure-Python oracle + recrawl ops (C21-C23)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from navi_spark.operators.pagerank import (
    detect_changes,
    pagerank,
    pagerank_py,
    recrawl_order,
)

PAGES = [
    {"url": "a", "children": ["b", "c"], "rank": 1.0, "phash": 1},
    {"url": "b", "children": ["c"], "rank": 2.0, "phash": 2},
    {"url": "c", "children": ["a", "a"], "rank": 3.0, "phash": 3},  # dup edge
    {"url": "d", "children": [], "rank": 0.5, "phash": 4},          # sink
    {"url": "e", "children": ["a", "x"], "rank": 1.5, "phash": 5},  # x uncrawled
]


@pytest.fixture(scope="module")
def pages_df(spark):
    return spark.createDataFrame(
        [(p["url"], p["children"], p["rank"], p["phash"]) for p in PAGES],
        "url string, children array<string>, rank double, phash long",
    ).cache()


def test_pagerank_matches_oracle(spark, pages_df):
    got = {r["url"]: r["rank"] for r in pagerank(pages_df, 10).collect()}
    expected = pagerank_py(PAGES, 10)
    assert set(got) == set(expected)
    for u in expected:
        assert got[u] == pytest.approx(expected[u], abs=1e-12), u


def test_pagerank_reference_semantics(pages_df):
    """Sink keeps the 0.15 floor; duplicate edges count twice."""
    got = {r["url"]: r["rank"] for r in pagerank(pages_df, 1).collect()}
    assert got["d"] == pytest.approx(0.15)  # nothing links to d
    # after 1 iter: a receives c's dup edge twice (2 · (1/5)/2 = 1/5)
    # plus e's single (1/5)/2 = 1/10 → 0.15 + 0.85·0.3
    assert got["a"] == pytest.approx(0.15 + 0.85 * 0.3)


def test_recrawl_order_desc(pages_df):
    urls = [r["url"] for r in recrawl_order(pages_df).collect()]
    assert urls == ["c", "b", "e", "a", "d"]  # rank DESC (C21)


def test_detect_changes(spark, pages_df):
    new = spark.createDataFrame(
        [
            ("a", 1, ["b", "c"], "same"),     # unchanged
            ("b", 99, ["c"], "new content"),  # content changed
            ("c", 3, ["a"], "same"),          # link structure changed
        ],
        "url string, phash long, children array<string>, caption string",
    )
    got = {r["url"]: r for r in detect_changes(pages_df, new).collect()}
    assert not got["a"]["content_changed"] and not got["a"]["link_structure_changed"]
    assert got["b"]["content_changed"] and not got["b"]["link_structure_changed"]
    assert not got["c"]["content_changed"] and got["c"]["link_structure_changed"]


def test_bad_env_int_names_the_variable(pages_df, monkeypatch):
    """A non-integer NAVI_PAGERANK_* value raises a ValueError naming the
    variable and its value, at pagerank() call time for the loop sizing
    and at import time for the AQE gate."""
    monkeypatch.setenv("NAVI_PAGERANK_LOOP_ROWS_PER_PART", "2k")
    with pytest.raises(ValueError,
                       match="NAVI_PAGERANK_LOOP_ROWS_PER_PART='2k'"):
        pagerank(pages_df)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", "import navi_spark.operators.pagerank"],
        cwd=root, capture_output=True, text=True, timeout=120,
        env=dict(os.environ, NAVI_PAGERANK_AQE_OFF_MAX_NODES="5e6"),
    )
    assert proc.returncode != 0
    assert "NAVI_PAGERANK_AQE_OFF_MAX_NODES='5e6'" in proc.stderr
