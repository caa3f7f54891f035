"""PageRank parity vs pure-Python oracle + recrawl ops (C21-C23)."""

from __future__ import annotations

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


def test_error_path_leaks_no_cache(spark, pages_df, monkeypatch):
    """A pagerank() whose materializing checkpoint raises unpersists the
    nodes and edges it cached: no RDD persisted during the failed call
    survives it (ids, not counts, so an unrelated RDD cleaned up meanwhile
    cannot mask a leak)."""
    def boom(*_a, **_k):
        raise RuntimeError("checkpoint failed")

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())  # noqa: SLF001

    pages_df.count()  # the fixture's own cache is not the call's
    before = persisted()
    # the session's concrete DataFrame class, which overrides the base's
    monkeypatch.setattr(type(pages_df), "localCheckpoint", boom)
    with pytest.raises(RuntimeError, match="checkpoint failed"):
        pagerank(pages_df)
    assert persisted() <= before
