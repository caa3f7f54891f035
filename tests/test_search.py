"""End-to-end search() over the golden query shapes — the reference's
commented suite at queryengine/QueryEngine.java:360-375: bare terms, a
quoted phrase, `X OR Y`, `X AND Y NOT Z`."""

from __future__ import annotations

import pytest

from navi_spark.operators import indexer
from navi_spark.operators.search import search

DOCS = [
    ("u0", "spark engines", "spark shuffles move the big tables quickly"),
    ("u1", "slow rivers", "rivers flow and flow slowly along the banks"),
    ("u2", "tables everywhere", "the big tables hold rows and spark joy"),
    ("u3", "quiet corner", "nothing interesting lives here at all"),
    ("u4", "filler page", "completely unrelated filler words only"),
]
FIELDS = {"h1": "h1", "other": "other"}


@pytest.fixture(scope="module")
def corpus(spark):
    pages = spark.createDataFrame(
        [(u, h1, other, 1.0 if u != "u2" else 5.0) for u, h1, other in DOCS],
        "url string, h1 string, other string, rank double",
    ).cache()
    # reference stems BOTH index (I4) and query terms (Q2)
    postings = indexer.build_postings(pages, "url", FIELDS, stem=True).cache()
    lengths = indexer.field_lengths(pages, "url", FIELDS, stem=True).cache()
    return pages, postings, lengths


def _run(corpus, q, **kw):
    pages, postings, lengths = corpus
    return search(q, pages, postings, lengths, FIELDS, n_docs=len(DOCS),
                  snippet_field="other", **kw)


def test_bare_terms(corpus):
    res = _run(corpus, "rivers banks")
    assert res and res[0].doc_id == "u1"
    assert "<b>rivers</b>" in res[0].snippet


def test_quoted_phrase(corpus):
    res = _run(corpus, '"big tables"')
    ids = [r.doc_id for r in res]
    assert set(ids) == {"u0", "u2"}
    # u2 carries the 5.0 PageRank boost → first
    assert ids[0] == "u2"


def test_boolean_or(corpus):
    res = _run(corpus, '"rivers" OR "tables"')
    assert {r.doc_id for r in res} == {"u0", "u1", "u2"}


def test_boolean_and_not(corpus):
    res = _run(corpus, '"spark" AND "tables" NOT "joy"')
    # u0 and u2 contain both; u2 also contains 'joy' → excluded
    assert {r.doc_id for r in res} == {"u0"}


def test_invalid_query(corpus):
    assert _run(corpus, '"unclosed') == []
    assert _run(corpus, '"a" OR "b" AND "c" NOT "d"') == []  # >2 operators


def test_phrase_index_same_results(corpus, spark):
    """Pruned phrase path ≡ full-scan path on every golden query shape,
    and on the shapes where composing the phrases' candidate sets goes
    wrong. On 5 docs a word in one doc is selective and a word in two is
    dense (all docs): an OR must unite a selective phrase's candidates
    with a dense one's, an AND of disjoint candidates keeps none, and the
    right side of a NOT must not narrow the scan — neither by its
    candidates ("joy") nor by subtracting them, which can hold docs
    where the phrase does not occur ("joy spark": u2 has "spark joy")."""
    from navi_spark.operators.ranker import build_phrase_index

    pages, _postings, _lengths = corpus
    idx = build_phrase_index(pages, "url", list(FIELDS.values()))
    want = {
        '"big tables"': {"u0", "u2"},
        '"rivers" OR "tables"': {"u0", "u1", "u2"},
        '"spark" AND "tables" NOT "joy"': {"u0"},
        '"joy" OR "big tables"': {"u0", "u2"},
        '"banks" OR "joy"': {"u1", "u2"},
        '"joy" AND "banks"': set(),
        '"joy" AND "hold rows"': {"u2"},
        '"big tables" NOT "joy"': {"u0"},
        '"hold rows" NOT "joy spark"': {"u2"},
        '"joy" OR "banks" NOT "rivers"': {"u2"},
    }
    for q, docs in want.items():
        full = [(r.doc_id, round(r.score, 9)) for r in _run(corpus, q)]
        pruned = [(r.doc_id, round(r.score, 9))
                  for r in _run(corpus, q, phrase_index=idx)]
        assert {d for d, _ in full} == docs, q
        assert pruned == full, q
    idx.pairs.unpersist(), idx.word_df.unpersist()


def test_phrase_prune_is_boundary_sound(spark):
    """The prune index must keep a doc where the phrase word is flanked by
    punctuation the regex treats as \\b but a strip-tokenizer would glue:
    'x-hash join' matches \\bhash\\s+join\\b, yet the indexer tokenizer
    yields 'xhash' — the prune must use split-on-non-letter instead."""
    from navi_spark.operators.ranker import (
        build_phrase_index,
        phrase_prune,
        phrase_scores,
    )

    pages = spark.createDataFrame(
        [("d1", "prefix x-hash join suffix"),   # glue trap: must be kept
         ("d2", "hash join plainly here"),
         ("d3", "hash but no second word"),
         ("d4", "nothing relevant")],
        "url string, body string",
    )
    idx = build_phrase_index(pages, "url", ["body"])
    phrase = [["hash", "join"]]
    cand = phrase_prune(pages, idx, phrase, id_col="url")
    kept = {r["url"] for r in cand.collect()}
    assert {"d1", "d2"} <= kept and "d4" not in kept
    hits = {r["doc_id"]: r["phrase_score"]
            for r in phrase_scores(cand, phrase, {"body": "body"}).collect()}
    full = {r["doc_id"]: r["phrase_score"]
            for r in phrase_scores(pages, phrase, {"body": "body"}).collect()}
    assert hits == full and set(full) == {"d1", "d2"}


def test_phrase_prune_pushes_in_filter_to_scan(spark, tmp_path):
    """Small candidate sets become a literal IN filter on the pages scan —
    visible as PushedFilters on a parquet source (row-group skipping at
    scale); the regex then runs only on rows passing the set probe."""
    from navi_spark.operators.ranker import build_phrase_index, phrase_prune
    from navi_spark.plans import explain_str

    p = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        [(f"u{i}", f"words hash join body {i}" if i % 7 == 0
          else f"plain body {i}") for i in range(200)],
        "url string, body string",
    ).write.parquet(p)
    pages = spark.read.parquet(p)
    idx = build_phrase_index(pages, "url", ["body"])
    cand = phrase_prune(pages, idx, [["hash", "join"]], id_col="url")
    plan = explain_str(cand)
    assert "PushedFilters" in plan and "In(url" in plan, plan[:2000]
    assert cand.count() == len([i for i in range(200) if i % 7 == 0])


def test_search_records_suggestion(corpus, spark, tmp_path):
    """A search populates the suggestions table (QueryEngine.java:81) and
    the exact-dup check holds: re-issuing the same query adds nothing;
    an invalid query records nothing."""
    from navi_spark.catalog import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "sugg"))
    _run(corpus, "rivers banks", suggestions=tbl)
    assert [r["suggestion"] for r in tbl.read().collect()] == ["rivers banks"]
    _run(corpus, "rivers banks", suggestions=tbl)   # exact dup → no growth
    assert tbl.read().count() == 1
    _run(corpus, '"unclosed', suggestions=tbl)      # invalid → not recorded
    assert tbl.read().count() == 1
    _run(corpus, '"big tables"', suggestions=tbl)
    assert tbl.read().count() == 2
