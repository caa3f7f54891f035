"""Indexer (I2-I8), ranker (R1-R12), query engine (Q1-Q3), stemmer (I4)."""

from __future__ import annotations

import itertools
import math
import random

import pyspark.sql.functions as F
import pytest

from navi_spark.functions.stemmer import porter_stem
from navi_spark.operators import indexer, ranker
from navi_spark.operators.queryengine import parse_query, snippet, tokenize_query

DOCS = [
    # (url, h1, h2, a, other)
    ("u0", "spark engines", "fast tables", "link words",
     "spark spark shuffles the big tables quickly"),
    ("u1", "slow rivers", "", "spark link", "rivers flow and flow slowly"),
    ("u2", "tables everywhere", "big tables", "", "the tables hold rows"),
    ("u3", "unrelated title", "", "", "completely different content here"),
    # filler doc keeps df('spark')=2 < N/2 so IDF stays positive (R2 skips
    # idf<=0 terms — Ranker.java:230-232)
    ("u4", "filler heading", "", "", "nothing relevant in this document"),
]
FIELDS = {"h1": "h1", "h2": "h2", "a": "a", "other": "other"}
N_DOCS = len(DOCS)


@pytest.fixture(scope="module")
def pages_df(spark):
    return spark.createDataFrame(
        DOCS, "doc_id string, h1 string, h2 string, a string, other string"
    ).withColumnRenamed("doc_id", "url").cache()


@pytest.fixture(scope="module")
def index(pages_df):
    postings = indexer.build_postings(pages_df, "url", FIELDS, stem=False).cache()
    lengths = indexer.field_lengths(pages_df, "url", FIELDS, stem=False).cache()
    return postings, lengths


def test_porter_stem_known_cases():
    # classic cases from the published algorithm description
    cases = {
        "caresses": "caress", "ponies": "poni", "caress": "caress",
        "cats": "cat", "feed": "feed", "agreed": "agre",
        "plastered": "plaster", "motoring": "motor", "sing": "sing",
        "conflated": "conflat", "troubled": "troubl", "sized": "size",
        "hopping": "hop", "tanned": "tan", "happy": "happi",
        "relational": "relat", "conditional": "condit",
        "rational": "ration", "digitizer": "digit",
        "formaliti": "formal", "electrical": "electr",  # step3 ical→ic, step4 -ic
        "hopefulness": "hope", "goodness": "good",
        "revival": "reviv", "adjustable": "adjust", "effective": "effect",
        "probate": "probat", "cease": "ceas", "controll": "control",
    }
    for w, expected in cases.items():
        assert porter_stem(w) == expected, (w, porter_stem(w), expected)


def test_postings_tf_per_field(index):
    postings, _ = index
    rows = {(r["word"], r["doc_id"]): r for r in postings.collect()}
    r = rows[("spark", "u0")]
    assert (r["tf_h1"], r["tf_other"], r["tf"]) == (1, 2, 3)
    r = rows[("tables", "u2")]
    assert (r["tf_h1"], r["tf_h2"], r["tf_other"], r["tf"]) == (1, 1, 1, 3)


def test_field_lengths_and_totals(index, pages_df):
    _, lengths = index
    lr = {r["doc_id"]: r for r in lengths.collect()}
    assert lr["u0"]["len_h1"] == 2 and lr["u0"]["len_other"] == 7
    assert lr["u3"]["len_a"] == 0
    # R4 averages are the global token mass (I8) over N
    assert lengths.count() == N_DOCS
    avgs = ranker.avg_field_lengths(lengths, list(FIELDS))
    assert avgs["h1"] * N_DOCS == pytest.approx(
        sum(len(d[1].split()) for d in DOCS))


def test_stopword_filter(pages_df):
    p = indexer.build_postings(
        pages_df, "url", {"other": "other"}, stopwords=("the", "and"),
        stem=False,
    )
    words = {r["word"] for r in p.select("word").distinct().collect()}
    assert "the" not in words and "and" not in words and "tables" in words


def test_idf_and_df(index):
    postings, _ = index
    df = {r["word"]: r["df"] for r in
          ranker.document_frequency(postings).collect()}
    assert df["spark"] == 2 and df["tables"] == 2
    idf = {r["word"]: r["idf"] for r in ranker.idf(postings, N_DOCS).collect()}
    assert idf["rivers"] == pytest.approx(math.log10((N_DOCS - 1 + 0.5) / 1.5))
    assert idf["spark"] == pytest.approx(math.log10((N_DOCS - 2 + 0.5) / 2.5))


def test_candidate_union_semantics(index):
    postings, lengths = index
    cand = {r["doc_id"] for r in
            ranker.bm25f(postings, lengths, ["spark", "rivers"],
                         N_DOCS).collect()}
    assert cand == {"u0", "u1"}  # UNION, not intersection (R5)


def test_bm25f_orders_field_weights(index):
    postings, lengths = index
    scored = {r["doc_id"]: r["relevance"] for r in
              ranker.bm25f(postings, lengths, ["spark"], N_DOCS).collect()}
    # u0 has spark in h1 (w=2.5) + other×2; u1 only in a (w=1.5)
    assert scored["u0"] > scored["u1"] > 0


def test_bm25f_last_term_overwrite_bug_parity(index):
    postings, lengths = index
    fixed = {r["doc_id"]: r["relevance"] for r in
             ranker.bm25f(postings, lengths, ["spark", "tables"], N_DOCS).collect()}
    buggy = {r["doc_id"]: r["relevance"] for r in
             ranker.bm25f(postings, lengths, ["spark", "tables"], N_DOCS,
                          last_term_overwrite=True).collect()}
    # u0 contains both terms: fixed sums, buggy keeps only 'tables' score
    assert fixed["u0"] > buggy["u0"]


def test_bm25f_prebuilt_avg_lengths_parity(index):
    # R4 stats passed as prebuilt index metadata (served-index path) must
    # produce bit-identical scores to the per-call aggregation default
    postings, lengths = index
    fields = ("h1", "h2", "a", "other")
    avgs = ranker.avg_field_lengths(lengths, fields)
    live = {r["doc_id"]: r["relevance"] for r in
            ranker.bm25f(postings, lengths, ["spark", "tables"],
                         N_DOCS).collect()}
    pre = {r["doc_id"]: r["relevance"] for r in
           ranker.bm25f(postings, lengths, ["spark", "tables"], N_DOCS,
                        avg_lengths=avgs).collect()}
    assert live == pre


def test_bm25f_served_index_layout_parity(index):
    # full served-index path: field lengths denormalized onto the posting
    # rows (embed_field_lengths) + prebuilt DF/IDF table + prebuilt R4
    # stats — a terms query then joins no corpus-sized side table and
    # re-aggregates nothing, and the scores must be bit-identical to the
    # default per-query-aggregation path
    postings, lengths = index
    fields = ("h1", "h2", "a", "other")
    avgs = ranker.avg_field_lengths(lengths, fields)
    idf_tab = ranker.idf(postings, N_DOCS)
    served = indexer.embed_field_lengths(postings, lengths)
    live = {r["doc_id"]: r["relevance"] for r in
            ranker.bm25f(postings, lengths, ["spark", "tables"],
                         N_DOCS).collect()}
    pre = {r["doc_id"]: r["relevance"] for r in
           ranker.bm25f(served, None, ["spark", "tables"], N_DOCS,
                        avg_lengths=avgs, idf_table=idf_tab).collect()}
    assert live == pre
    # embedded layout without prebuilt stats still needs one of the two
    with pytest.raises(ValueError):
        ranker.bm25f(served, None, ["spark"], N_DOCS)


def test_hybrid_rank(index, pages_df):
    postings, lengths = index
    rel = ranker.bm25f(postings, lengths, ["tables"], N_DOCS)
    pages = pages_df.select("url").withColumn(
        "rank", F.when(F.col("url") == "u2", 10.0).otherwise(0.0)
    )
    out = ranker.hybrid_rank(rel, pages, limit=3).collect()
    assert out[0]["doc_id"] == "u2"  # popularity boost wins


def test_phrase_pipeline(pages_df):
    phrase = [["big", "tables"]]
    idx = ranker.build_phrase_index(pages_df, "url", list(FIELDS.values()))
    pruned = ranker.phrase_prune(pages_df, idx, phrase)
    assert {r["url"] for r in pruned.collect()} == {"u0", "u2"}
    scores = {r["doc_id"]: r["phrase_score"] for r in
              ranker.phrase_scores(pages_df, phrase, FIELDS).collect()}
    # the prune keeps every match: same scores as the unpruned scan
    assert {r["doc_id"]: r["phrase_score"] for r in
            ranker.phrase_scores(pruned, phrase, FIELDS).collect()} == scores
    # u2's hit is in h2 (w=2.0, len=2 → 1.0); u0's is in other (w=1.0, len=7)
    assert scores["u2"] > scores["u0"]
    assert set(scores) == {"u0", "u2"}
    idx.pairs.unpersist(), idx.word_df.unpersist()


def test_boolean_score_table(spark):
    """R12's fold over per-page phrase scores, where 0 is absent: OR is
    the max, AND the mean of two present scores, NOT the left score
    where the right is absent."""
    table = [  # a, b → a OR b, a AND b, a NOT b
        (0.5, 0.8, 0.8, 0.65, 0.0),
        (1.0, 0.0, 1.0, 0.0, 1.0),
        (0.0, 0.6, 0.6, 0.0, 0.0),
        (0.0, 0.0, 0.0, 0.0, 0.0),
    ]
    df = spark.createDataFrame([r[:2] for r in table], "a double, b double")
    a, b = F.col("a"), F.col("b")
    got = df.select(*[ranker.boolean_score([a, b], [op]).alias(op)
                      for op in ("OR", "AND", "NOT")]).collect()
    assert [tuple(r) for r in got] == [pytest.approx(r[2:]) for r in table]
    with pytest.raises(ValueError):
        ranker.boolean_score([a, b], ["XOR"])


def test_boolean_score_matches_set_algebra(spark):
    """Every 1- and 2-operator chain of the fold equals the reference's
    left-to-right set algebra over (doc → score) maps (Ranker.java:
    543-587): union keeping the max, intersection averaging, set-minus."""
    rng = random.Random(17)
    docs = [f"d{i:02d}" for i in range(60)]
    maps = [{d: rng.randint(1, 300) / 100 for d in docs if rng.random() < 0.5}
            for _ in range(3)]

    def algebra(ops):
        acc = maps[0]
        for op, m in zip(ops, maps[1:]):
            if op == "OR":
                acc = {d: max(s for s in (acc.get(d), m.get(d)) if s)
                       for d in acc.keys() | m.keys()}
            elif op == "AND":
                acc = {d: (acc[d] + m[d]) / 2 for d in acc.keys() & m.keys()}
            else:
                acc = {d: s for d, s in acc.items() if d not in m}
        return acc

    chains = [ops for n in (1, 2)
              for ops in itertools.product(("OR", "AND", "NOT"), repeat=n)]
    df = spark.createDataFrame(
        [(d, *(m.get(d, 0.0) for m in maps)) for d in docs],
        "doc string, s0 double, s1 double, s2 double")
    cols = [F.col(f"s{i}") for i in range(3)]
    rows = df.select("doc", *[
        ranker.boolean_score(cols[:len(ops) + 1], ops).alias(f"c{i}")
        for i, ops in enumerate(chains)]).collect()
    for i, ops in enumerate(chains):
        got = {r["doc"]: r[f"c{i}"] for r in rows if r[f"c{i}"] > 0}
        want = algebra(ops)
        assert want, ops  # the chain keeps some doc
        assert got == pytest.approx(want), ops


def test_query_tokenizer_and_parser():
    assert tokenize_query('a "b c" d') == ["a", '"b c"', "d"]
    assert tokenize_query('bad "unclosed') is None
    p = parse_query("running quickly", stopwords=set())
    assert p.kind == "terms" and p.terms == ["run", "quickli"]
    p = parse_query('"big tables"')
    assert p.kind == "phrase" and p.phrases == [["big", "tables"]]
    p = parse_query('"a b" AND "c" NOT "d"')
    assert p.kind == "boolean" and p.operators == ["AND", "NOT"]
    assert parse_query('"a" AND no-quote').kind == "invalid"
    assert parse_query('"a" AND').kind == "invalid"
    assert parse_query('"a" OR "b" AND "c" NOT "d"').kind == "invalid"


def test_snippet():
    content = "x " * 300 + "the spark engine shines" + " y" * 300
    s = snippet(content, ["spark"], window=60, stride=10)
    assert "<b>spark</b>" in s and len(s) <= 60 + len("<b></b>") * 4


def test_field_lengths_fast_path_matches_token_stream(spark):
    """r06: the no-stopword regexp_count fast path of field_lengths must
    equal the token-stream pivot form row-for-row (legacy path forced via
    a stopword that occurs nowhere)."""
    import pyspark.sql.functions as F

    from navi_spark.operators import indexer

    d = spark.createDataFrame(
        [(1, "Spark joins! 42", "hash agg"), (2, "", "x"), (3, "  ", ""),
         (4, "a-b c_d", "1 2 3")],
        "doc_id long, h1 string, other string",
    ).select(F.col("doc_id").cast("string").alias("url"), "h1", "other")
    fields = {"h1": "h1", "other": "other"}
    fast = {r["doc_id"]: (r["len_h1"], r["len_other"])
            for r in indexer.field_lengths(d, "url", fields,
                                           stem=False).collect()}
    legacy = {r["doc_id"]: (r["len_h1"], r["len_other"])
              for r in indexer.field_lengths(
                  d, "url", fields, stopwords=("zzz_never",),
                  stem=False).collect()}
    assert fast == legacy
