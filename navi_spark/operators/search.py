"""End-to-end search over an indexed corpus — the reference's query
lifecycle (SURVEY.md §3.3) as one composition:

    parse (Q1/Q2) → dispatch:
        bare terms   → BM25F (R3) over postings
        phrases      → phrase scoring (R9-R11) over page text, a boolean
                       query's phrases folded left to right (R12) in the
                       same scan
    → hybrid 0.7·relevance + 0.3·PageRank (R7/R8)
    → top-k + ordered multi-get (R14) → snippets (Q3)

The reference's only "golden queries" are the commented suite at
queryengine/QueryEngine.java:360-375 (quoted phrase, bare terms, `X OR Y`,
`X AND Y NOT Z`) — the test suite runs exactly those shapes.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass
from functools import cached_property

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from navi_spark.catalog import arrow_table
from navi_spark.operators import indexer, ranker
from navi_spark.operators.queryengine import parse_query, snippet


def record_suggestion(suggestions, query: str) -> None:
    """Record `query` in the `suggestions` SnapshotTable with the
    reference's exact-duplicate check (DBManager.java:680-703
    insertSuggestion): an insert-only MERGE keyed on the raw query text,
    so a known query commits nothing and costs one filtered read. Each
    new query appends one data directory (an Arrow write, no Spark job),
    which every later probe and GET /suggestions reads; the
    compaction after an append keeps that fan-out below compact()'s
    `min_files` (8) however many distinct queries arrive. A compaction
    that commits also expires the history behind it, so the table's
    manifests and data directories stay bounded too. It keeps the
    compaction's parent, whose files a GET that resolved the table's
    snapshot id just before may still be reading.

    Invariant: no suggestion row is ever deleted. insert_absent only
    inserts, and compact() and expire_snapshots() keep every row of the
    current snapshot, so a query once recorded stays present.
    api.QueryEngineServer relies on it: its cache of recorded queries
    skips this call for a known query, which is exact only while nothing
    deletes suggestion rows."""
    before = suggestions.snapshot_id()
    sid = suggestions.insert_absent(
        arrow_table([(query,)], "suggestion string"),
        "suggestion",
        {"op": "search-side-effect"},
    )
    if sid != before and suggestions.compact(
            summary={"op": "search-side-effect"}) is not None:
        suggestions.expire_snapshots(retain_last=2)


@dataclass
class SearchResult:
    doc_id: str
    score: float
    snippet: str


@dataclass
class ServingLayout:
    """What a ranking plan reads, laid out so that a terms query needs no
    exchange: `postings` and `docs` are both hash-partitioned by doc_id on
    the served postings' partition count, so BM25F's per-doc sum and the
    join that brings in popularity and snippet text run inside the
    partitions they read. Every column is index metadata, never query
    state, so a server builds the layout once (:meth:`persist`);
    :func:`search` without one builds the same plans over its inputs."""

    postings: DataFrame    # (doc_id, word, tf_<f>…, len_<f>…, idf)
    docs: DataFrame        # (doc_id, pop, _text)
    pages: DataFrame       # (url, <field columns>, pop, _text)
    fields: list[str]
    avg_lengths: dict[str, float] | None
    lengths: DataFrame | None

    @cached_property
    def term_score(self) -> Column:
        """The query-independent BM25F row score (R3/R4)."""
        if self.avg_lengths is None and self.lengths is None:
            raise ValueError("avg_lengths or lengths required")
        avgs = (self.avg_lengths if self.avg_lengths is not None
                else ranker.avg_field_lengths(self.lengths, self.fields))
        return ranker.bm25f_term_score(avgs, self.fields)

    def persist(self) -> "ServingLayout":
        """Cache and materialize both tables and build the score Column.

        Spark's cache manager keeps one entry per plan, so two servers
        over one index would share their layout's entries, and the first
        stop() would uncache the other server's layout. A filter on a
        literal unique to this layout, which the optimizer folds away,
        gives its tables plans of their own."""
        own = F.lit(uuid.uuid4().hex)
        self.postings, self.docs = (
            df.filter(own == own).cache() for df in (self.postings, self.docs))
        for df in (self.postings, self.docs):
            df.count()
        self.term_score
        return self

    def unpersist(self) -> None:
        for df in (self.postings, self.docs):
            df.unpersist()


def serving_layout(
    pages: DataFrame,
    postings: DataFrame,
    lengths: DataFrame | None,
    field_cols: dict[str, str],
    n_docs: int,
    snippet_field: str | None = None,
    avg_lengths: dict[str, float] | None = None,
    idf_table: DataFrame | None = None,
) -> ServingLayout:
    """The serving layout of an index: `postings` with the field lengths
    (joined from `lengths` unless embedded, indexer.embed_field_lengths)
    and `idf` on every row — the idf join is inner, so terms with idf ≤ 0
    drop out as in R2 — and a `docs` table of each page's popularity
    (rank, 0 when null) and snippet text (`snippet_field`, default the
    first field column). Both are lazy; :meth:`ServingLayout.persist`
    materializes them.

    `avg_lengths`: optional prebuilt ranker.avg_field_lengths(lengths, ...)
    — index metadata, computed once at build time; without it the layout's
    first terms query pays an aggregation job over the lengths table (R4
    depends only on the index, never on the query).

    `idf_table`: optional prebuilt ranker.idf(postings, n_docs) — the term
    dictionary's DF/IDF column, also index metadata (R1/R2); without it
    the layout re-aggregates document frequency from the postings."""
    fields = list(field_cols)
    parts = max(postings.rdd.getNumPartitions(), 1)
    if not all(f"len_{f_}" in postings.columns for f_ in fields):
        if lengths is None:
            raise ValueError("postings lack len_<field> columns and no "
                             "lengths table was given")
        postings = indexer.embed_field_lengths(postings, lengths)
    if "idf" not in postings.columns:
        postings = postings.join(
            idf_table if idf_table is not None
            else ranker.idf(postings, n_docs), "word")
    text_col = snippet_field or next(iter(field_cols.values()))
    pop = F.coalesce(F.col("rank"), F.lit(0.0)).alias("pop")
    text = F.col(text_col).alias("_text")
    return ServingLayout(
        postings=postings.select(
            "doc_id", "word", *[f"tf_{f_}" for f_ in fields],
            *[f"len_{f_}" for f_ in fields], "idf",
        ).repartition(parts, "doc_id"),
        docs=pages.select(F.col("url").alias("doc_id"), pop, text)
        .repartition(parts, "doc_id"),
        pages=pages.select("url", *dict.fromkeys(field_cols.values()),
                           pop, text),
        fields=fields,
        avg_lengths=avg_lengths,
        lengths=lengths,
    )


def search(
    query: str,
    pages: DataFrame,          # (url, rank, <field columns>)
    postings: DataFrame,       # flat posting table from indexer
    lengths: DataFrame,        # per-doc field lengths
    field_cols: dict[str, str],
    n_docs: int,
    k: int = 10,
    stopwords: frozenset[str] = frozenset(),
    snippet_field: str | None = None,
    phrase_index: "ranker.PhraseIndex | None" = None,
    suggestions=None,
    layout: ServingLayout | None = None,
) -> list[SearchResult]:
    """`phrase_index`: optional prebuilt ranker.build_phrase_index over the
    same pages/fields — phrase and boolean queries then regex-scan only a
    candidate set instead of the whole corpus (the reference always pays
    the full Mongo collection scan). ranker.phrase_prune composes it for
    the whole query: each selective phrase's candidates are the docs
    holding its rarest word, and OR unions them, AND intersects them and
    NOT keeps the left side's; one probe of the word frequencies, at most
    one fetch of ids, and one literal IN on the scan.

    `postings` may be the embed_field_lengths layout (len_ columns on the
    posting rows), in which case `lengths` is not joined.

    `layout`: a persisted serving_layout over these inputs, with its
    prebuilt index statistics and snippet field (what
    api.QueryEngineServer holds). Without it, the same layout is built
    here, uncached, so both paths run the same ranking plans: the cached
    one is a terms query in one Spark job with no exchange; a phrase or
    boolean query is its prune probe (plus the id fetch when a selective
    phrase can narrow the composed set) and one scan of `pages` that
    scores every phrase as a column and folds them (ranker.boolean_score)."""
    parsed = parse_query(query, stopwords=set(stopwords))
    if parsed.kind == "invalid":
        return []
    if suggestions is not None:
        # the reference records every successfully-parsed query as a
        # suggestion (QueryEngine.java:81)
        record_suggestion(suggestions, query)
    if layout is None:
        layout = serving_layout(
            pages, postings, lengths, field_cols, n_docs, snippet_field)

    if parsed.kind == "terms":
        # co-partitioned with docs: the join plans no exchange; the hint
        # keeps the planner from broadcasting the small docs table instead
        relevance = ranker.bm25f(
            layout.postings, None, parsed.terms, n_docs, fields=layout.fields,
            term_score=layout.term_score,
        ).join(layout.docs.hint("shuffle_hash"), "doc_id")
    else:
        # a phrase, or phrases under AND/OR/NOT: every phrase is a score
        # column of one scan that keeps the page's popularity and text,
        # so no join at all
        scanned = layout.pages
        if phrase_index is not None:
            scanned = ranker.phrase_prune(
                scanned, phrase_index, parsed.phrases, parsed.operators,
                n_docs=n_docs)
        relevance = ranker.phrase_scores(
            scanned, parsed.phrases, field_cols, parsed.operators,
            carry=("pop", "_text"),
        ).withColumnRenamed("phrase_score", "relevance")

    # top-k with its text (ordered multi-get R14) in the ranking job itself.
    # The terms join is inner: postings are built from these pages, so
    # every ranked doc_id has a pages row (the reference's index rows
    # likewise always reference stored pages).
    top = ranker.hybrid_rank(relevance, limit=k).collect()
    toks = (
        parsed.terms
        if parsed.kind == "terms"
        else [w for p in parsed.phrases for w in p]
    )
    return [
        SearchResult(
            doc_id=r["doc_id"],
            score=r["score"],
            snippet=snippet(r["_text"] or "", toks),
        )
        for r in top
    ]
