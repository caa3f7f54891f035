"""End-to-end search over an indexed corpus — the reference's query
lifecycle (SURVEY.md §3.3) as one composition:

    parse (Q1/Q2) → dispatch:
        bare terms   → BM25F (R3) over postings
        single phrase→ phrase scoring (R9-R11) over page text
        boolean      → left-to-right set algebra (R12)
    → hybrid 0.7·relevance + 0.3·PageRank (R7/R8)
    → top-k + ordered multi-get (R14) → snippets (Q3)

The reference's only "golden queries" are the commented suite at
queryengine/QueryEngine.java:360-375 (quoted phrase, bare terms, `X OR Y`,
`X AND Y NOT Z`) — the test suite runs exactly those shapes.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass
from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from navi_spark.catalog import local_df
from navi_spark.operators import ranker
from navi_spark.operators.queryengine import parse_query, snippet

# held by search() for a whole query: it sets session-wide confs
_CONF_LOCK = threading.Lock()


def record_suggestion(suggestions, query: str) -> None:
    """Record `query` in the `suggestions` SnapshotTable with the
    reference's exact-duplicate check (DBManager.java:680-703
    insertSuggestion): an insert-only MERGE keyed on the raw query text,
    so a known query commits nothing. Each new query appends one data
    directory, which every later probe and GET /suggestions reads; the
    compaction after an append keeps that fan-out below compact()'s
    `min_files` (8) however many distinct queries arrive."""
    before = suggestions.snapshot_id()
    sid = suggestions.insert_absent(
        local_df(suggestions.spark, [(query,)], "suggestion string"),
        "suggestion",
        {"op": "search-side-effect"},
    )
    if sid != before:
        suggestions.compact(summary={"op": "search-side-effect"})


@dataclass
class SearchResult:
    doc_id: str
    score: float
    snippet: str


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
    avg_lengths: dict[str, float] | None = None,
    idf_table: DataFrame | None = None,
) -> list[SearchResult]:
    """`phrase_index`: optional prebuilt ranker.build_phrase_index over the
    same pages/fields — phrase and boolean queries then regex-scan only the
    docs containing the rarest phrase word instead of the whole corpus (the
    reference always pays the full Mongo collection scan).

    `avg_lengths`: optional prebuilt ranker.avg_field_lengths(lengths, ...)
    — index metadata, computed once at build time; without it every terms
    query pays an extra aggregation job over the lengths table (R4 depends
    only on the index, never on the query).

    `idf_table`: optional prebuilt ranker.idf(postings, n_docs) — the term
    dictionary's DF/IDF column, also index metadata (R1/R2); without it
    every terms query re-aggregates document frequency from the postings.
    `postings` may be the embed_field_lengths layout (len_ columns on the
    posting rows), in which case the per-query lengths join disappears
    too — see ranker.bm25f."""
    parsed = parse_query(query, stopwords=set(stopwords))
    if parsed.kind == "invalid":
        return []
    # Serving-scale execution config (optimization round 6, guide §2.2 —
    # "size partitions to the data"): a 10-result query over a few
    # thousand cached posting rows must not run its aggregation/join
    # exchanges at the session's scan-scale shuffle-partition count, and
    # AQE's per-query-stage scheduling adds several separately scheduled
    # jobs to a fixed, tiny plan (the same small-size regime the engine's
    # pagerank gates on). Partition count derives from the served index's
    # own layout (index_partitions is the invariant that scales with the
    # corpus), never a constant for the host. Both restored on exit.
    # Measured at a 50k-doc corpus, local[32]: terms 0.615 → 0.357 s,
    # phrase 0.727 → 0.470 s min-of-6. The confs are session-wide, so
    # _CONF_LOCK serializes save/set/run/restore: without it two
    # concurrent queries interleave and the later restore leaves the
    # session at the serving values.
    spark = pages.sparkSession
    with _CONF_LOCK:
        # planned under the lock: an uncached `postings` plans its exchange
        # at the session's confs, which another query may have set
        serving_parts = max(postings.rdd.getNumPartitions(), 1)
        _sp_prev = spark.conf.get("spark.sql.shuffle.partitions")
        _aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.shuffle.partitions", str(serving_parts))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return _search_impl(
                query, pages, postings, lengths, field_cols, n_docs, k,
                stopwords, snippet_field, phrase_index, suggestions,
                avg_lengths, idf_table, parsed,
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", _sp_prev)
            spark.conf.set("spark.sql.adaptive.enabled", _aqe_prev)


def _search_impl(
    query, pages, postings, lengths, field_cols, n_docs, k,
    stopwords, snippet_field, phrase_index, suggestions,
    avg_lengths, idf_table, parsed,
) -> list[SearchResult]:
    if suggestions is not None:
        # the reference records every successfully-parsed query as a
        # suggestion (QueryEngine.java:81)
        record_suggestion(suggestions, query)
    fields = list(field_cols.keys())

    def pruned(phrase: list[str]) -> DataFrame:
        if phrase_index is None:
            return pages
        return ranker.phrase_prune(
            pages, phrase_index, phrase, id_col="url", n_docs=n_docs
        )

    if parsed.kind == "terms":
        relevance = ranker.bm25f(
            postings, lengths, parsed.terms, n_docs, fields=fields,
            avg_lengths=avg_lengths, idf_table=idf_table,
        )
    elif parsed.kind == "phrase":
        rx = ranker.phrase_regex(parsed.phrases[0])
        relevance = ranker.phrase_scores(
            pruned(parsed.phrases[0]), rx, field_cols
        ).withColumnRenamed("phrase_score", "relevance")
    else:  # boolean
        universe = pages.select(F.col("url").alias("doc_id"))
        scored: list[DataFrame] = []
        for i, phrase in enumerate(parsed.phrases):
            rx = ranker.phrase_regex(phrase)
            s = ranker.phrase_scores(
                pruned(phrase), rx, field_cols
            ).withColumnRenamed("phrase_score", "score")
            # leading NOT-semantics: reference treats `NOT x` via set minus
            # during combine; unary not handled by boolean_combine
            scored.append(s)
        relevance = ranker.boolean_combine(
            universe, scored, parsed.operators
        ).withColumnRenamed("score", "relevance")

    ranked = ranker.hybrid_rank(relevance, pages, limit=k)
    # ordered multi-get (R14) fused into the ranking action: join the page
    # text onto the top-k INSIDE the same plan so one search = one Spark
    # job instead of a rank job plus a text-fetch job — per-query latency
    # is job-count-bound at this scale. INNER join with the ≤k-row side
    # broadcast: an outer join here would force Spark to build the FULL
    # pages-text relation (the preserved side of an outer BHJ cannot be
    # broadcast), which is a corpus-sized broadcast/shuffle at scale.
    # Inner is semantically safe because postings are built from these
    # pages, so every ranked doc_id has a pages row (the reference's index
    # rows likewise always reference stored pages).
    text_col = snippet_field or next(iter(field_cols.values()))
    top = (
        F.broadcast(ranked)
        .join(
            pages.select(
                F.col("url").alias("doc_id"), F.col(text_col).alias("_text")
            ),
            "doc_id",
        )
        .collect()
    )
    if not top:
        return []
    # the join does not preserve the rank order — restore it driver-side
    # over the ≤k collected rows (exact same (score desc, doc_id) key the
    # TakeOrdered used, so the order is bit-identical to the pre-join sort)
    top.sort(key=lambda r: (-r["score"], r["doc_id"]))
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
