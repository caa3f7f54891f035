"""Ranking operators (reference ops R1-R14, Ranker/Ranker.java).

All pure column algebra over the flat posting table + field lengths —
the reference's per-term Mongo round-trips (R1 getDFs, R6 getFieldLengths,
R7 getPageRanks) become joins inside one plan.

Reference constants (Ranker.java:133,136,37-38): k=1.5, b=0.75; field
weights h1 2.5 / h2 2.0 / a 1.5 / other 1.0; hybrid 0.7·relevance +
0.3·popularity.

Documented reference bug: Ranker.java:268 *overwrites* the per-doc score on
each query term instead of accumulating (`relevanceScores.put`), so only
the last term ever counts. `bm25f(..., last_term_overwrite=True)` reproduces
it for parity experiments; the default sums over terms (the fix the survey
§7 recommends flagging)."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

K1 = 1.5
B = 0.75
FIELD_WEIGHTS = {"h1": 2.5, "h2": 2.0, "a": 1.5, "other": 1.0}
HYBRID_RELEVANCE = 0.7
HYBRID_POPULARITY = 0.3


def document_frequency(postings: DataFrame) -> DataFrame:
    """R1: df per word."""
    return postings.groupBy("word").agg(
        F.countDistinct("doc_id").alias("df")
    )


def idf(postings: DataFrame, n_docs: int) -> DataFrame:
    """R2: log10((N - df + 0.5)/(df + 0.5)), positive terms only
    (Ranker.java:285-301; ≤0 skipped at :230-232)."""
    df = document_frequency(postings)
    expr = F.log10((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    return df.withColumn("idf", expr).filter(F.col("idf") > 0).select(
        "word", "idf"
    )


def avg_field_lengths(
    lengths: DataFrame, fields: Sequence[str]
) -> dict[str, float]:
    """R4: global average field lengths (totals / N — Ranker.java:305-318).

    One tiny aggregation job; served-index callers run it once at index
    build time and pass the result to :func:`bm25f` via ``avg_lengths``."""
    avg_row = lengths.agg(
        *[F.avg(f"len_{f_}").alias(f_) for f_ in fields]
    ).collect()[0]
    return {f_: (avg_row[f_] or 0.0) for f_ in fields}


def bm25f_term_score(
    avg_lengths: dict[str, float],
    fields: Sequence[str] = ("h1", "h2", "a", "other"),
    weights: dict[str, float] | None = None,
) -> Column:
    """R3's per-row score Σ_f w_f · IDF · tf_f(k+1) / (tf_f + k(1−b+b·len_f/avg_f))
    over a posting row that carries ``idf``, ``tf_<field>`` and
    ``len_<field>``. It depends on the index alone, so a server builds it
    once: each Column call costs a driver-side call-site capture."""
    weights = weights or FIELD_WEIGHTS
    per_field = None
    for f_ in fields:
        w = float(weights.get(f_, 1.0))
        tf = F.col(f"tf_{f_}")
        avg = max(avg_lengths[f_], 1e-9)
        num = tf * (K1 + 1.0)
        den = tf + K1 * (1.0 - B + B * F.col(f"len_{f_}") / F.lit(avg))
        term = F.lit(w) * F.col("idf") * num / den
        per_field = term if per_field is None else per_field + term
    return per_field


def bm25f(
    postings: DataFrame,
    lengths: DataFrame | None,
    terms: Sequence[str],
    n_docs: int,
    fields: Sequence[str] = ("h1", "h2", "a", "other"),
    weights: dict[str, float] | None = None,
    last_term_overwrite: bool = False,
    avg_lengths: dict[str, float] | None = None,
    idf_table: DataFrame | None = None,
    term_score: Column | None = None,
) -> DataFrame:
    """R3: per-field weighted BM25, summed over fields then over terms.

    score(term, doc) = Σ_f w_f · IDF · tf_f(k+1) / (tf_f + k(1−b+b·len_f/avg_f))
    (Ranker.java:218-283). avg field lengths = global totals / N (R4).

    ``avg_lengths`` lets a served-index caller pass the averages as prebuilt
    index metadata (see :func:`avg_field_lengths`) instead of paying a
    per-query aggregation job over the whole lengths table — R4 is a
    property of the INDEX, not the query, exactly like the collection
    stats a Lucene/Mongo index stores beside the postings.

    ``idf_table`` is the same idea for R1/R2: a prebuilt ``idf(postings,
    n_docs)`` result (the term dictionary's DF column). Without it every
    query re-aggregates document frequency — an exchange whose input is
    the full posting list of each query term. Values are identical by
    construction (same function at build time). Posting rows that
    already carry an ``idf`` column (the serving layout,
    search.serving_layout) need neither: they join nothing.

    ``lengths`` may be None when the posting rows already carry the
    ``len_<field>`` columns (indexer.embed_field_lengths) — the served-
    index layout where one posting row holds everything BM25F needs and
    a query never joins the corpus-sized lengths table.

    ``term_score``: a prebuilt :func:`bm25f_term_score` over the same
    averages and weights; ``avg_lengths`` and ``lengths`` are then not
    read."""
    embedded = all(f"len_{f_}" in postings.columns for f_ in fields)
    if term_score is None:
        if avg_lengths is None and lengths is None:
            raise ValueError("avg_lengths or lengths required")
        avgs = avg_lengths if avg_lengths is not None else avg_field_lengths(
            lengths, fields
        )
        term_score = bm25f_term_score(avgs, fields, weights)

    j = postings.filter(F.col("word").isin(*terms))
    if "idf" not in postings.columns:
        idf_df = idf_table if idf_table is not None else idf(postings, n_docs)
        j = j.join(idf_df, "word")
    if not embedded:
        if lengths is None:
            raise ValueError(
                "postings lack len_<field> columns and no lengths table "
                "was given"
            )
        j = j.join(lengths, "doc_id")
    if last_term_overwrite:
        # reference bug parity: the LAST query term (in `terms` order)
        # present in the doc overwrites the doc's score (Ranker.java:268)
        order = F.array_position(
            F.array(*[F.lit(t) for t in terms]), F.col("word")
        )
        from pyspark.sql import Window

        w_last = Window.partitionBy("doc_id").orderBy(F.desc(order))
        return (
            j.withColumn("term_score", term_score)
            .withColumn("_rn", F.row_number().over(w_last))
            .filter(F.col("_rn") == 1)
            .select("doc_id", F.col("term_score").alias("relevance"))
        )
    return j.groupBy("doc_id").agg(F.sum(term_score).alias("relevance"))


def hybrid_rank(
    relevance: DataFrame, pages: DataFrame | None = None,
    limit: int | None = None,
) -> DataFrame:
    """R7+R8: join PageRank popularity, 0.7/0.3 blend, sort desc.

    pages must carry (url→doc_id key, rank). A `relevance` that already
    carries `pop` (the serving layout's docs table joined on, or a phrase
    scan that kept the page's rank) joins nothing, and `pages` is not
    read. Columns of `relevance` besides doc_id, relevance and pop (the
    snippet text) ride along to the output. TakeOrderedAndProject when
    `limit` is set — never a global sort for top-k."""
    if "pop" not in relevance.columns:
        relevance = relevance.join(
            pages.select(F.col("url").alias("doc_id"),
                         F.col("rank").alias("pop")),
            "doc_id",
            "left",
        ).fillna({"pop": 0.0})
    carried = [c for c in relevance.columns
               if c not in ("doc_id", "relevance", "pop")]
    out = relevance.select(
        "doc_id",
        (HYBRID_RELEVANCE * F.col("relevance")
         + HYBRID_POPULARITY * F.col("pop")).alias("score"),
        *carried,
    ).orderBy(F.desc("score"), "doc_id")
    return out.limit(limit) if limit else out


def phrase_regex(words: Sequence[str]) -> str:
    """R9: \\bw1\\s+w2...\\b with quoted words (PhraseMatching.java:23-37)."""
    import re as _re

    return r"\b" + r"\s+".join(_re.escape(w) for w in words) + r"\b"


def phrase_prune_index(
    pages: DataFrame, id_col: str, text_cols: Sequence[str]
) -> DataFrame:
    """Distinct (doc_id, word) under split-on-non-letter tokenization of
    lower(text) — the prebuilt index that makes phrase search scale.

    Soundness (why this prune never loses a regex match): a phrase regex
    word `w` ∈ [a-z]+ matches in raw text only where it is flanked by \\b,
    i.e. by non-[A-Za-z0-9_] characters or string edges (Spark rlike is
    ASCII-\\w Java regex). Every such flanking character is a non-letter,
    hence a split delimiter here, so the occurrence survives verbatim as a
    token of split(lower(text), '[^a-z]+'). NOTE the indexer's posting
    tokenizer (indexer.tokenize_field) is NOT sound for this: it strips
    punctuation instead of splitting on it, gluing 'x-hash' → 'xhash',
    which would drop a doc the regex matches."""
    streams = [
        pages.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(F.col(c)), "[^a-z]+")).alias("word"),
        ).filter(F.col("word") != "")
        for c in text_cols
    ]
    toks = streams[0]
    for s in streams[1:]:
        toks = toks.unionByName(s)
    return toks.distinct()


def phrase_prunable_words(words: Sequence[str]) -> list[str]:
    """Phrase words the index can prune on: pure lowercase-letter words
    (anything else — digits, apostrophes, unicode — is skipped; skipping
    only weakens the prune, never its soundness)."""
    import re as _re

    return [w for w in words if _re.fullmatch(r"[a-z]+", w)]


@dataclass
class PhraseIndex:
    """Prebuilt phrase-prune structures: the (doc_id, word) pairs plus a
    tiny per-word document-frequency table. Both cached by the builder; at
    cluster scale both would be bucketed by `word` so the per-query
    lookups are partition-pruned point reads."""

    pairs: DataFrame    # distinct (doc_id, word)
    word_df: DataFrame  # (word, df)


def build_phrase_index(
    pages: DataFrame, id_col: str, text_cols: Sequence[str],
    parts: int | None = None,
) -> PhraseIndex:
    """`parts`: optional partition count for the cached pairs table —
    size it to the corpus, not the session's shuffle default. A served
    index scanned on every query must not pay 64 task launches to read a
    few thousand rows; at cluster scale the same knob is the index's
    bucket count (proportional to data)."""
    pairs = phrase_prune_index(pages, id_col, text_cols)
    if parts:
        pairs = pairs.repartition(parts, "word")
    pairs = pairs.cache()
    word_df = pairs.groupBy("word").agg(F.count("*").alias("df")).cache()
    return PhraseIndex(pairs, word_df)


def _compose(sets: Sequence, operators: Sequence[str]):
    """Candidate sets of a left-to-right boolean chain, None = all docs:
    OR → union, AND → intersection, NOT → the left side. The right side
    of a NOT is a superset of its matches, so subtracting it could drop a
    match; the left side bounds `a NOT b` already."""
    acc = sets[0]
    for op, s in zip(operators, sets[1:]):
        if op == "OR":
            acc = None if acc is None or s is None else acc | s
        elif op == "AND":
            acc = s if acc is None else acc if s is None else acc & s
        elif op != "NOT":
            raise ValueError(f"unknown operator {op}")
    return acc


def phrase_prune(
    pages: DataFrame,
    index: PhraseIndex,
    phrases: Sequence[Sequence[str]],
    operators: Sequence[str] = (),
    id_col: str = "url",
    n_docs: int | None = None,
    max_frac: float = 0.1,
    max_literal_in: int = 1_000,
) -> DataFrame:
    """Restrict `pages` to a guaranteed superset of the docs where a phrase
    query — one phrase, or phrases joined left to right by AND/OR/NOT —
    scores > 0, decided with at most two narrow lookups and applied as
    one literal IN filter on the pages scan (parquet row-group skipping,
    regex only on rows passing the set probe).

    A phrase's candidates are the docs holding its RAREST prunable word:
    every match contains all phrase words. (1) One probe of the tiny
    word_df table covers the words of all phrases. A word absent from the
    index appears in no doc (the index tokenization provably covers every
    \\b-match — see phrase_prune_index), so its phrase has no candidates.
    A phrase counts as "all docs" when it has no prunable word, or when
    its rarest word is dense: in more than max_frac·n_docs docs (when
    `n_docs` is known) or more than `max_literal_in`. The full regex scan
    the reference always pays (DBManager.java:755-780) is then the right
    plan, and a larger literal IN bloats plan compile time out of
    proportion to its skipping value. (2) The phrases' sets compose as
    the fold they bound (ranker.boolean_score): OR → union, AND →
    intersection, NOT → the left side. Only when that composition can be
    narrower than all docs does one fetch of `pairs` bring the rarest
    word's ids of every selective phrase — a plain filter, no shuffle.

    Returns `pages` unchanged when the composed set is all docs or holds
    more than `max_literal_in` ids."""
    words = {w for p in phrases for w in phrase_prunable_words(p)}
    if not words:
        return pages
    cutoff = max_literal_in
    if n_docs is not None:
        cutoff = min(cutoff, max(1, int(max_frac * n_docs)))
    dfs = {
        r["word"]: r["df"]
        for r in index.word_df.filter(F.col("word").isin(*words)).collect()
    }
    # per phrase: None = all docs, "" = no doc, else its rarest word
    rarest: list[str | None] = []
    for p in phrases:
        ws = phrase_prunable_words(p)
        if any(w not in dfs for w in ws):
            rarest.append("")
            continue
        w = min(ws, key=dfs.__getitem__, default=None)
        rarest.append(w if w is not None and dfs[w] <= cutoff else None)
    # the composition with one stand-in set for every selective phrase:
    # None or empty decides the prune without fetching any ids
    shape = _compose([None if w is None else frozenset({0} if w else ())
                      for w in rarest], operators)
    if shape is None:
        return pages
    ids: dict[str, set] = {w: set() for w in rarest if w}
    if shape:
        for r in (index.pairs.filter(F.col("word").isin(*ids))
                  .select("word", "doc_id").collect()):
            ids[r["word"]].add(r["doc_id"])
    keep = _compose([None if w is None else frozenset(ids.get(w, ()))
                     for w in rarest], operators)
    if not keep:
        return pages.filter(F.lit(False))
    if len(keep) > max_literal_in:  # a union of selective phrases
        return pages
    return pages.filter(F.col(id_col).isin(sorted(keep)))


def phrase_score(
    words: Sequence[str],
    field_cols: dict[str, str],
    weights: dict[str, float] | None = None,
) -> Column:
    """R9+R11: a page's score for one phrase, per field w_f · matches /
    field_len of the phrase regex (Ranker.java:324-407) — regexp_count +
    size(split) keep it JVM-side (no UDF); 0.0 where it does not occur.

    A field is split for its length only where the phrase occurs in it:
    a match makes the field non-empty, so its length is ≥ 1, and a field
    without one scores 0.0 either way. The counts are ints that the
    arithmetic widens to double, as explicit casts would; each Column call
    costs the driver a call-site capture, so the score uses few."""
    weights = weights or FIELD_WEIGHTS
    rx = F.lit(phrase_regex(words))
    score = None
    for name, col in field_cols.items():
        w = float(weights.get(name, 1.0))
        c = F.col(col)
        freq = F.regexp_count(c, rx)
        flen = F.size(F.split(c, "\\s+"))
        term = F.when(freq > 0, freq * w / flen).otherwise(0.0)
        score = term if score is None else score + term
    return score


def boolean_score(scores: Sequence[Column], operators: Sequence[str]) -> Column:
    """R12: left-to-right AND/OR/NOT (Ranker.java:410-598; no precedence
    despite the comment at :500) folded over per-page phrase scores, where
    a page is in a phrase's set iff its score is > 0:

    a OR b  = greatest(a, b): union, score = max             (:543-553)
    a AND b = (a + b) / 2 where both > 0, else 0:
              intersection, score = mean                     (:554-572)
    a NOT b = 0 where b > 0, else a: set-minus               (:577-587)

    These are the set algebra's values exactly, because an absent score
    is 0 and a present one is > 0. The reference's unary NOT (universe −
    docs(x), each scored 0.1, :486-493) has no form here: parse_query's
    grammar starts every phrase query with a phrase, so an operator never
    comes first."""
    assert len(scores) == len(operators) + 1
    acc = scores[0]
    for op, s in zip(operators, scores[1:]):
        if op == "OR":
            acc = F.greatest(acc, s)
        elif op == "AND":
            acc = F.when((acc > 0) & (s > 0), (acc + s) / 2).otherwise(0.0)
        elif op == "NOT":
            acc = F.when(s > 0, 0.0).otherwise(acc)
        else:
            raise ValueError(f"unknown operator {op}")
    return acc


def phrase_scores(
    pages: DataFrame,
    phrases: Sequence[Sequence[str]],
    field_cols: dict[str, str],
    operators: Sequence[str] = (),
    weights: dict[str, float] | None = None,
    carry: Sequence[str] = (),
) -> DataFrame:
    """(doc_id, phrase_score) of the pages where a phrase query scores
    > 0: every phrase's :func:`phrase_score` folded by
    :func:`boolean_score` in one scan of `pages`. The `carry` columns of
    `pages` (a served scan's popularity and snippet text) pass through to
    the output."""
    score = boolean_score(
        [phrase_score(p, field_cols, weights) for p in phrases], operators)
    return pages.select(
        F.col("url").alias("doc_id"), score.alias("phrase_score"), *carry
    ).filter(F.col("phrase_score") > 0)
