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


def candidate_docs(postings: DataFrame, terms: Sequence[str]) -> DataFrame:
    """R5 `commonDocs`: UNION (not intersection, despite the reference's
    name — Ranker.java:174-216) of docs containing any query term."""
    return (
        postings.filter(F.col("word").isin(*terms))
        .select("doc_id")
        .distinct()
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


def phrase_prune(
    pages: DataFrame,
    index: PhraseIndex,
    words: Sequence[str],
    id_col: str = "url",
    max_ids_for_pushdown: int = 10_000,
    n_docs: int | None = None,
    max_frac: float = 0.1,
    max_literal_in: int = 1_000,
) -> DataFrame:
    """Restrict `pages` to docs containing the RAREST prunable phrase word
    — a guaranteed superset of the regex matches (every match contains all
    phrase words), decided and fetched with two narrow lookups instead of
    any scan of the fat text columns.

    Per query: (1) probe the tiny word_df table for the phrase words'
    document frequencies; a word absent from the index appears in no doc
    (the index tokenization provably covers every \\b-match — see
    phrase_prune_index), so the phrase matches nothing. (2) Since every
    match contains the rarest word, candidates ≤ min(df). If that bound is
    selective (≤ max_ids_for_pushdown and ≤ max_frac·n_docs when known),
    fetch the rarest word's doc ids — a plain filter on the pairs table,
    no shuffle — and push them as a literal IN filter on the pages scan:
    parquet row-group skipping, regex only on rows passing the set probe.

    Above `max_literal_in` ids the pushdown switches from a literal IN
    predicate to a broadcast LEFT SEMI join on the rarest word's id set
    (no collect at all): a 10k-literal IN bloats plan compile/codegen time
    out of proportion to its row-group-skipping value, while a ≤10k-row
    broadcast build side is constant-cost. Note Catalyst pushes the
    caller's (deterministic) regex below the semi-join onto the scan, so
    this path bounds OUTPUT rows and compile time rather than scan bytes —
    the literal-IN path stays the genuinely scan-saving plan, which is why
    the crossover sits at 1k and not higher.

    A DENSE phrase (min df above the cutoff) returns `pages` unchanged:
    the full regex scan the reference always pays (DBManager.java:755-780)
    is then genuinely the best plan — a semi-join adds nothing once the
    candidate set stops being selective, because the pushed-down regex
    already touches every row."""
    ws = phrase_prunable_words(words)
    if not ws:
        return pages
    cutoff = max_ids_for_pushdown
    if n_docs is not None:
        cutoff = min(cutoff, max(1, int(max_frac * n_docs)))
    dfs = {
        r["word"]: r["df"]
        for r in index.word_df.filter(F.col("word").isin(*ws)).collect()
    }
    if any(w not in dfs for w in ws):
        return pages.filter(F.lit(False))  # some word occurs in no doc
    rarest = min(ws, key=lambda w: dfs[w])
    if dfs[rarest] > cutoff:
        return pages  # dense phrase: the full scan is the right plan
    id_rows = index.pairs.filter(F.col("word") == rarest).select(
        F.col("doc_id").alias(id_col)
    )
    if dfs[rarest] > max_literal_in:
        return pages.join(F.broadcast(id_rows), on=id_col, how="left_semi")
    ids = [r[id_col] for r in id_rows.collect()]
    return pages.filter(F.col(id_col).isin(ids))


def phrase_candidates(
    pages: DataFrame, rx: str, text_cols: Sequence[str]
) -> DataFrame:
    """R10: regex OR-scan over the text fields (DBManager.java:755-780).
    Callers with a prebuilt phrase_prune_index should pass
    `phrase_prune(pages, index, words)` as `pages` — the scan then reads
    only candidate docs instead of the whole corpus."""
    cond = None
    for c in text_cols:
        p = F.col(c).rlike(rx)
        cond = p if cond is None else cond | p
    return pages.filter(cond)


def phrase_scores(
    pages: DataFrame, rx: str,
    field_cols: dict[str, str],
    weights: dict[str, float] | None = None,
    carry: Sequence[str] = (),
) -> DataFrame:
    """R11: per field, w_f · matches / field_len (Ranker.java:324-407) —
    regexp_count + size(split) keep it JVM-side (no UDF). The `carry`
    columns of `pages` (a served scan's popularity and snippet text) pass
    through to the output.

    A field is split for its length only where the phrase occurs in it:
    a match makes the field non-empty, so its length is ≥ 1, and a field
    without one scores 0.0 either way. The counts are ints that the
    arithmetic widens to double, as explicit casts would; each Column call
    costs the driver a call-site capture, so the score uses few."""
    weights = weights or FIELD_WEIGHTS
    score = None
    for name, col in field_cols.items():
        w = float(weights.get(name, 1.0))
        c = F.col(col)
        freq = F.regexp_count(c, F.lit(rx))
        flen = F.size(F.split(c, "\\s+"))
        term = F.when(freq > 0, freq * w / flen).otherwise(0.0)
        score = term if score is None else score + term
    return pages.select(
        F.col("url").alias("doc_id"), score.alias("phrase_score"), *carry
    ).filter(F.col("phrase_score") > 0)


def boolean_combine(
    universe: DataFrame,
    scored: Sequence[DataFrame],
    operators: Sequence[str],
) -> DataFrame:
    """R12: left-to-right AND/OR/NOT over (doc_id, score) sets
    (Ranker.java:410-598; no precedence despite the comment at :500).

    NOT x  = universe − docs(x), each scored 0.1   (:486-493)
    a OR b = union, score = max                     (:543-553)
    a AND b= intersection, score = (s_a + s_b)/2    (:554-572)
    trailing NOT = set-minus                        (:577-587)
    """
    assert len(scored) == len(operators) + 1

    def as_scored(df):
        return df.select("doc_id", "score")

    acc = as_scored(scored[0])
    for op, nxt in zip(operators, scored[1:]):
        op = op.upper()
        nx = as_scored(nxt)
        if op == "OR":
            acc = (
                acc.unionByName(nx)
                .groupBy("doc_id")
                .agg(F.max("score").alias("score"))
            )
        elif op == "AND":
            acc = (
                acc.withColumnRenamed("score", "s1")
                .join(nx.withColumnRenamed("score", "s2"), "doc_id")
                .select(
                    "doc_id", ((F.col("s1") + F.col("s2")) / 2).alias("score")
                )
            )
        elif op == "NOT":
            acc = acc.join(nx.select("doc_id"), "doc_id", "left_anti")
        else:
            raise ValueError(f"unknown operator {op}")
    return acc


def not_docs(universe: DataFrame, docs: DataFrame) -> DataFrame:
    """R12 unary NOT: universe − docs, scored 0.1 (Ranker.java:486-493)."""
    return universe.select("doc_id").join(
        docs.select("doc_id"), "doc_id", "left_anti"
    ).withColumn("score", F.lit(0.1))
