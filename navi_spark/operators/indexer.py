"""Inverted-index build (reference ops I1-I9, indexer/*).

The reference iterates Mongo documents in batches of 10, tokenizing one doc
at a time (indexer/Main.java:52-132). Here the whole index is ONE DataFrame
job — Spark partitions are the batches:

  pages.filter(~isIndexed)                         I1 unindexed scan
    → tokenize per field (lower, strip, split)     I3 (Indexer.java:168-210)
    → stopword filter (broadcast isin)             I2 (Indexer.java:98-110)
    → Porter stem (Arrow UDF)                      I4 (Indexer.java:42,188)
    → groupBy(word, doc, field).count → pivot      I5 (Indexer.java:120-166)
    → per-doc field lengths                        I6 (Indexer.java:71-96)
    → postings + field totals commits              I7/I8 (DBManager.java:410-473,312-343)

The posting store is the FLAT table `(word, doc_id, <field columns>, tf)`
the survey recommends over Mongo's nested array-of-struct (SURVEY.md §1.2)
— MERGE-friendly, partition-prunable by word, no $push/$set two-phase
upserts (the reference's DBManager.java:410-473 bulk dance disappears)."""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from navi_spark.functions.stemmer import porter_stem_udf

# the reference's 4 field types; title counts as h1 (Indexer.java:156)
DEFAULT_FIELDS = ("h1", "h2", "a", "other")


def tokenize_field(
    df: DataFrame, id_col: str, text_col: str, field_name: str,
    stopwords: Sequence[str] = (), stem: bool = True,
) -> DataFrame:
    """(doc_id, field, word) token stream for one field (I2-I4)."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.lit(field_name).alias("field"),
        F.explode(
            F.split(F.regexp_replace(F.lower(text_col), "[^a-z\\s]", ""), "\\s+")
        ).alias("word"),
    ).filter(F.col("word") != "")
    if stopwords:
        toks = toks.filter(~F.col("word").isin(*stopwords))
    if stem:
        toks = toks.withColumn("word", porter_stem_udf("word"))
    return toks


def build_postings(
    df: DataFrame, id_col: str, field_cols: dict[str, str],
    stopwords: Sequence[str] = (), stem: bool = True,
) -> DataFrame:
    """Flat posting table: (word, doc_id, tf_<field>..., tf).

    One union of per-field token streams, one groupBy+pivot — partial
    aggregation (map-side combine) and the pivot both stay JVM-side."""
    streams = [
        tokenize_field(df, id_col, col, name, stopwords, stem)
        for name, col in field_cols.items()
    ]
    toks = streams[0]
    for s in streams[1:]:
        toks = toks.unionByName(s)
    fields = list(field_cols.keys())
    pivoted = (
        toks.groupBy("word", "doc_id")
        .pivot("field", fields)
        .count()
        .fillna(0, subset=fields)
    )
    tf = None
    for f_ in fields:
        tf = F.col(f_) if tf is None else tf + F.col(f_)
    out = pivoted.select(
        "word", "doc_id",
        *[F.col(f_).cast("long").alias(f"tf_{f_}") for f_ in fields],
        tf.cast("long").alias("tf"),
    )
    return out


def field_lengths(
    df: DataFrame, id_col: str, field_cols: dict[str, str],
    stopwords: Sequence[str] = (), stem: bool = True,
) -> DataFrame:
    """Per-doc post-stopword token counts per field (I6).

    Fast path (optimization round 6, guide §2.4 — same equivalence as
    queries.r3_bm25): without stopwords or stemming a field's token count
    is the number of maximal [a-z]+ runs in the cleaned text (after
    regexp_replace the text is [a-z\\s]-only, so \\s+-split non-empty
    tokens ≡ maximal letter runs), i.e. one regexp_count projection per
    field — no explode, no groupBy+pivot exchange. Docs with zero tokens
    in every field are filtered out, matching the pivot form (such docs
    never appear in the token stream). Stemming never changes counts, so
    only STOPWORDS force the token-stream path."""
    if not stopwords:
        lens = {
            name: F.regexp_count(
                F.regexp_replace(F.lower(col), "[^a-z\\s]", ""),
                F.lit("[a-z]+"),
            ).cast("long")
            for name, col in field_cols.items()
        }
        any_tok = None
        for c in lens.values():
            any_tok = c if any_tok is None else any_tok + c
        return df.select(
            F.col(id_col).alias("doc_id"),
            *[c.alias(f"len_{name}") for name, c in lens.items()],
        ).filter(F.lit(0) < sum(
            [F.col(f"len_{name}") for name in lens], F.lit(0))
        )
    streams = [
        tokenize_field(df, id_col, col, name, stopwords, stem)
        for name, col in field_cols.items()
    ]
    toks = streams[0]
    for s in streams[1:]:
        toks = toks.unionByName(s)
    counts = toks.groupBy("doc_id").pivot("field", list(field_cols)).count()
    return counts.fillna(0, subset=list(field_cols)).select(
        "doc_id",
        *[F.col(f_).cast("long").alias(f"len_{f_}") for f_ in field_cols],
    )


def embed_field_lengths(postings: DataFrame, lengths: DataFrame) -> DataFrame:
    """Denormalize the per-doc field lengths into the posting rows — the
    served-index layout: one posting row carries everything BM25F needs
    (tf per field AND the doc's field lengths), so a query never joins the
    corpus-sized lengths table. Classic impact/forward-metadata index
    design; the cost is len-column bytes per posting row, paid once at
    build time. An inner join is exact: postings and lengths are built
    from the same token streams, so every posting doc_id has a lengths
    row (and docs with no postings have nothing to score)."""
    return postings.join(lengths, "doc_id")


def field_totals(lengths: DataFrame, fields: Sequence[str]) -> DataFrame:
    """Global per-field token mass (I8 → field_counts.json parity)."""
    return lengths.agg(
        *[F.sum(f"len_{f_}").alias(f"total_{f_}") for f_ in fields]
    )
