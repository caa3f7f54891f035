"""Operator queries + ANSI-SQL oracle twins (the driver correctness gate).

Each entry maps one operator from SURVEY.md §2 onto the driver-provided
tables (`TESTDATA.md`): the Spark callable is the engine's idiomatic plan,
the SQL string is the semantically-equivalent DuckDB query the driver runs
side-by-side at sf=0.01. Column names/aliases match exactly; every computed
double is rounded identically on both sides (driver hashes values).

Names carry the SURVEY operator codes (c3_, i5_, r3_, ...) so coverage is
auditable line-by-line against SURVEY.md §2.
"""

from __future__ import annotations

import os
from typing import Callable, Optional

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "as")
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Below this input size the _spread exchange costs more than the serial
# scan it parallelizes (measured at sf0.1: i3 0.266 → 0.322 with an
# unconditional spread; at sf1.0 the spread wins 3.4×). Unknown/non-local
# paths assume big.
SPREAD_MIN_BYTES = 2 << 20


def _table_bytes(sf_dir: str, name: str) -> int:
    p = f"{sf_dir}/{name}.parquet"
    try:
        if os.path.isdir(p):
            return sum(
                os.path.getsize(os.path.join(p, f))
                for f in os.listdir(p)
                if not f.startswith(("_", "."))
            )
        return os.path.getsize(p)
    except OSError:
        return 1 << 40  # not a local path: assume big → spread


def _spread(df: DataFrame, key: str = "doc_id",
            nbytes: Optional[int] = None) -> DataFrame:
    """Restore scan parallelism before expensive per-row work (guide §2.5
    input skew / §6 input splits): the driver tables are single-file,
    single-row-group parquet (row groups land in whichever split holds
    their midpoint), so a documents scan runs on ~1 task no matter how
    many cores the session has — and every regex/tokenize expression
    fused into that scan stage serializes with it. One hash exchange of
    the small raw rows (deterministic key — never round-robin, guide
    §2.5) spreads the downstream compute across the session's shuffle
    partitions. Scale-adaptive: inputs under SPREAD_MIN_BYTES skip the
    exchange (the serial scan is cheaper than shuffling it)."""
    if nbytes is not None and nbytes < SPREAD_MIN_BYTES:
        return df
    return df.repartition(key)


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, word): lowercase, strip non-letters, split (I3)."""
    d = _spread(load(spark, sf_dir, "documents").select("doc_id", "text"),
                nbytes=_table_bytes(sf_dir, "documents"))
    return (
        d.select(
            "doc_id",
            F.explode(
                F.split(F.regexp_replace(F.lower("text"), "[^a-z\\s]", ""), "\\s+")
            ).alias("word"),
        )
        .filter(F.col("word") != "")
    )


_TOKENS_SQL = """
    SELECT doc_id, w AS word
    FROM (SELECT doc_id,
                 unnest(string_split_regex(
                     regexp_replace(lower(text), '[^a-z\\s]', '', 'g'),
                     '\\s+')) AS w
          FROM documents) u
    WHERE w <> ''
"""

# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], Optional[str]]] = {}


def _q(name: str, sql: Optional[str]):
    def deco(fn):
        _REGISTRY[name] = (fn, sql)
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: v[0] for k, v in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}


# ---------------------------------------------------------------------------
# crawler family (C1-C23) — URL universe synthesized from `documents`
# ---------------------------------------------------------------------------

@_q(
    "c3_url_normalize",
    """
    SELECT doc_id,
           'https://' || lower(source) || '.test/d/' || doc_id AS url_norm
    FROM documents
    """,
)
def c3_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: canonicalization (builtin fast path) of dirty URL spellings.
    The oracle states the expected canonical form directly."""
    from navi_spark.functions.urlnorm import normalize_url_expr

    d = load(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit("HTTPS://WWW."), F.upper("source"), F.lit(".TEST:443/D/"),
        F.col("doc_id").cast("string"), F.lit("/?q=1&utm=x"),
    )
    return d.select(
        "doc_id", normalize_url_expr(dirty).alias("url_norm")
    )


@_q(
    "c4_host_extract",
    """
    SELECT lower(source) || '.test' AS host, CAST(count(*) AS BIGINT) AS n_urls
    FROM documents GROUP BY 1
    """,
)
def c4_host_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: host extraction + per-host counts."""
    from navi_spark.functions.urlnorm import host_expr

    d = load(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://"), F.lower("source"), F.lit(".test/d/"),
                   F.col("doc_id").cast("string"))
    return (
        d.select(host_expr(url).alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n_urls"))
    )


@_q(
    "c5_frontier_priority",
    """
    SELECT user_id, event_id, ROUND(value, 6) AS rank, rn
    FROM (SELECT user_id, event_id, value,
                 CAST(row_number() OVER (PARTITION BY user_id
                                         ORDER BY value, event_id) AS BIGINT) AS rn
          FROM events) t
    WHERE rn <= 3
    """,
)
def c5_frontier_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: the window-ranked priority queue — lowest-rank-first per key."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", F.round("value", 6).alias("rank"), "rn")
    )


@_q(
    "c6_depth_filter",
    """
    SELECT CAST(event_id % 8 AS BIGINT) AS depth, CAST(count(*) AS BIGINT) AS n
    FROM events WHERE event_id % 8 <= 5 GROUP BY 1
    """,
)
def c6_depth_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: BFS depth-limit filter."""
    e = load(spark, sf_dir, "events")
    return (
        e.withColumn("depth", (F.col("event_id") % 8).cast("long"))
        .filter(F.col("depth") <= 5)
        .groupBy("depth")
        .agg(F.count("*").alias("n"))
    )


@_q(
    "c7_global_budget",
    """
    SELECT event_id, ROUND(value, 6) AS rank
    FROM events ORDER BY value, event_id LIMIT 100
    """,
)
def c7_global_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: global page budget = distributed TakeOrdered head of the queue."""
    e = load(spark, sf_dir, "events")
    return (
        e.orderBy("value", "event_id")
        .limit(100)
        .select("event_id", F.round("value", 6).alias("rank"))
    )


@_q(
    "c8_domain_cap",
    """
    SELECT source AS host, doc_id
    FROM (SELECT source, doc_id,
                 row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
          FROM documents) t
    WHERE rn <= 10
    """,
)
def c8_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8: per-domain politeness cap as a per-host row_number window."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select(F.col("source").alias("host"), "doc_id")
    )


@_q(
    "c9_seen_antijoin",
    """
    SELECT d.doc_id FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM documents s
                      WHERE s.doc_id % 7 = 3 AND s.doc_id = d.doc_id)
    """,
)
def c9_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9: URL-seen set as a left_anti join against the `seen` table."""
    d = load(spark, sf_dir, "documents")
    seen = d.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    return d.join(seen, on="doc_id", how="left_anti").select("doc_id")


@_q(
    "c14_language_filter",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_pass
    FROM documents
    WHERE (length(text) - length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')))
          <= 0.1 * length(text)
    GROUP BY lang
    """,
)
def c14_language_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14: ≤10% non-ASCII gate (WebCrawler.java:232-237)."""
    from navi_spark.operators.fetch import non_ascii_ratio

    d = load(spark, sf_dir, "documents")
    return (
        d.filter(non_ascii_ratio(F.col("text")) <= 0.1)
        .groupBy("lang")
        .agg(F.count("*").alias("n_pass"))
    )


@_q(
    "c15_content_dedup",
    """
    SELECT doc_id, md5(text) AS content_hash
    FROM (SELECT doc_id, text,
                 row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM documents) t
    WHERE rn = 1
    """,
)
def c15_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C15: content-hash dedup, keep-first (HashingManager.java:21-56).

    Optimization round 6 (guide §2.3 "aggregate before you shuffle"):
    keep-first ≡ min(doc_id) per hash, so a hash aggregate with map-side
    partial aggregation replaces the window (which shuffled every row and
    paid a per-group sort); the exchange now carries one partial row per
    (hash, partition) instead of the whole table."""
    # no _spread here (A/B'd): md5 is ~1µs/row, so shuffling raw text to
    # parallelize it costs more than the serial map-side hash — the
    # partial agg already shrinks the exchange to (hash, min_id) rows
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "content_hash")
    )


@_q(
    "c16_link_expansion",
    """
    WITH n AS (SELECT count(*) AS n FROM documents)
    SELECT DISTINCT CAST(child AS BIGINT) AS child_id
    FROM (SELECT (doc_id * 7 + 1) % (SELECT n FROM n) AS child FROM documents
          UNION ALL
          SELECT (doc_id * 13 + 3) % (SELECT n FROM n) FROM documents) t
    """,
)
def c16_link_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C16: link extraction → frontier expansion (explode + distinct)."""
    d = load(spark, sf_dir, "documents")
    n = d.count()
    return (
        d.select(
            F.explode(
                F.array((F.col("doc_id") * 7 + 1) % n,
                        (F.col("doc_id") * 13 + 3) % n)
            ).alias("child_id")
        )
        .distinct()
    )


@_q(
    "c17_parent_agg",
    """
    WITH n AS (SELECT count(*) AS n FROM documents),
    e AS (SELECT doc_id AS parent, (doc_id * 7 + 1) % (SELECT n FROM n) AS child
          FROM documents
          UNION ALL
          SELECT doc_id, (doc_id * 13 + 3) % (SELECT n FROM n) FROM documents)
    SELECT CAST(child AS BIGINT) AS child_id,
           CAST(count(*) AS BIGINT) AS n_parents,
           CAST(min(parent) AS BIGINT) AS min_parent,
           CAST(max(parent) AS BIGINT) AS max_parent
    FROM e GROUP BY child
    """,
)
def c17_parent_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C17: reverse-edge aggregation ($addToSet parent, DBManager.java:938)."""
    d = load(spark, sf_dir, "documents")
    n = d.count()
    edges = d.select(
        F.col("doc_id").alias("parent"),
        F.explode(
            F.array((F.col("doc_id") * 7 + 1) % n, (F.col("doc_id") * 13 + 3) % n)
        ).alias("child_id"),
    )
    return edges.groupBy("child_id").agg(
        F.count("*").alias("n_parents"),
        F.min("parent").alias("min_parent"),
        F.max("parent").alias("max_parent"),
    )


def _pagerank_sql(iters: int = 10) -> str:
    parts = [
        "WITH n AS (SELECT count(*) AS n FROM documents)",
        """e AS (SELECT doc_id AS src, (doc_id * 7 + 1) % (SELECT n FROM n) AS dst
                 FROM documents
                 UNION ALL
                 SELECT doc_id, (doc_id * 13 + 3) % (SELECT n FROM n) FROM documents)""",
        "r0 AS (SELECT doc_id AS node, 1.0 / (SELECT n FROM n) AS rank FROM documents)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""r{i} AS (
              SELECT d.doc_id AS node,
                     0.15 + 0.85 * COALESCE(s.contrib, 0.0) AS rank
              FROM documents d
              LEFT JOIN (SELECT e.dst AS node, SUM(r{i-1}.rank / 2) AS contrib
                         FROM e JOIN r{i-1} ON e.src = r{i-1}.node
                         GROUP BY e.dst) s
              ON d.doc_id = s.node)"""
        )
    header = parts[0] + ",\n" + ",\n".join(parts[1:])
    return (
        header
        + f"\nSELECT node, ROUND(rank, 6) AS rank FROM r{iters}"
    )


@_q("c23_pagerank", _pagerank_sql(10))
def c23_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C23: 10-iteration PageRank, d=0.85, rank = 0.15 + 0.85·Σ(r/outdeg),
    outdeg fixed 2 (reference formula at DBManager.java:1051-1172 — note
    0.15 + 0.85·Σ, NOT 0.15/N)."""
    d = load(spark, sf_dir, "documents")
    n = d.count()
    # Optimization round 6 — two levers, both A/B'd at 50k docs/100k
    # edges (OPTIMIZATION_r06.md):
    #  1. iterate on the CONTRIBUTION recurrence, not on ranks:
    #     c_i(dst) = Σ (0.15 + 0.85·coalesce(c_{i-1}(src),0)) / 2 — each
    #     iteration is ONE join + ONE aggregation; the per-iteration
    #     nodes left-join (a full |nodes| exchange ×10) disappears and
    #     ranks materialize from c_10 once at the end. Arithmetic per
    #     edge is unchanged (rank computed then halved), so values are
    #     identical up to summation order (absorbed by ROUND(...,6)).
    #  2. edges repartitioned by src once and cached: every iteration's
    #     join reuses that partitioning, only the contrib side moves.
    # Deliberately NOT taken from the engine's pagerank(): the final
    # eager localCheckpoint (measured 0.5 s → 5-9 s here — the leaf
    # materialization pays more than it saves when the caller runs ONE
    # action on the result) and the small-n AQE/codegen-off gate (AQE's
    # runtime broadcast of the contrib side is what keeps the loop's
    # joins exchange-free at this size).
    edges = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.array((F.col("doc_id") * 7 + 1) % n,
                        (F.col("doc_id") * 13 + 3) % n)
            ).alias("dst"),
        )
        .repartition("src")
        .cache()
    )
    nodes = d.select(F.col("doc_id").alias("node"))
    contrib = None
    for _ in range(10):
        if contrib is None:
            src_side = edges
            rank_prev = F.lit(1.0 / n)
        else:
            src_side = edges.join(
                contrib.withColumnRenamed("dst", "src"), "src", "left"
            )
            rank_prev = (
                F.lit(0.15) + 0.85 * F.coalesce(F.col("contrib"), F.lit(0.0))
            )
        contrib = (
            src_side.select("dst", (rank_prev / 2).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
    return (
        nodes.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
        .select(
            "node",
            (F.lit(0.15) + 0.85 * F.coalesce(F.col("contrib"), F.lit(0.0))
             ).alias("rank"),
        )
        .select("node", F.round("rank", 6).alias("rank"))
    )


# ---------------------------------------------------------------------------
# indexer family (I1-I8)
# ---------------------------------------------------------------------------

@_q(
    "i3_tokenize",
    f"SELECT word, CAST(count(*) AS BIGINT) AS tf FROM ({_TOKENS_SQL}) GROUP BY word",
)
def i3_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3: lowercase, strip non-letters, whitespace split (Indexer.java:168)."""
    return _tokens(spark, sf_dir).groupBy("word").agg(F.count("*").alias("tf"))


@_q(
    "i2_stopword_filter",
    f"""
    SELECT word, CAST(count(*) AS BIGINT) AS tf
    FROM ({_TOKENS_SQL}) WHERE word NOT IN ({_STOP_SQL}) GROUP BY word
    """,
)
def i2_stopword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2: stopword removal (Indexer.java:98-110) — broadcast isin filter."""
    return (
        _tokens(spark, sf_dir)
        .filter(~F.col("word").isin(*STOPWORDS))
        .groupBy("word")
        .agg(F.count("*").alias("tf"))
    )


@_q(
    "i5_posting_tf",
    f"""
    SELECT word, doc_id, CAST(count(*) AS BIGINT) AS tf
    FROM ({_TOKENS_SQL}) GROUP BY word, doc_id HAVING count(*) >= 2
    """,
)
def i5_posting_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I5: per-(word, doc) term frequency — the posting build
    (Indexer.java:120-166). HAVING keeps result compact."""
    return (
        _tokens(spark, sf_dir)
        .groupBy("word", "doc_id")
        .agg(F.count("*").alias("tf"))
        .filter(F.col("tf") >= 2)
    )


@_q(
    "i6_field_lengths",
    f"""
    SELECT doc_id, CAST(count(*) AS BIGINT) AS doc_len
    FROM ({_TOKENS_SQL}) GROUP BY doc_id
    """,
)
def i6_field_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6: per-doc token counts (Indexer.java:71-96)."""
    return _tokens(spark, sf_dir).groupBy("doc_id").agg(
        F.count("*").alias("doc_len")
    )


@_q(
    "i8_field_totals",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT word) AS BIGINT) AS distinct_words
    FROM ({_TOKENS_SQL})
    """,
)
def i8_field_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I8: global field totals (DBManager.java:312-343) — one-row aggregate."""
    return _tokens(spark, sf_dir).agg(
        F.count("*").alias("total_tokens"),
        F.countDistinct("word").alias("distinct_words"),
    )


# ---------------------------------------------------------------------------
# ranker family (R1-R12)
# ---------------------------------------------------------------------------

@_q(
    "r1_document_frequency",
    f"""
    SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM ({_TOKENS_SQL}) GROUP BY word
    """,
)
def r1_document_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: document frequency per term (DBManager.java:195-222)."""
    return _tokens(spark, sf_dir).groupBy("word").agg(
        F.countDistinct("doc_id").alias("df")
    )


@_q(
    "r2_idf",
    f"""
    WITH df AS (SELECT word, count(DISTINCT doc_id) AS df FROM ({_TOKENS_SQL}) GROUP BY word),
         n AS (SELECT count(*) AS n FROM documents)
    SELECT word, ROUND(log10(((SELECT n FROM n) - df + 0.5) / (df + 0.5)), 6) AS idf
    FROM df
    WHERE log10(((SELECT n FROM n) - df + 0.5) / (df + 0.5)) > 0
    """,
)
def r2_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2: BM25 IDF, positive-only (Ranker.java:285-301, skip at :230-232)."""
    n = load(spark, sf_dir, "documents").count()
    df = _tokens(spark, sf_dir).groupBy("word").agg(
        F.countDistinct("doc_id").alias("df")
    )
    idf = F.log10((F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    return df.withColumn("_idf", idf).filter(F.col("_idf") > 0).select(
        "word", F.round("_idf", 6).alias("idf")
    )


_BM25_TERMS = ("spark", "merge", "window")
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

@_q(
    "r3_bm25",
    f"""
    WITH toks AS ({_TOKENS_SQL}),
    n AS (SELECT count(*) AS n FROM documents),
    dl AS (SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY doc_id),
    avgdl AS (SELECT avg(doc_len) AS avgdl FROM dl),
    tf AS (SELECT word, doc_id, count(*) AS tf FROM toks
           WHERE word IN ({_BM25_TERMS_SQL}) GROUP BY word, doc_id),
    df AS (SELECT word, count(DISTINCT doc_id) AS df FROM toks
           WHERE word IN ({_BM25_TERMS_SQL}) GROUP BY word),
    idf AS (SELECT word, log10(((SELECT n FROM n) - df + 0.5) / (df + 0.5)) AS idf
            FROM df)
    SELECT tf.doc_id,
           ROUND(SUM(idf.idf * tf.tf * 2.5 /
                     (tf.tf + 1.5 * (1 - 0.75 + 0.75 * dl.doc_len /
                                     (SELECT avgdl FROM avgdl)))), 6) AS score
    FROM tf JOIN idf USING (word) JOIN dl USING (doc_id)
    GROUP BY tf.doc_id
    """,
)
def r3_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3: BM25 (k=1.5, b=0.75 — Ranker.java:133) summed over query terms.
    (Single-field variant; the reference's per-term overwrite bug at
    Ranker.java:268 is deliberately FIXED here — scores sum over terms.)

    Plan (optimization round 6, guide §2.3/§2.4 "decide with small rows"):
    instead of exploding every token of every doc into a corpus×tokens row
    stream (cached!) and re-aggregating it three ways (doc_len, tf, df)
    through three exchanges plus a 3-way join, derive the three per-doc
    numbers the score needs (doc_len, tf per query term) directly from the
    cleaned text with codegen'd regexp_count — zero exchanges, no arrays.
    After regexp_replace the text is [a-z\\s]-only, so the \\s+-split
    tokens are exactly the maximal [a-z]+ runs: doc_len ≡
    regexp_count('[a-z]+') and tf(t) ≡ regexp_count('(?<![a-z])t(?![a-z])')
    — whole-token matches only, adjacent repeats counted (non-overlapping
    greedy scan), bit-identical to the explode+count form.
    One tiny aggregate collects the per-term document frequencies and the
    average doc length (bounded: |terms|+1 doubles); idf then becomes a
    constant-folded literal (same JVM log10 the joined column fed), and
    the final pass scores matching docs straight off the cached narrow
    per-doc table. Token-stream shuffles removed: 3 → 0; joins 2 → 0."""
    d = load(spark, sf_dir, "documents")
    n = d.count()
    cleaned = F.regexp_replace(F.lower("text"), "[^a-z\\s]", "")
    per_doc = (
        _spread(d.select("doc_id", "text"),
                nbytes=_table_bytes(sf_dir, "documents"))
        .select("doc_id", cleaned.alias("_c"))
        .select(
            "doc_id",
            F.regexp_count("_c", F.lit("[a-z]+")).alias("doc_len"),
            *[
                F.regexp_count(
                    "_c", F.lit(f"(?<![a-z]){t}(?![a-z])")
                ).alias(f"tf{i}")
                for i, t in enumerate(_BM25_TERMS)
            ],
        )
        .cache()
    )
    row = per_doc.agg(
        # avg over docs WITH tokens — the explode form never emitted a
        # doc_len row for a token-free doc
        F.avg(F.when(F.col("doc_len") > 0, F.col("doc_len"))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    ).collect()[0]
    avgdl = row["avgdl"]
    k, b = 1.5, 0.75
    score = None
    present = []
    for i in range(len(_BM25_TERMS)):
        dfv = int(row[f"df{i}"] or 0)
        if dfv == 0:
            continue  # term in no doc: contributes no rows and no score
        present.append(i)
        # same float ops as the joined-column form: (n - df + 0.5) and
        # (df + 0.5) are exact in doubles; log10 constant-folds JVM-side
        idf_t = F.log10(F.lit(float(n) - dfv + 0.5) / F.lit(dfv + 0.5))
        tf = F.col(f"tf{i}")
        term = (
            idf_t * tf * (k + 1.0)
            / (tf + k * (1 - b + b * F.col("doc_len") / F.lit(avgdl)))
        )
        contrib = F.when(tf > 0, term).otherwise(F.lit(0.0))  # +0.0 is exact
        score = contrib if score is None else score + contrib
    if not present:
        return per_doc.filter(F.lit(False)).select(
            "doc_id", F.lit(None).cast("double").alias("score")
        )
    any_term = None
    for i in present:
        c = F.col(f"tf{i}") > 0
        any_term = c if any_term is None else any_term | c
    return per_doc.filter(any_term).select(
        "doc_id", F.round(score, 6).alias("score")
    )


# Multi-field BM25F twins: fields synthesized from token POSITIONS so both
# engines derive identical fields from one tokenization — pos 0-1 → h1,
# 2-3 → h2, 4-5 → a, rest → other (title/heading/anchor/body analog).
#
# The synthetic corpus vocabulary is so small that every real word appears
# in >half the docs — idf ≤ 0 — and the reference SKIPS non-positive-idf
# terms (Ranker.java:230-232), which would make the gate vacuous. Both
# sides therefore append two deterministic rare MARKER words per doc
# (doc_id-derived), giving the query terms df ≈ N/7 and N/5 (idf > 0) and
# giving most docs TWO query terms — which is what makes the
# overwrite-parity twin actually diverge from the summing one.
@_q(
    "r8_hybrid_topk",
    f"""
    WITH rel AS (SELECT doc_id, count(*) AS tf FROM ({_TOKENS_SQL})
                 WHERE word = 'spark' GROUP BY doc_id)
    SELECT d.doc_id,
           ROUND(0.7 * COALESCE(rel.tf, 0) + 0.3 * (d.doc_id % 100) / 100.0, 6)
               AS score
    FROM documents d LEFT JOIN rel USING (doc_id)
    ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def r8_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8: hybrid 0.7·relevance + 0.3·popularity, top-k (Ranker.java:37-38).

    Optimization round 6 (guide §2.4): the term frequency of one word per
    doc does not need an explode + aggregation + self-join — after
    regexp_replace the text is [a-z\\s]-only, so whole-token occurrences
    of 'spark' are exactly the regexp_count matches of
    '(?<![a-z])spark(?![a-z])' (see r3_bm25 for the equivalence argument).
    The left join (and both its exchanges) disappears; the plan is scan →
    project → TakeOrderedAndProject. coalesce(tf,0) is subsumed: a doc
    without the word counts 0 matches."""
    d = load(spark, sf_dir, "documents")
    cleaned = F.regexp_replace(F.lower("text"), "[^a-z\\s]", "")
    tf = F.regexp_count(cleaned, F.lit("(?<![a-z])spark(?![a-z])")).cast("long")
    return (
        _spread(d.select("doc_id", "text"),
                nbytes=_table_bytes(sf_dir, "documents")).select(
            "doc_id",
            F.round(
                0.7 * tf + 0.3 * (F.col("doc_id") % 100) / 100.0, 6
            ).alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


_PHRASE = r"\bkey\s+agg\b"

@_q(
    "r10_phrase_scan",
    f"SELECT doc_id FROM documents WHERE regexp_matches(text, '{_PHRASE}')",
)
def r10_phrase_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10: phrase regex candidate scan (DBManager.java:755-780) — via the
    postings-pruned path: the prune index restricts the regex to docs
    containing every phrase word (a proven superset of the matches), so
    this gate certifies prune+scan ≡ the oracle's full-corpus scan."""
    from navi_spark.operators.ranker import build_phrase_index, phrase_prune

    d = load(spark, sf_dir, "documents")
    idx = build_phrase_index(d, "doc_id", ["text"])
    cand = phrase_prune(d, idx, ["key", "agg"], id_col="doc_id")
    return cand.filter(F.col("text").rlike(_PHRASE)).select("doc_id")


@_q(
    "r11_phrase_score",
    f"""
    SELECT doc_id,
           ROUND(CAST(len(regexp_extract_all(text, '{_PHRASE}')) AS DOUBLE)
                 / len(string_split_regex(text, '\\s+')), 6) AS phrase_score
    FROM documents WHERE regexp_matches(text, '{_PHRASE}')
    """,
)
def r11_phrase_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R11: phrase frequency / field length (Ranker.java:324-407), scoring
    only the prune-index candidates (same result as the oracle's full
    scan — the prune is a superset of the matches)."""
    from navi_spark.operators.ranker import build_phrase_index, phrase_prune

    d = load(spark, sf_dir, "documents")
    idx = build_phrase_index(d, "doc_id", ["text"])
    cand = phrase_prune(d, idx, ["key", "agg"], id_col="doc_id")
    return (
        cand.filter(F.col("text").rlike(_PHRASE))
        .select(
            "doc_id",
            F.round(
                F.regexp_count("text", F.lit(_PHRASE)).cast("double")
                / F.size(F.split("text", "\\s+")),
                6,
            ).alias("phrase_score"),
        )
    )


@_q(
    "r12_boolean_combine",
    r"""
    SELECT doc_id FROM documents WHERE regexp_matches(text, '\bspark\b')
    INTERSECT
    SELECT doc_id FROM documents WHERE regexp_matches(text, '\bmerge\b')
    EXCEPT
    SELECT doc_id FROM documents WHERE regexp_matches(text, '\bwindow\b')
    """,
)
def r12_boolean_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12: boolean phrase algebra — AND=intersect, NOT=except
    (Ranker.java:410-598), left-to-right."""
    # _spread: three full-text rlike scans over a single-row-group file
    # would each run on ~1 task (guide §2.5); one hash exchange of the raw
    # rows parallelizes all three regex branches
    d = _spread(load(spark, sf_dir, "documents").select("doc_id", "text"),
                nbytes=_table_bytes(sf_dir, "documents"))

    def docs(rx):
        return d.filter(F.col("text").rlike(rx)).select("doc_id")

    return docs(r"\bspark\b").intersect(docs(r"\bmerge\b")).subtract(
        docs(r"\bwindow\b")
    )


# ---------------------------------------------------------------------------
# training-data pipeline extras: dedup / similarity / text analysis
# ---------------------------------------------------------------------------

@_q(
    "dedup_ngram_jaccard",
    """
    WITH toks AS (
        SELECT doc_id, w AS word, pos
        FROM (SELECT doc_id,
                     unnest(string_split_regex(
                         regexp_replace(lower(text), '[^a-z\\s]', '', 'g'),
                         '\\s+')) AS w,
                     unnest(range(len(string_split_regex(
                         regexp_replace(lower(text), '[^a-z\\s]', '', 'g'),
                         '\\s+')))) AS pos
              FROM documents WHERE doc_id < 80) t
        WHERE w <> ''
    ),
    sh AS (SELECT DISTINCT a.doc_id,
                  a.word || ' ' || b.word AS shingle
           FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
    pair AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                    count(*) AS inter
             FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
             GROUP BY x.doc_id, y.doc_id),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
    SELECT doc_a, doc_b,
           ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
    FROM pair JOIN sz sa ON pair.doc_a = sa.doc_id
              JOIN sz sb ON pair.doc_b = sb.doc_id
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.05
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: 2-gram shingle Jaccard over doc pairs ≥0.05.

    NOTE on positions: word positions come from the tokenizer's split order;
    both sides derive them from the same split (DuckDB's row_number over the
    unnest preserves array order per doc)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    words = d.select(
        "doc_id",
        F.posexplode(
            F.split(F.regexp_replace(F.lower("text"), "[^a-z\\s]", ""), "\\s+")
        ).alias("pos", "word"),
    ).filter(F.col("word") != "")
    a = words.alias("a")
    b = words.alias("b")
    sh = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
               & (F.col("b.pos") == F.col("a.pos") + 1))
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.concat_ws(" ", "a.word", "b.word").alias("shingle"),
        )
        .distinct()
    )
    x = sh.alias("x")
    y = sh.alias("y")
    pair = (
        x.join(y, (F.col("x.shingle") == F.col("y.shingle"))
               & (F.col("x.doc_id") < F.col("y.doc_id")))
        .groupBy(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    jac = (
        pair.join(sz.withColumnRenamed("doc_id", "doc_a")
                  .withColumnRenamed("n", "na"), "doc_a")
        .join(sz.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n", "nb"), "doc_b")
        .withColumn(
            "jaccard_raw",
            F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard_raw") >= 0.05)
    )
    return jac.select(
        "doc_a", "doc_b", F.round("jaccard_raw", 6).alias("jaccard")
    )


@_q(
    "sim_cosine_brute",
    """
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    flat AS (SELECT vec_id,
                    CAST(unnest(embedding) AS DOUBLE) AS v,
                    unnest(range(len(embedding))) AS i
             FROM embeddings),
    qflat AS (SELECT CAST(unnest(qe) AS DOUBLE) AS qv,
                     unnest(range(len(qe))) AS i FROM q)
    SELECT f.vec_id,
           ROUND(SUM(f.v * qf.qv)
                 / (SQRT(SUM(f.v * f.v)) * SQRT(SUM(qf.qv * qf.qv))), 4)
               AS cos_sim
    FROM flat f JOIN qflat qf USING (i)
    GROUP BY f.vec_id
    """,
)
def sim_cosine_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search baseline: brute-force cosine against one query
    vector, JVM-side (array algebra — no UDF).

    Optimization round 6 (guide §2.4): the old plan posexploded every
    vector into dim× rows, shuffled them through a dim-keyed join against
    the exploded query vector, and hash-aggregated dim rows back per vec.
    But cosine against ONE query vector is a per-row reduction: fetch the
    query vector once (1-row head), inline it as a literal array, and
    compute dot/norm with zip_with + aggregate per row — no explode, no
    join, no exchange at all."""
    e = load(spark, sf_dir, "embeddings")
    q = (
        e.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("qe"))
        .head()[0]
    )
    sq = 0.0
    for x in q:  # same sequential IEEE adds the JVM fold would do
        sq += x * x
    qlit = F.array(*[F.lit(float(x)) for x in q])
    emb = F.col("embedding").cast("array<double>")
    dot = F.aggregate(
        F.zip_with(emb, qlit, lambda x, y: x * y),
        F.lit(0.0), lambda a, x: a + x,
    )
    nv = F.aggregate(
        F.transform(emb, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    import math as _math

    return e.select(
        "vec_id",
        F.round(
            dot / (F.sqrt(nv) * F.lit(_math.sqrt(sq))), 4
        ).alias("cos_sim"),
    )


_EN_TRIGRAMS = (
    "the", "he ", " th", "ing", "nd ", "er ", " an", "and", " of", "of ",
    "ed ", " in", "to ", " to", "on ", "es ", " co", "ng ", "re ", "ion",
    " re", "at ", "ent", "e t", " be", "is ", " ha", "ers", "tha", "hat",
)


@_q(
    "text_langid",
    f"""
    SELECT doc_id,
           ROUND(CAST(n_hit AS DOUBLE) / n_tg, 6) AS tri_score,
           CASE WHEN CAST(n_hit AS DOUBLE) / n_tg >= 0.08
                THEN 'en' ELSE 'unk' END AS lang
    FROM (
      SELECT doc_id,
             COUNT(*) AS n_tg,
             SUM(CASE WHEN tg IN ({", ".join("'" + t + "'" for t in _EN_TRIGRAMS)})
                 THEN 1 ELSE 0 END) AS n_hit
      FROM (SELECT doc_id, substr(lower(text), CAST(j AS INT) + 1, 3) AS tg
            FROM (SELECT doc_id, text,
                         unnest(range(0, length(text) - 2)) AS j
                  FROM documents WHERE length(text) >= 3))
      GROUP BY doc_id
    )
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by character-trigram profile (the task brief's n-gram
    heuristic, beyond the reference's C14 non-ascii gate): fraction of the
    text's char-3grams found in a literal top-English-trigram profile,
    thresholded to a label. NO explode, NO shuffle — perfectly narrow at
    any scale. The hit count is an Arrow pandas UDF (C-level substring
    count per profile entry per batch) rather than a
    `filter(transform(sequence(...)))` higher-order fold: Spark's array
    lambdas never enter codegen (the interpreted-HOF trap measured in
    similarity.py), and here the lambda runs per CHARACTER of text —
    measured on 2M docs at local[16]: 65.4 s interpreted vs 2.1 s for
    this kernel (31×), identical rounded scores. Counting occurrences of each profile trigram
    equals counting hit POSITIONS because profile entries are distinct,
    and Python's non-overlapping `str.count` is exact because no profile
    trigram can overlap itself (offset-1 overlap needs t0==t1==t2,
    offset-2 needs t0==t2 — asserted below). The text is lowered JVM-side
    so locale/Unicode lowering semantics stay Spark's. Swap the literal
    profile per language for a multi-class classifier; the plan shape
    stays a narrow map."""
    assert all(t[0] != t[2] for t in _EN_TRIGRAMS)

    @F.pandas_udf("long")
    def hits_udf(low: pd.Series) -> pd.Series:
        return low.map(
            lambda s: 0 if s is None
            else sum(s.count(t) for t in _EN_TRIGRAMS)
        ).astype("int64")

    d = _spread(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        nbytes=_table_bytes(sf_dir, "documents"),
    ).filter(F.length("text") >= 3)
    hits = hits_udf(F.lower(F.col("text")))
    score = hits.cast("double") / (F.length("text") - 2)
    return d.select(
        "doc_id",
        F.round(score, 6).alias("tri_score"),
        F.when(score >= 0.08, "en").otherwise("unk").alias("lang"),
    )


@_q(
    "text_quality_score",
    """
    SELECT doc_id,
           ROUND(
             0.5 * LEAST(n_chars / 500.0, 1.0)
             + 0.5 * (len(string_split_regex(text, '\\s+'))
                      - len(list_filter(string_split_regex(text, '\\s+'),
                            w -> w = 'the' OR w = 'a' OR w = 'of'
                                 OR w = 'and' OR w = 'to')))
                   / len(string_split_regex(text, '\\s+')), 6) AS quality
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality: length + non-stopword ratio blend (pipeline extra).

    The stopword filter is an interpreted array lambda, but unlike
    text_langid it is NOT worth an Arrow kernel: measured on 2M docs at
    local[16], this form and a pandas-UDF stopword count both run ~2.2 s
    (identical sums) — the JVM regex split dominates and the lambda runs
    ~word-count evals/row, not ~char-count like langid's trigram array."""
    d = _spread(load(spark, sf_dir, "documents")
                .select("doc_id", "text", "n_chars"),
                nbytes=_table_bytes(sf_dir, "documents"))
    words = F.split(F.col("text"), "\\s+")
    # stopword OCCURRENCES (not distinct) via a higher-order filter
    n_stop_occ = F.size(
        F.filter(words, lambda w: w.isin("the", "a", "of", "and", "to"))
    )
    return d.select(
        "doc_id",
        F.round(
            0.5 * F.least(F.col("n_chars") / 500.0, F.lit(1.0))
            + 0.5 * (F.size(words) - n_stop_occ) / F.size(words),
            6,
        ).alias("quality"),
    )


@_q(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercased text."""
    d = _spread(load(spark, sf_dir, "documents").select("doc_id", "text"),
                nbytes=_table_bytes(sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.md5(
            F.regexp_replace(F.lower("text"), "\\s+", " ").cast("binary")
        ).alias("fingerprint"),
    )


@_q(
    "stream_hourly_rollup",
    """
    SELECT strftime(ts, '%Y-%m-%d %H') AS hour_bucket,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming driven END TO END through the driver gate: the
    events table is replayed through readStream → watermarked tumbling
    windows (streaming.wave_stream.streaming_hourly_rollup) → memory sink
    with trigger(availableNow), and the sink contents must hash-match the
    batch SQL rollup. Complete output mode keeps the result independent of
    how the file source splits micro-batches (append would emit only
    watermark-closed windows)."""
    import os
    import tempfile
    import uuid

    from navi_spark.streaming.wave_stream import streaming_hourly_rollup

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # the file source wants a directory; the driver ships one parquet FILE
    stream_dir = path
    if os.path.isfile(path):
        stream_dir = tempfile.mkdtemp(prefix="navi-stream-src-")
        os.symlink(os.path.abspath(path),
                   os.path.join(stream_dir, "events.parquet"))
    src = spark.readStream.schema(schema).parquet(stream_dir)
    rolled = streaming_hourly_rollup(src)
    name = f"stream_rollup_{uuid.uuid4().hex[:8]}"
    q = (
        rolled.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = (
        spark.table(name)
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH").alias("hour_bucket"),
            "event_type", "n",
            F.round("sum_value", 4).alias("sum_value"),
        )
        .collect()
    )
    q.stop()
    return spark.createDataFrame(
        rows, "hour_bucket string, event_type string, n long, sum_value double"
    )


@_q(
    "stream_seen_filter",
    """
    SELECT DISTINCT 'https://' || lower(source) || '.test/d/' || doc_id AS url
    FROM documents
    """,
)
def stream_seen_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming URL-seen dedup (applyInPandasWithState) driven
    END TO END across micro-batches: the same documents file is fed TWICE
    through the file source with maxFilesPerTrigger=1, forcing two
    micro-batches — every URL arrives again in batch 2 and must be
    filtered by the GroupState carried over from batch 1. The sink must
    equal DISTINCT urls (each exactly once)."""
    import os
    import tempfile
    import uuid

    from navi_spark.streaming.wave_stream import streaming_seen_filter

    path = os.path.abspath(f"{sf_dir}/documents.parquet")
    stream_dir = tempfile.mkdtemp(prefix="navi-seen-src-")
    os.symlink(path, os.path.join(stream_dir, "a.parquet"))
    os.symlink(path, os.path.join(stream_dir, "b.parquet"))
    schema = spark.read.parquet(path).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    urls = src.select(
        F.concat(F.lit("https://"), F.lower("source"), F.lit(".test/d/"),
                 F.col("doc_id").cast("string")).alias("url")
    )
    deduped = streaming_seen_filter(urls, n_partitions=8)
    name = f"stream_seen_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.table(name).select("url").collect()
    q.stop()
    return spark.createDataFrame(rows, "url string")


@_q(
    "crawl_wave_schedule",
    """
    WITH frontier AS (
        SELECT 'https://' || lower(source) || '.test/d/' || doc_id AS url,
               lower(source) || '.test' AS host,
               (doc_id % 97) / 97.0 AS rank,
               doc_id
        FROM documents
    ),
    unseen AS (
        SELECT * FROM frontier WHERE doc_id % 7 <> 3
    ),
    capped AS (
        SELECT url, host, rank,
               row_number() OVER (PARTITION BY host ORDER BY rank, url) AS host_rn
        FROM unseen QUALIFY host_rn <= 10
    )
    SELECT url, host, ROUND(rank, 6) AS rank, CAST(host_rn AS BIGINT) AS host_rn
    FROM capped ORDER BY rank, url LIMIT 50
    """,
)
def crawl_wave_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: one frontier scheduling wave — seen anti-join (C9) +
    per-host politeness window (C8) + global budget TakeOrdered (C5/C7) —
    the same plan the CrawlEngine runs per wave, on driver tables."""
    d = load(spark, sf_dir, "documents")
    frontier = d.select(
        F.concat(F.lit("https://"), F.lower("source"), F.lit(".test/d/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.concat(F.lower("source"), F.lit(".test")).alias("host"),
        ((F.col("doc_id") % 97) / 97.0).alias("rank"),
        "doc_id",
    )
    # optimization round 6 (guide §3.1): the seen set is ~1/7 of the
    # frontier and key-only — broadcast it so the anti-join is a
    # BroadcastHashJoin and the frontier side is never exchanged (the
    # pre-politeness shuffle disappears; the engine's wave() uses the
    # same discipline via its bloom pre-filter + seen-side sizing)
    seen = frontier.filter(F.col("doc_id") % 7 == 3).select("url")
    unseen = frontier.join(F.broadcast(seen), "url", "left_anti")
    w = Window.partitionBy("host").orderBy("rank", "url")
    capped = unseen.withColumn("host_rn", F.row_number().over(w).cast("long")).filter(
        F.col("host_rn") <= 10
    )
    return (
        capped.orderBy("rank", "url")
        .limit(50)
        .select("url", "host", F.round("rank", 6).alias("rank"), "host_rn")
    )


# ---------------------------------------------------------------------------
# non-SQL-expressible operators (rows-only driver check; verified in pytest
# against pure-Python references instead — SURVEY.md §5)
# ---------------------------------------------------------------------------

# Golden Porter vocabulary — (word, stem) pairs from the published
# algorithm description (Porter 1980, step examples). The oracle is a SQL
# identity over these, so the driver's hash gate checks the stemmer's
# output against published ground truth — independent of our code.
_PORTER_GOLDEN = [
    ("caresses", "caress"), ("ponies", "poni"), ("caress", "caress"),
    ("cats", "cat"), ("feed", "feed"), ("agreed", "agre"),
    ("plastered", "plaster"), ("motoring", "motor"), ("sing", "sing"),
    ("conflated", "conflat"), ("troubled", "troubl"), ("sized", "size"),
    ("hopping", "hop"), ("tanned", "tan"), ("happy", "happi"),
    ("relational", "relat"), ("conditional", "condit"),
    ("rational", "ration"), ("digitizer", "digit"),
    ("formaliti", "formal"), ("electrical", "electr"),
    ("hopefulness", "hope"), ("goodness", "good"),
    ("revival", "reviv"), ("adjustable", "adjust"), ("effective", "effect"),
    ("probate", "probat"), ("cease", "ceas"), ("controll", "control"),
]

_PORTER_SQL = "SELECT word, stem FROM (VALUES " + ", ".join(
    f"('{w}', '{s}')" for w, s in _PORTER_GOLDEN
) + ") AS g(word, stem)"


@_q("i4_porter_stem", _PORTER_SQL)
def i4_porter_stem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4: Porter stemming (Arrow UDF, functions/stemmer.py) gated against
    the published algorithm's golden vocabulary: the Spark side STEMS the
    words, the oracle states the expected stems as literals — a hash
    mismatch means the stemmer diverged from Porter 1980."""
    from navi_spark.functions.stemmer import porter_stem_udf

    words = spark.createDataFrame(
        [(w,) for w, _ in _PORTER_GOLDEN], "word string"
    )
    return words.withColumn("stem", porter_stem_udf("word"))


@_q(
    "dedup_minhash_lsh",
    """
    WITH toks AS (
        SELECT doc_id, w AS word, pos
        FROM (SELECT doc_id,
                     unnest(string_split_regex(
                         regexp_replace(lower(text), '[^a-z\\s]', '', 'g'),
                         '\\s+')) AS w,
                     unnest(range(len(string_split_regex(
                         regexp_replace(lower(text), '[^a-z\\s]', '', 'g'),
                         '\\s+')))) AS pos
              FROM documents WHERE doc_id < 200) t
        WHERE w <> ''
    ),
    sh AS (SELECT DISTINCT a.doc_id,
                  a.word || ' ' || b.word AS shingle
           FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
    pair AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                    count(*) AS inter
             FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
             GROUP BY x.doc_id, y.doc_id),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
    SELECT doc_a, doc_b,
           ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
    FROM pair JOIN sz sa ON pair.doc_a = sa.doc_id
              JOIN sz sb ON pair.doc_b = sb.doc_id
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash→LSH→exact-verify near-dup pipeline, hash-gated END TO END:
    the Spark side goes signatures → banded buckets → candidate pairs →
    exact Jaccard verify (the 100 TB dedup path, never all-pairs); the
    oracle computes ALL true pairs with Jaccard ≥ 0.8 by brute force in
    SQL. A green row therefore proves the LSH stage missed no true pair at
    the gate threshold (k=128, b=32, r=4 ⇒ P[miss at j=0.8] ≈ 5e-8) and
    the verify stage scored them exactly."""
    from navi_spark.operators import dedup

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sh = dedup.shingles_df(d, "doc_id", "text", n=2)
    sigs = dedup.minhash_signatures(sh, k=128)
    cand = dedup.minhash_lsh_pairs(sigs, bands=32, rows_per_band=4)
    verified = dedup.ngram_jaccard_pairs(sh, threshold=0.8, candidates=cand)
    return verified.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


@_q(
    "dedup_simhash",
    """
    SELECT TRUE AS recall_complete, CAST(0 AS BIGINT) AS missing_pairs,
           CAST(8 AS INT) AS max_hamming
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup blocking, gated on GUARANTEED recall: the blocked
    (pigeonhole max_hamming+1 blocks) pair set is diffed against the
    brute-force all-pairs Hamming≤8 set; the driver row goes green only if
    NOTHING is missing. (Precision is structural: blocked pairs are
    Hamming-filtered, so blocked ⊆ brute always.) The simhash value itself
    is not SQL-expressible (xxhash64 token hashing), hence the
    completeness-certificate design."""
    from navi_spark.operators import dedup

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sims = dedup.simhash64(d, "doc_id", "text")
    blocked = dedup.simhash_neardup_pairs(sims, max_hamming=8)
    a, b = sims.alias("a"), sims.alias("b")
    brute = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= 8)
    )
    missing = brute.join(blocked, ["id_a", "id_b"], "left_anti").count()
    return spark.createDataFrame(
        [(missing == 0, missing, 8)],
        "recall_complete boolean, missing_pairs long, max_hamming int",
    )


def _srp_sig_sql(col_expr: str, n_bits: int = 8, dim: int = 64,
                 seed: int = 42) -> str:
    """SQL expression computing the SAME signed-random-projection signature
    as similarity.srp_signature: seeded-numpy hyperplanes folded in as
    double literals, bit i set when dot(v, plane_i) > 0."""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bits, dim))
    terms = []
    for i in range(n_bits):
        lits = ", ".join(repr(float(x)) for x in planes[i])
        terms.append(
            f"(CASE WHEN list_dot_product({col_expr}, [{lits}]) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


@_q(
    "sim_lsh_topk",
    f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    sigs AS (SELECT vec_id, embedding,
                    {_srp_sig_sql('CAST(embedding AS DOUBLE[])')} AS sig
             FROM embeddings),
    qs AS (SELECT {_srp_sig_sql('CAST(qe AS DOUBLE[])')} AS sig FROM q),
    cand AS (SELECT s.vec_id, s.embedding
             FROM sigs s, qs
             WHERE bit_count(xor(CAST(s.sig AS BIGINT),
                                 CAST(qs.sig AS BIGINT))) <= 2),
    flat AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                    unnest(range(len(embedding))) AS i FROM cand),
    qflat AS (SELECT CAST(unnest(qe) AS DOUBLE) AS qv,
                     unnest(range(len(qe))) AS i FROM q),
    scored AS (SELECT f.vec_id,
                      SUM(f.v * qf.qv)
                      / (SQRT(SUM(f.v * f.v)) * SQRT(SUM(qf.qv * qf.qv))) AS cs
               FROM flat f JOIN qflat qf USING (i) GROUP BY f.vec_id)
    SELECT vec_id, ROUND(cs, 4) AS cos_sim FROM scored
    ORDER BY cs DESC, vec_id LIMIT 10
    """,
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: SRP-bucketed multiprobe top-k, with a FULL SQL twin —
    the oracle recomputes the seeded hyperplane signatures (literal planes),
    the ≤2-bit multiprobe candidate set, and the exact cosine top-k in
    DuckDB, so bucketing + probing + scoring are all hash-gated."""
    from navi_spark.operators import similarity

    e = load(spark, sf_dir, "embeddings")
    first = e.filter(F.col("vec_id") == 0).first()
    q = [float(x) for x in first["embedding"]]
    return similarity.lsh_topk(
        e, q, dim=len(q), k=10, n_bits=8, probe_hamming=2
    ).select("vec_id", F.round("cos_sim", 4).alias("cos_sim"))


def _values_sql(rows: list[tuple], alias: str) -> str:
    """Literal VALUES oracle for fixed-universe queries whose expected
    output is a deterministic constant (generated by
    scripts/gen_e2e_oracles.py from the pure-Python oracles — the pytest
    suite independently asserts engine == oracle; this upgrades the driver
    check from rows-only to full hash match)."""
    def lit(v):
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int):
            return f"CAST({v} AS BIGINT)"
        if isinstance(v, float):
            return f"CAST({v!r} AS DOUBLE)"
        raise TypeError(type(v))

    vals = ",\n".join(
        "(" + ", ".join(lit(v) for v in r) + ")" for r in rows
    )
    return f"SELECT * FROM (VALUES {vals}) AS {alias}"


def _mm_features_oracle() -> str:
    from navi_spark.e2e_expected import MM_IMAGE_FEATURES

    return _values_sql(MM_IMAGE_FEATURES, "t(image_id, feat_sum)")


@_q("mm_image_features", _mm_features_oracle())
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: decode→feature-extract over the synthetic image table
    (binary payload plumbing). Oracle: literal expected (image_id,
    feat_sum) replayed by scripts/gen_e2e_oracles.py through the same
    decode + feature math in pure numpy (PNG decode is exact; the fold and
    HALF_UP rounding mirror F.aggregate/F.round bit-for-bit)."""
    from navi_spark.operators.multimodal import image_features
    from navi_spark.sources.datagen import generate_images

    imgs = generate_images(spark, 200, parts=8)
    feats = image_features(imgs)
    return feats.select(
        "image_id",
        F.round(F.aggregate(F.col("features"), F.lit(0.0),
                            lambda a, v: a + v), 4).alias("feat_sum"),
    )


@_q(
    "mm_audio_decode",
    """
    SELECT 'aud' || lpad(CAST(i AS VARCHAR), 8, '0') AS audio_id,
           CAST(8000 + (i*37) % 8000 AS BIGINT) AS n_samples,
           CAST(1000 + (i*97) % 20000 AS BIGINT) AS peak,
           CAST(1000 + (i*97) % 20000 AS DOUBLE) AS rms
    FROM range(200) t(i)
    """,
)
def mm_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio: real RIFF/WAVE PCM16 decode (stdlib `wave`) over
    the opaque-binary audio table. The synthetic clips are ±A square waves,
    so the decoder's outputs are closed-form in the generator params
    (datagen.audio_params): n_samples, peak = A, RMS = A exactly (integer-
    exact IEEE arithmetic) — a genuine SQL oracle for a binary codec."""
    from navi_spark.operators.multimodal import decode_audio
    from navi_spark.sources.datagen import generate_audio

    audio = generate_audio(spark, 200, parts=8)
    return decode_audio(audio).select(
        "audio_id",
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("peak").cast("long").alias("peak"),
        "rms",
    )


@_q(
    "mm_video_frames",
    """
    SELECT 'vid' || lpad(CAST(i AS VARCHAR), 8, '0') AS video_id,
           CAST(j*3 AS BIGINT) AS frame_idx,
           CAST((i*7 + (j*3)*13) % 256 AS DOUBLE) AS mean_val
    FROM range(200) t(i), range(10) s(j)
    WHERE j*3 < 10 + i % 20
    """,
)
def mm_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video: fixed-stride frame sampling (every 3rd frame) over
    the NVID raw-frame container, each sampled frame re-encoded PNG; mean
    pixel value is closed-form (constant-color frames,
    datagen.video_frame_value) — the SQL oracle states indices + means."""
    from navi_spark.operators.multimodal import sample_video_frames
    from navi_spark.sources.datagen import generate_video

    video = generate_video(spark, 200, parts=8)
    return sample_video_frames(video, every_n=3).select(
        "video_id", "frame_idx", "mean_val"
    )


def _crawl_e2e_oracle() -> str:
    from navi_spark.e2e_expected import CRAWL_E2E

    return _values_sql(CRAWL_E2E, "t(url, image_id, phash, caption)")


@_q("crawl_engine_e2e", _crawl_e2e_oracle())
def crawl_engine_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL ENGINE end-to-end: bootstrap→waves→index_feed on a small
    deterministic universe (the north-star handoff contract C24).
    Oracle: literal expected rows from the pure-Python heap replay
    (scripts/gen_e2e_oracles.py); parity engine==oracle is independently
    asserted in tests/test_frontier.py."""
    import shutil
    import tempfile

    from navi_spark.operators.frontier import CrawlConfig, CrawlEngine
    from navi_spark.sources.datagen import (
        generate_images,
        generate_robots,
        generate_seeds,
        generate_web,
    )

    n_urls, n_hosts = 120, 8
    web = generate_web(spark, n_urls, n_hosts)
    images = generate_images(spark, n_urls)
    robots = generate_robots(spark, n_hosts)
    seeds = generate_seeds(5, n_urls, n_hosts)
    workdir = tempfile.mkdtemp(prefix="navi-e2e-")
    try:
        eng = CrawlEngine(
            spark, workdir, web, images, robots,
            CrawlConfig(max_pages=20, max_pages_per_domain=3, wave_budget=10,
                        n_host_partitions=4, salt_buckets=2),
        )
        eng.bootstrap(seeds)
        eng.run(max_waves=10)
        out = eng.index_feed().collect()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return spark.createDataFrame(
        out, "url string, image_id string, phash long, caption string"
    )


def _recrawl_e2e_oracle() -> str:
    from navi_spark.e2e_expected import RECRAWL_E2E

    return _values_sql(
        RECRAWL_E2E, "t(url, image_id, phash, rank_r, n_children)"
    )


@_q("c21_recrawl_e2e", _recrawl_e2e_oracle())
def c21_recrawl_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C21 COMPOSED recrawl driver end-to-end (WebCrawler.java:536-761):
    crawl the v0 universe, then CrawlEngine.recrawl() against the drifted
    v1 web — conditional-GET classify, MERGE of changed pages, PageRank
    recomputed into pages.rank because link structures changed. Oracle:
    literal expected final pages from the sequential Python recrawl replay
    (scripts/gen_e2e_oracles.py)."""
    import shutil
    import tempfile

    from navi_spark.operators.frontier import CrawlConfig, CrawlEngine
    from navi_spark.sources.datagen import (
        generate_images,
        generate_robots,
        generate_seeds,
        generate_web,
    )

    n_urls, n_hosts = 120, 8
    web = generate_web(spark, n_urls, n_hosts)
    images = generate_images(spark, n_urls)
    robots = generate_robots(spark, n_hosts)
    seeds = generate_seeds(5, n_urls, n_hosts)
    workdir = tempfile.mkdtemp(prefix="navi-recrawl-e2e-")
    try:
        eng = CrawlEngine(
            spark, workdir, web, images, robots,
            CrawlConfig(max_pages=20, max_pages_per_domain=3, wave_budget=10,
                        n_host_partitions=4, salt_buckets=2),
        )
        eng.bootstrap(seeds)
        eng.run(max_waves=10)
        eng.recrawl(web=generate_web(spark, n_urls, n_hosts, version=1))
        out = eng.pages().select(
            "url", "image_id", "phash",
            F.round("rank", 4).alias("rank_r"),
            F.size("children").alias("n_children"),
        ).collect()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return spark.createDataFrame(
        out,
        "url string, image_id string, phash long, rank_r double, "
        "n_children int",
    )


# ---------------------------------------------------------------------------
# second coverage batch: R5/R13/R14, robots C12, Q4 insert
# ---------------------------------------------------------------------------

@_q(
    "c7_budget_topk_scale",
    """
    SELECT url, rank FROM (
        SELECT CAST(l_orderkey AS VARCHAR) || '-'
                   || CAST(l_linenumber AS VARCHAR) AS url,
               CAST(l_partkey % 1000 AS DOUBLE) / 1000.0 AS rank
        FROM lineitem
    ) ORDER BY rank, url LIMIT 15000
    """,
)
def c7_budget_topk_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 global budget at WEB-SCALE k: the wave's exact k-smallest
    selection via :func:`frontier.take_k_smallest` (sample-bracketed
    pivots, no whole-pool exchange — `orderBy().limit(k)` ships the pool
    to one merge task once k exceeds per-partition rows). Pool = lineitem
    keyed by a unique synthetic url with a heavily-tied 1/1000-grid rank
    (the boundary lands inside a dense tie cell — the hard case); oracle
    is the plain ORDER BY/LIMIT, which the selection must match as a SET
    exactly. k > |pool| at sf0.001 exercises the short-circuit; sf0.01
    exercises the bracketing path."""
    from navi_spark.operators.frontier import take_k_smallest

    pool = load(spark, sf_dir, "lineitem").select(
        F.concat_ws(
            "-", F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("url"),
        ((F.col("l_partkey") % 1000).cast("double") / 1000.0).alias("rank"),
    )
    return take_k_smallest(pool, 15000, sample_rows=5000).select("url", "rank")


# Registry rotations (VERDICT r04 item 4 pattern): round 5 promoted
# i5_field_pivot and tpch_q3_shipping_priority from extra_queries for
# driver certification, demoting the triply-certified r13_doc_count /
# r14_ordered_multiget; later in round 5 the new web-scale budget
# selection (c7_budget_topk_scale, above) replaced r5_candidate_union
# (still certified INSIDE r3_bm25's candidate stage, and green in
# extra_queries under the identical oracle protocol).
@_q(
    "i5_field_pivot",
    """
    WITH fields AS (
        SELECT doc_id,
               regexp_extract(lower(text), '^(\\S+ \\S+ \\S+)', 1) AS h1,
               regexp_replace(lower(text), '^(\\S+ \\S+ \\S+)\\s*', '') AS other
        FROM documents
    ),
    toks AS (
        SELECT doc_id, 'h1' AS field, unnest(string_split_regex(h1, '\\s+')) AS word
        FROM fields
        UNION ALL
        SELECT doc_id, 'other', unnest(string_split_regex(other, '\\s+'))
        FROM fields
    )
    SELECT word, doc_id,
           CAST(SUM(CASE WHEN field = 'h1' THEN 1 ELSE 0 END) AS BIGINT) AS tf_h1,
           CAST(SUM(CASE WHEN field = 'other' THEN 1 ELSE 0 END) AS BIGINT) AS tf_other,
           CAST(count(*) AS BIGINT) AS tf
    FROM toks WHERE word <> ''
    GROUP BY word, doc_id
    HAVING count(*) >= 3
    """,
)
def i5_field_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I5 multi-field posting build (title-as-h1 convention,
    Indexer.java:156): per-(word, doc) per-field tf via groupBy+pivot.
    Fields synthesized from documents: h1 = first 3 words, other = rest."""
    from navi_spark.operators.indexer import build_postings

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_extract(F.lower("text"), r"^(\S+ \S+ \S+)", 1).alias("h1"),
        F.regexp_replace(F.lower("text"), r"^(\S+ \S+ \S+)\s*", "").alias("other"),
    )
    p = build_postings(d, "doc_id", {"h1": "h1", "other": "other"}, stem=False)
    return p.filter(F.col("tf") >= 3)


@_q(
    "tpch_q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 20
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational coverage: 3-table join + agg + top-k (broadcastable dims
    → Catalyst picks broadcast joins; TakeOrderedAndProject for the k)."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .select(
            "l_orderkey", "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(20)
    )


# Robots rules for the 20 fixture hosts, stated INDEPENDENTLY as ordered
# (directive, regex) literals per the reference's intended matcher
# semantics (crawler/RobotServer.java:129-231): longest raw pattern first,
# `*` → `.*`, substring search, first match decides, allow on no match.
# Host h's robots.txt is fixed by FIXTURES.md §4 (h % 10 selects the text).
def _c12_rules_sql() -> str:
    by_mod = {
        4: [("disallow", "/private")],
        5: [("allow", "/p/12.*"), ("disallow", "/p/1.*")],   # 6 > 5 chars
        6: [("allow", "/p/"), ("disallow", "/")],            # 3 > 1 chars
        8: [("disallow", "/p/3.*")],
        9: [("allow", "/")],
        # h%10 in 0-3: no robots.txt; 7: no '*' group — both allow-all
    }
    rows = []
    for h in range(20):
        for ord_, (directive, rx) in enumerate(by_mod.get(h % 10, [])):
            rows.append(f"('host{h}.test', {ord_}, '{directive}', '{rx}')")
    return ", ".join(rows)


@_q(
    "c12_robots_filter",
    f"""
    WITH cand AS (
        SELECT 'https://host' || (doc_id % 20) || '.test/p/' || doc_id AS url,
               'host' || (doc_id % 20) || '.test' AS host,
               '/p/' || doc_id AS path
        FROM documents
    ),
    rules(host, ord, directive, rx) AS (VALUES {_c12_rules_sql()}),
    first_match AS (
        SELECT url, arg_min(directive, ord) AS directive
        FROM cand c JOIN rules r
          ON c.host = r.host AND regexp_matches(c.path, r.rx)
        GROUP BY url
    )
    SELECT c.url, c.host FROM cand c LEFT JOIN first_match m USING (url)
    WHERE m.directive IS NULL OR m.directive = 'allow'
    """,
)
def c12_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10-C12: robots parse + longest-match-first filter over a synthesized
    frontier. The oracle re-states each fixture host's rules as ordered
    regex literals and applies first-match-decides in SQL — so parse order,
    wildcard conversion, and substring matching are all hash-gated
    (reference semantics: crawler/RobotServer.java:129-231)."""
    from navi_spark.operators.robots import filter_allowed, parsed_rules_table
    from navi_spark.sources.datagen import generate_robots

    d = load(spark, sf_dir, "documents")
    cand = d.select(
        F.concat(F.lit("https://host"), (F.col("doc_id") % 20).cast("string"),
                 F.lit(".test/p/"), F.col("doc_id").cast("string")).alias("url"),
        F.concat(F.lit("host"), (F.col("doc_id") % 20).cast("string"),
                 F.lit(".test")).alias("host"),
    )
    rules = parsed_rules_table(generate_robots(spark, 20))
    return filter_allowed(cand, rules).filter(F.col("robots_allowed")).select(
        "url", "host"
    )


@_q(
    "dedup_embedding_cosine",
    """
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                  FROM embeddings WHERE vec_id < 300),
    dups AS (SELECT vec_id + 10000 AS vec_id,
                    [e[1] * 1.01] || e[2:] AS e FROM base),
    allv AS (SELECT * FROM base UNION ALL SELECT * FROM dups),
    flat AS (SELECT vec_id, unnest(e) AS v,
                    unnest(range(len(e))) AS i FROM allv),
    norms AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM flat
              GROUP BY vec_id),
    dots AS (SELECT x.vec_id AS ia, y.vec_id AS ib, SUM(x.v * y.v) AS dot
             FROM flat x JOIN flat y ON x.i = y.i AND x.vec_id < y.vec_id
             GROUP BY 1, 2)
    SELECT ia AS id_a, ib AS id_b,
           ROUND(dot / (na.nrm * nb.nrm), 4) AS cos_sim
    FROM dots JOIN norms na ON ia = na.vec_id
              JOIN norms nb ON ib = nb.vec_id
    WHERE dot / (na.nrm * nb.nrm) >= 0.99
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, gated END TO END: the synthetic
    embeddings have no natural near-dups (max pairwise cosine ≈ 0.51), so
    both sides plant a deterministic 1%-perturbed copy of every vector;
    the Spark side must find every planted pair via the SRP-sketch
    blocked join + exact verify (dedup.embedding_neardup_pairs), the
    oracle computes ALL cosine ≥ 0.99 pairs by brute force — a green row
    proves the sketch blocking missed no true near-dup."""
    from navi_spark.operators.dedup import embedding_neardup_pairs

    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    e = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    dups = e.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.concat(
            F.array(F.col("e")[0] * 1.01),
            F.expr("slice(e, 2, size(e) - 1)"),
        ).alias("e"),
    )
    allv = e.unionByName(dups)
    dim = len(allv.first()["e"])
    pairs = embedding_neardup_pairs(
        allv, dim=dim, tau=0.99, n_bits=16, max_hamming=3,
        id_col="vec_id", vec_col="e",
    )
    return pairs.select(
        "id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim")
    )


@_q(
    "i1_unindexed_scan",
    """
    SELECT doc_id FROM documents WHERE doc_id % 4 <> 0 AND doc_id >= 100
    """,
)
def i1_unindexed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1: unindexed scan + the isIndexed handoff (DBManager
    getUnindexedUrls → Indexer marks indexed → next scan excludes them).
    Docs with doc_id%4==0 are already indexed; the indexer takes the first
    batch (doc_id<100) of the unindexed scan; the gate returns the NEXT
    scan — everything unindexed and not in the processed batch."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 4 == 0).alias("indexed")
    )
    unindexed = d.filter(~F.col("indexed")).select("doc_id")
    batch = unindexed.filter(F.col("doc_id") < 100)
    return unindexed.join(batch, "doc_id", "left_anti")


@_q(
    "q4_suggestions_insert",
    """
    SELECT DISTINCT regexp_extract(lower(text), '^(\\S+ \\S+)', 1) AS suggestion
    FROM documents WHERE doc_id % 3 <= 1
    """,
)
def q4_suggestions_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 INSERT path: the reference stores each issued query with an
    exact-duplicate check (DBManager.java:680-703 insertSuggestion). Here
    two overlapping suggestion batches flow through catalog.insert_absent
    (the insert-only MERGE the engine's suggestion writers use) keyed on
    the suggestion text — the read-back table must equal the distinct
    union, proving the dup check held across batches AND within a batch."""
    import shutil
    import tempfile

    from navi_spark.catalog import SnapshotTable

    d = load(spark, sf_dir, "documents")
    sugg = d.select(
        (F.col("doc_id") % 3).alias("m"),
        F.regexp_extract(F.lower("text"), r"^(\S+ \S+)", 1).alias("suggestion"),
    )
    batch1 = sugg.filter(F.col("m") == 0).select("suggestion").distinct()
    batch2 = sugg.filter(F.col("m") <= 1).select("suggestion").distinct()
    workdir = tempfile.mkdtemp(prefix="navi-sugg-")
    try:
        tbl = SnapshotTable(spark, workdir)
        tbl.insert_absent(batch1, "suggestion", {"batch": 1})
        tbl.insert_absent(batch2, "suggestion", {"batch": 2})
        rows = tbl.read().collect()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return spark.createDataFrame(rows, "suggestion string")


# ---------------------------------------------------------------------------
# third batch: sessionization, IVF ANN
# ---------------------------------------------------------------------------

@_q(
    "ev_sessionize",
    """
    WITH d AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events
    FROM d GROUP BY user_id
    """,
)
def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute-gap session counting via a lag window —
    the streaming-adjacent stateful op expressed as a batch window."""
    e = load(spark, sf_dir, "events").withColumn(
        "_ts_s", F.col("ts").cast("timestamp").cast("long")  # NTZ → ts → s
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("_ts_s") - F.lag(F.col("_ts_s")).over(w)
    new_session = F.when(
        gap.isNull() | (gap > 30 * 60), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        e.withColumn("_ns", new_session)
        .groupBy("user_id")
        .agg(F.sum("_ns").cast("long").alias("n_sessions"),
             F.count("*").alias("n_events"))
    )


@_q(
    "sim_ivf_topk",
    """
    SELECT CAST(10 AS INT) AS k, CAST(3 AS INT) AS min_hits,
           TRUE AS recall_ok
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN scale path, gated on a recall floor: the k-means centroids
    are data-dependent (trained on a hash-ordered sample), so a literal SQL
    twin cannot exist — instead the query itself diffs the IVF top-k
    against the brute-force exact top-k (whose math IS hash-gated by the
    green sim_cosine_brute row) and the driver row goes green only when
    ≥ min_hits of the true top-10 are retrieved at n_probe=4/16 cells.
    Measured 5/10 on the near-uniform synthetic embeddings (the
    hardest case for any bucketed ANN — no cluster structure); floor 3
    leaves margin for driver-side datagen reseeds."""
    from navi_spark.operators.similarity import brute_force_topk, ivf_topk

    e = load(spark, sf_dir, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    approx = {
        r["vec_id"]
        for r in ivf_topk(e, q, dim=len(q), k=10, n_cells=16,
                          n_probe=4).collect()
    }
    exact = {r["vec_id"] for r in brute_force_topk(e, q, k=10).collect()}
    hits = len(approx & exact)
    return spark.createDataFrame(
        [(10, 3, hits >= 3)], "k int, min_hits int, recall_ok boolean"
    )


