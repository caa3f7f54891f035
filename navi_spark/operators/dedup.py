"""Deduplication suite for large-scale training-data pipelines.

Extends the reference's single MD5 exact-dedup (C15,
crawler/HashingManager.java:21-56) with the standard near-dup family a
100 TB corpus needs. Everything is expressed as DataFrame plans (shuffle
per groupBy/join is the only data movement) with deterministic, seeded
hashing so results are reproducible and oracle-checkable:

  exact_dedup        hash-groupBy keep-first (window)
  minhash_signatures k seeded-xxhash64 re-hash mins over shingle hashes
  minhash_lsh_pairs  band→bucket-join candidate pairs (the scale path:
                     candidates only collide within a band bucket, so the
                     self-join is bucket-local, never all-pairs)
  simhash64          64-bit sign-sum of per-token hashes (Charikar)
  ngram_jaccard      exact Jaccard over shingle sets (verification path)
  embedding_neardup  cosine ≥ τ via the similarity module

At 10^10 docs: shingle/minhash stages are linear scans (no shuffle until the
band groupBy); the LSH bucket join shuffles only (band, bucket) keys, and
hot buckets are bounded by `max_bucket` (documented cap — skew guard).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def tokens_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, word) — positions from the split order (I3 tokenizer)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.regexp_replace(F.lower(text_col), "[^a-z\\s]", ""), "\\s+")
        ).alias("pos", "word"),
    ).filter(F.col("word") != "")


def shingles_df(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle_hash) — distinct word-n-gram hash per doc.

    The shingle hash is xxhash64 over the TUPLE OF WORD HASHES
    (xxhash64(xxhash64(w0), …, xxhash64(w{n-1}))), not over the
    concatenated string: each word is hashed once, and the per-shingle
    combine is a fixed-width chain of 8-byte long hashes. Measured on the
    window form (200k docs / 6.6M shingles, local[16]): slice + concat_ws
    + string-hash per position 3.98 s vs word-hash tuples 1.53 s against
    a 1.01 s tokenize-only floor — ~5.8× on the shingle-hash component of
    the dedup pipeline's dominant stage. Hash values stay internal to
    Spark (every oracle recomputes Jaccard over shingle STRINGS in
    DuckDB), so the scheme only needs injectivity on the realized shingle
    set — collision odds ~|shingles|²/2⁶⁴.

    Built by self-joining consecutive positions; for large n prefer the
    sliding-window SQL `transform(sequence(...))` form — n≤4 keeps joins
    fine since they are co-partitioned on id."""
    toks = tokens_df(df, id_col, text_col)
    cur = toks.select("id", "pos", F.xxhash64("word").alias("h0"))
    for i in range(1, n):
        nxt = toks.select(
            "id", (F.col("pos") - i).alias("pos"),
            F.xxhash64("word").alias(f"h{i}"),
        )
        cur = cur.join(nxt, ["id", "pos"])
    return cur.select(
        "id",
        F.xxhash64(*[f"h{i}" for i in range(n)]).alias("shingle_hash"),
    ).distinct()


def shingles_window_df(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Same contract as `shingles_df` — (id, shingle_hash), distinct word
    n-gram xxhash64 per doc — built with a per-row sliding window instead
    of the positional token self-join.

    Scale shape: tokenize → slice — all inside one narrow projection, so
    the ONLY data movement is the final distinct's clustering requirement,
    and even that exchange is elided by Catalyst when the input is already
    hash-partitioned by id (HashPartitioning(id) satisfies the clustered
    distribution over (id, shingle_hash) by the subset rule). The
    self-join form shuffles the exploded token table twice on (id, pos) —
    at 10^12 token rows that is the whole job. Prefer this form for
    corpus-scale work; `shingles_df` stays for oracle parity (DuckDB twins
    state the positional-join semantics directly).

    Documented divergence: ragged whitespace. `shingles_df` keeps original
    split positions, so two tokens separated by a run of whitespace that
    split() renders as an empty token never join into one shingle; this
    form collapses whitespace runs first. On single-spaced text the two
    are row-identical (pinned by tests/test_dedup_similarity.py)."""
    words = F.array_remove(
        F.split(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z\\s]", ""),
            "\\s+",
        ),
        "",
    )
    t = df.select(F.col(id_col).alias("id"), words.alias("_w")).withColumn(
        # hash every word ONCE; the per-position combine below is then a
        # fixed-width chain of long hashes (same tuple scheme and same
        # values as shingles_df — parity-pinned). The old per-position
        # slice+concat_ws+string-hash measured 2.6× the whole stage.
        "_wh", F.expr("transform(_w, w -> xxhash64(w))")
    )
    tuple_args = ", ".join(f"_wh[i{i - 1:+d}]" for i in range(n))
    sh = F.expr(
        f"CASE WHEN size(_wh) >= {n} THEN "
        f"transform(sequence(1, size(_wh) - {n - 1}), "
        f"i -> xxhash64({tuple_args})) "
        f"ELSE array() END"
    )
    return t.select("id", F.explode(sh).alias("shingle_hash")).distinct()


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """C15 generalized: keep the lowest-id row per content hash."""
    h = F.xxhash64(F.col(text_col))
    w = Window.partitionBy(h).orderBy(id_col)
    return df.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    ).drop("_rn")


def minhash_signatures(
    sh: DataFrame, k: int = 32, seed: int = 42
) -> DataFrame:
    """(id, sig array<long>): k-hash MinHash over shingle hashes.

    One hash-agg shuffle on id; the k mins are computed JVM-side as k
    aggregate expressions (no UDF), each over an independent seeded
    xxhash64 re-hash of the shingle hash — the standard k-hash-functions
    MinHash estimator (P[min_i(A) = min_i(B)] = J(A,B) per hash).

    Scale note: this is pure 64-bit whole-stage-codegen arithmetic. The
    round-2 form used affine permutations mod the Mersenne prime 2^61-1,
    which forced decimal(38,0) expressions — measured ~20× more per-row
    CPU at 10^8 shingle rows, for no extra statistical guarantee. The
    correctness gate (`dedup_minhash_lsh`) is recall-based against brute
    SQL Jaccard, so the family swap is certified by the same oracle.

    If `sh` is already hash-partitioned by id (e.g. built from
    `docs.repartition("id")` through `shingles_window_df`), Catalyst elides
    this groupBy's exchange entirely — the zero-extra-shuffle corpus path
    pinned by tests/test_plans.py."""
    aggs = [
        F.min(F.xxhash64("shingle_hash", F.lit(seed), F.lit(i))).alias(f"m{i}")
        for i in range(k)
    ]
    sigs = sh.groupBy("id").agg(*aggs)
    return sigs.select(
        "id", F.array(*[f"m{i}" for i in range(k)]).alias("sig")
    )


def minhash_lsh_pairs(
    sigs: DataFrame, bands: int = 8, rows_per_band: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH (id_a < id_b, distinct).

    Each signature splits into `bands` bands of `rows_per_band` values; a
    band hashes to a bucket; only same-bucket docs pair up. `max_bucket`
    drops degenerate buckets (e.g. empty-text docs) — logged, not silent:
    the returned plan counts dropped buckets into `_oversize` if requested
    by the caller via .filter removal."""
    assert bands * rows_per_band <= 1000
    buckets = sigs.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(bi).alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig")[bi * rows_per_band + ri].cast("string")
                                for ri in range(rows_per_band)
                            ],
                        )
                    ).alias("bucket"),
                )
                for bi in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    # ONE explicit (band, bucket) exchange, shared: the sizes aggregate,
    # the anti-join probe side and BOTH self-join sides all need this
    # clustering — without the shared node each consumer re-derived and
    # re-exchanged the exploded bucket table independently (3x the bytes,
    # and 3x the signature recompute when sigs isn't persisted; measured
    # 4 x ~576 MB writes at 2M docs). Identical subtree → Spark's
    # ReusedExchange materializes it once.
    buckets = buckets.repartition("band", "bucket")
    sizes = buckets.groupBy("band", "bucket").agg(F.count("*").alias("_n"))
    ok = buckets.join(
        F.broadcast(sizes.filter(F.col("_n") > max_bucket)),
        ["band", "bucket"], "left_anti",
    )
    a = ok.alias("a")
    b = ok.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    sh: DataFrame, threshold: float = 0.5, candidates: DataFrame | None = None,
    max_shingle_df: int = 10_000,
) -> DataFrame:
    """Exact Jaccard over shingle sets, optionally restricted to LSH
    candidates (the verify stage of minhash→verify).

    Scale shape — two distinct plans:

    * WITH candidates (the 100 TB verify path): the pair list drives the
      join — the shingle table is first semi-join-pruned to candidate ids
      (pair-bounded, never corpus-bounded), then shingles attach per
      candidate pair (join on id_a, then on (id_b, shingle_hash)), so the
      work is Σ per-pair shingle overlap and a hot boilerplate shingle can
      never go quadratic in its document frequency. No shingle self-join
      and no full-relation re-shuffle exists in this plan.
    * WITHOUT candidates (exploratory all-pairs): inverted-index self-join
      with a shingle document-frequency cap — shingles with df >
      `max_shingle_df` are dropped from the index (their pairs are
      boilerplate noise and would cost df² rows); the drop count is logged
      eagerly so truncation is never silent.
    """
    if candidates is not None:
        # materialize the candidate pairs ONCE (eager localCheckpoint, the
        # engine's standard cut — frontier.py attempts): the pair set is
        # small (LSH output) but its DAG is the whole signature+LSH
        # pipeline, and it anchors FOUR consumers below (both id-prune
        # sides, the sizes prune and the inter join) — left lazy, each
        # consumer re-ran the LSH join (measured 4.2x the pipeline wall
        # at 2M docs)
        cand = (
            candidates.select("id_a", "id_b").distinct()
            .localCheckpoint(eager=True)
        )
        # Prune the shingle table to candidate ids BEFORE any wide join:
        # the candidate id set is bounded by the LSH pair output (pairs,
        # never corpus), so the pruned table is a sliver of `sh` — without
        # this the (id_b, shingle_hash) join re-shuffled the ENTIRE
        # shingle relation (measured 1.85 GB at 2M docs / 66M shingles;
        # ~0.35 GB pruned). Plain shuffled left-semi joins, deliberately
        # NOT broadcast: a pathological all-dups corpus makes the id set
        # corpus-sized, and the semi join is already cheap — `sh` is
        # hash-partitioned by id on the corpus path, so its side of the
        # semi exchange is elided and only the small id list moves.
        ids_a = cand.select(F.col("id_a").alias("id"))
        ids_b = cand.select(F.col("id_b").alias("id"))
        sh_a = sh.join(ids_a.distinct(), "id", "left_semi")
        sh_b = sh.join(ids_b.distinct(), "id", "left_semi")
        sizes = (
            sh.join(ids_a.union(ids_b).distinct(), "id", "left_semi")
            .groupBy("id").agg(F.count("*").alias("n"))
        )
        inter = (
            cand.join(
                sh_a.select(F.col("id").alias("id_a"), "shingle_hash"), "id_a"
            )
            .join(
                sh_b.select(F.col("id").alias("id_b"), "shingle_hash"),
                ["id_b", "shingle_hash"],
            )
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
        dfreq = sh.groupBy("shingle_hash").agg(F.count("*").alias("_df"))
        # One scan serves both the never-silent drop log and the anti-join
        # build side: the hot list is collected once (bounded by
        # construction: ≤ total_shingles / max_shingle_df rows — the same
        # bound the broadcast relies on) and fed back as a LOCAL relation,
        # so execution does not re-derive dfreq a second time. Previously
        # an eager `hot.count()` scanned `sh` at plan-construction time
        # purely for the log line and the broadcast scanned it again.
        hot_vals = [
            r[0] for r in
            dfreq.filter(F.col("_df") > max_shingle_df)
            .select("shingle_hash").collect()
        ]
        if hot_vals:
            import logging

            logging.getLogger(__name__).warning(
                "ngram_jaccard_pairs: dropping %d shingles with df > %d "
                "from the inverted index (boilerplate cap)", len(hot_vals),
                max_shingle_df,
            )
        hot = sh.sparkSession.createDataFrame(
            [(v,) for v in hot_vals], "shingle_hash long"
        )
        idx = sh.join(F.broadcast(hot), "shingle_hash", "left_anti")
        x = idx.alias("x")
        y = idx.alias("y")
        inter = (
            x.join(
                y,
                (F.col("x.shingle_hash") == F.col("y.shingle_hash"))
                & (F.col("x.id") < F.col("y.id")),
            )
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a")
                   .withColumnRenamed("n", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b")
              .withColumnRenamed("n", "nb"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash long): Charikar sign-sum over token xxhash64 bits.

    Pure column algebra: per (doc, bit) sum of ±tf, one pivotless groupBy.
    Bit extraction uses shiftrightunsigned — JVM-side, no UDF."""
    toks = tokens_df(df, id_col, text_col).groupBy("id", "word").agg(
        F.count("*").alias("tf")
    )
    h = F.xxhash64("word")
    bit_votes = toks.select(
        "id",
        "tf",
        *[
            (
                F.when(F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)) == 1,
                       F.col("tf")).otherwise(-F.col("tf"))
            ).alias(f"b{b}")
            for b in range(64)
        ],
    )
    summed = bit_votes.groupBy("id").agg(
        *[F.sum(f"b{b}").alias(f"b{b}") for b in range(64)]
    )
    sim = F.lit(0).cast("long")
    for b in range(64):
        sim = sim.bitwiseOR(
            F.when(F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b))
            .otherwise(F.lit(0).cast("long"))
        )
    return summed.select("id", sim.alias("simhash"))


def hamming64(a, b):
    """Popcount of XOR — via bit_count (Spark ≥3.5, JVM-side)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_neardup_pairs(
    sims: DataFrame, max_hamming: int = 8, bits: int = 64
) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance ≤ `max_hamming`, with
    GUARANTEED recall: the `bits` signature bits split into
    `max_hamming + 1` blocks, so by pigeonhole any pair within distance ≤
    max_hamming agrees exactly on at least one whole block and meets in
    that block's bucket. The number of blocks is DERIVED from max_hamming
    (never fewer — a fixed 4-block split only guarantees distance ≤ 3 and
    silently loses recall beyond). Join is block-local; wider max_hamming
    ⇒ narrower blocks ⇒ bigger buckets — the standard recall/cost trade,
    paid explicitly. `bits` < 64 supports shorter signatures (e.g. SRP
    sketches in embedding_neardup_pairs)."""
    n_blocks = min(max_hamming + 1, bits)
    base, extra = divmod(bits, n_blocks)
    bounds = []
    start = 0
    for q in range(n_blocks):
        width = base + (1 if q < extra else 0)
        bounds.append((q, start, width))
        start += width
    def _block_key(s: int, w: int):
        # a 64-bit-wide block's mask (1<<64)-1 overflows LongType; the full
        # word needs no mask at all (single-block case, max_hamming == 0)
        if w >= 64:
            return F.col("simhash")
        return (
            F.shiftrightunsigned(F.col("simhash"), s)
            .bitwiseAND(F.lit((1 << w) - 1))
        )

    blocks = sims.select(
        "id", "simhash",
        F.explode(
            F.array(*[
                F.struct(F.lit(q).alias("q"), _block_key(s, w).alias("key"))
                for q, s, w in bounds
            ])
        ).alias("bb"),
    ).select("id", "simhash", "bb.q", "bb.key")
    a = blocks.alias("a")
    b = blocks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q")) & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    dim: int,
    tau: float = 0.95,
    n_bits: int = 16,
    max_hamming: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: SRP sketch → pigeonhole-blocked
    candidate join → exact cosine verify on candidates only.

    A pair at cosine ≥ τ disagrees on each SRP bit with probability
    θ/π = arccos(τ)/π (Charikar), so its n_bits-sketch Hamming distance
    concentrates near n_bits·θ/π — candidates are pairs within
    `max_hamming` sketch bits (block-local join via
    simhash_neardup_pairs, never all-pairs), then the exact cosine runs
    only on candidates (Arrow-vectorized row-wise einsum — the sketch
    scan is likewise an Arrow matmul per batch). At 10^10 rows this is
    the same bucket-join scale shape as the text MinHash path."""
    from navi_spark.operators.similarity import cosine_pairwise, srp_signature

    sims = embeddings.select(
        F.col(id_col).alias("id"),
        srp_signature(F.col(vec_col), dim, n_bits, seed).alias("simhash"),
    )
    cand = simhash_neardup_pairs(sims, max_hamming, bits=n_bits).select(
        "id_a", "id_b"
    )
    ea = embeddings.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).cast("array<double>").alias("_va"),
    )
    eb = embeddings.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).cast("array<double>").alias("_vb"),
    )
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("cos_sim", cosine_pairwise(F.col("_va"), F.col("_vb")))
        .filter(F.col("cos_sim") >= tau)
        .select("id_a", "id_b", "cos_sim")
    )
