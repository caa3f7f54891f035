"""Similarity search over embedding columns (training-pipeline extra).

Brute-force cosine top-k is the exactness baseline; the scale path is
LSH-bucketed ANN (signed random projections): at 10^9+ vectors the
hyperplane signature turns the all-pairs problem into bucket-local joins,
and only bucket-mates pay the exact dot product.

Kernel strategy (measured, not assumed): Spark's higher-order array
functions (`aggregate`/`zip_with`) evaluate their lambdas INTERPRETED —
per element, boxed — so a 64-dim dot costs ~18 µs/row and a 64-centroid
assignment ~0.5 ms/row single-core (measured at 200k rows). The hot
scan kernels (cosine-vs-query, SRP signature, IVF cell assign) are
therefore Arrow-batched pandas UDFs over the raw array column: one
numpy/BLAS matmul per ~10k-row batch, 50-500× the interpreted
expression throughput, which is what a 10^9-vector scan needs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _stack(col: pd.Series) -> np.ndarray:
    return np.vstack(col.to_numpy()).astype(np.float64, copy=False)


def cosine_vs_query(vec_col, query_vec: list[float]):
    """cos(row, q) as an Arrow-vectorized column: one BLAS matvec per
    ~10k-row batch. IEEE semantics match a Spark `aggregate(zip_with(...))`
    cosine (±Inf/NaN on zero norms, strict ordering preserved at 4-dp
    rounding); summation order differs at the ~1e-15 relative level
    only."""
    qv = np.asarray(query_vec, dtype=np.float64)
    qn = qv / np.linalg.norm(qv)

    @F.pandas_udf("double")
    def cos(col: pd.Series) -> pd.Series:
        if not len(col):
            return pd.Series([], dtype="float64")
        m = _stack(col)
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series((m @ qn) / np.linalg.norm(m, axis=1))

    return cos(vec_col)


def cosine_pairwise(a_col, b_col):
    """Row-wise cos(a_i, b_i) over two array columns, Arrow-vectorized
    (einsum per batch) — the verify kernel for candidate-pair joins."""

    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series([], dtype="float64")
        ma, mb = _stack(a), _stack(b)
        with np.errstate(divide="ignore", invalid="ignore"):
            num = np.einsum("ij,ij->i", ma, mb)
            den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
            return pd.Series(num / den)

    return cos(a_col, b_col)


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against one query vector.

    The scan kernel is the Arrow matvec; orderBy().limit() compiles to
    distributed TakeOrdered — each partition keeps k candidates, the
    driver merges; no global sort shuffle."""
    scored = embeddings.select(
        F.col(id_col),
        cosine_vs_query(F.col(vec_col), query_vec).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), id_col).limit(k)


def _srp_planes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim))


def srp_signature(vec_col, dim: int, n_bits: int = 16, seed: int = 42):
    """Signed-random-projection bucket id, Arrow-vectorized: one
    (batch × dim) @ (dim × n_bits) matmul then bit-packing per batch.

    The hyperplanes are deterministic (seeded numpy), captured in the UDF
    closure — broadcast once with the task binary, no side channel. Bit i
    is set iff dot(v, plane_i) > 0, identical to the expression form and
    to the DuckDB oracle's literal-plane replication (sign flips would
    need a plane dot within ~1e-13 of zero — measure-zero; the oracle
    already tolerates DuckDB-vs-JVM summation-order differences of the
    same magnitude)."""
    planes = _srp_planes(dim, n_bits, seed)
    weights = (np.int64(1) << np.arange(n_bits, dtype=np.int64))

    @F.pandas_udf("long")
    def sig(col: pd.Series) -> pd.Series:
        if not len(col):
            return pd.Series([], dtype="int64")
        bits = (_stack(col) @ planes.T) > 0
        return pd.Series((bits * weights).sum(axis=1).astype(np.int64))

    return sig(vec_col)


def lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_bits: int = 12,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: probe the query's SRP bucket ± `probe_hamming`
    bit flips, exact-score only the probed rows.

    At 10^9 vectors the bucketed table is written partitioned by `bucket`
    (partition pruning turns a query into a handful of partition reads);
    here the filter achieves the same pruning in-memory."""
    planes = _srp_planes(dim, n_bits, seed)
    qsig = 0
    qv = np.asarray(query_vec, dtype=np.float64)
    for i in range(n_bits):
        if float(planes[i] @ qv) > 0:
            qsig |= 1 << i
    probes = {qsig}
    if probe_hamming >= 1:
        probes |= {qsig ^ (1 << i) for i in range(n_bits)}
    if probe_hamming >= 2:
        probes |= {
            qsig ^ (1 << i) ^ (1 << j)
            for i in range(n_bits) for j in range(i + 1, n_bits)
        }
    bucketed = embeddings.withColumn(
        "bucket", srp_signature(F.col(vec_col), dim, n_bits, seed)
    )
    cand = bucketed.filter(F.col("bucket").isin(*[int(p) for p in probes]))
    return (
        cand.select(
            F.col(id_col),
            cosine_vs_query(F.col(vec_col), query_vec).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def batched_knn(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Many-query exact kNN: broadcast the query matrix, one numpy matmul
    per Arrow batch (mapInPandas) with a PER-BATCH partial top-k, then a
    per-query merge window over the partial winners.

    The partial top-k is the load-bearing piece: emitting the full
    rows × queries score matrix put 128M rows (2M rows × 64 queries)
    through a window shuffle — measured 70-234 s at 2M rows. Each batch
    instead emits only its own top-k per query (batches × queries × k
    rows total, ~10^5 at 2M rows / 64 queries), which is exact: any
    global top-k row is necessarily in its batch's top-k under the same
    (cos desc, id asc) order. Same partial-aggregate shape as Spark's
    TakeOrdered, applied inside the Arrow kernel. Post-fix: ~3 s for the
    same workload."""
    spark = embeddings.sparkSession
    qrows = queries.select(q_id_col, q_vec_col).collect()
    q_ids = [r[q_id_col] for r in qrows]
    qm = np.array([list(r[q_vec_col]) for r in qrows], dtype=np.float64)
    qm_n = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((q_ids, qm_n))

    out_schema = f"{id_col} long, q_id long, cos_sim double"

    def score(batches):
        ids, qn = bc.value
        n_q = qn.shape[0]
        for b in batches:
            if not len(b):
                continue
            row_ids = b[id_col].to_numpy()
            m = np.vstack(b[vec_col].to_numpy()).astype(np.float64,
                                                        copy=False)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            sims = m @ qn.T  # (rows, queries)
            kk = min(k, sims.shape[0])
            out_id, out_q, out_cs = [], [], []
            for qi in range(n_q):
                col = sims[:, qi]
                # top-k by (cos desc, id asc): prune with argpartition,
                # re-admit every row tied with the kth score (duplicate
                # vectors tie exactly; the id tie-break must see them),
                # then exact-order the survivors
                part = np.argpartition(-col, kk - 1)[:kk]
                tied = np.flatnonzero(col >= col[part].min())
                order = tied[np.lexsort((row_ids[tied], -col[tied]))][:kk]
                kk_i = len(order)
                out_id.append(row_ids[order])
                out_q.append(np.full(kk_i, ids[qi], dtype=np.int64))
                out_cs.append(col[order])
            yield pd.DataFrame(
                {
                    id_col: np.concatenate(out_id),
                    "q_id": np.concatenate(out_q),
                    "cos_sim": np.concatenate(out_cs),
                }
            )

    scored = embeddings.select(id_col, vec_col).mapInPandas(score, out_schema)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), id_col)
    return scored.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    ).drop("_rn")


def _kmeans_centroids(
    sample: np.ndarray, n_cells: int, iters: int = 8, seed: int = 42
) -> np.ndarray:
    """Seeded Lloyd's k-means on a driver-side sample — the IVF coarse
    quantizer. At 10^9+ vectors the sample (≤100k rows) is all the driver
    ever sees; assignment of the full table is distributed."""
    rng = np.random.default_rng(seed)
    n = len(sample)
    cents = sample[rng.choice(n, size=min(n_cells, n), replace=False)].copy()
    for _ in range(iters):
        d = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cents)):
            m = assign == c
            if m.any():
                cents[c] = sample[m].mean(axis=0)
    return cents


def ivf_assign(vec_col, centroids: np.ndarray):
    """Nearest-centroid cell id, Arrow-vectorized: squared distances via
    the ||a||² − 2a·b + ||b||² expansion (one (batch × dim) @ (dim ×
    cells) matmul per batch), argmin row-wise (first-occurrence ties,
    matching the old array_position(array_min) expression form).

    History: the expression-tree version (a 64-cell array of interpreted
    `aggregate(zip_with(...))` distances) measured ~0.5 ms/row single-core
    — ~26× a brute cosine scan — because higher-order array lambdas never
    enter codegen; assignment of a 2M-row table took minutes. This kernel
    does the identical math in numpy at matmul speed."""
    C = np.asarray(centroids, dtype=np.float64)
    c_sq = (C * C).sum(axis=1)

    @F.pandas_udf("int")
    def assign(col: pd.Series) -> pd.Series:
        if not len(col):
            return pd.Series([], dtype="int32")
        m = _stack(col)
        d = (m * m).sum(axis=1)[:, None] - 2.0 * (m @ C.T) + c_sq[None, :]
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return assign(vec_col)


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 2000,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: train a coarse quantizer on a sample, assign
    cells JVM-side, probe the `n_probe` cells nearest the query, exact-score
    only those rows.

    Scale path: materialize the assignment once, write partitioned by
    `cell` — each query then reads n_probe partitions (partition pruning);
    here the filter plays that role in-memory.

    The quantizer trains on a HASH-ORDERED sample: TakeOrdered by
    xxhash64(id) is a deterministic uniform draw across all partitions
    (per-partition top-n + merge, no full sort). A plain limit() would take
    the first partitions only — at 100 TB with sorted/partitioned layouts
    that trains the centroids on one biased corner of the space and probe
    recall collapses."""
    sample = np.array(
        [
            list(r[vec_col])
            for r in embeddings.select(vec_col, F.col(id_col).alias("_sid"))
            .orderBy(F.pmod(F.xxhash64(F.col("_sid").cast("string")),
                            F.lit(1_000_003)), "_sid")
            .limit(sample_rows)
            .collect()
        ],
        dtype=np.float64,
    )
    cents = _kmeans_centroids(sample, n_cells, seed=seed)
    qv = np.asarray(query_vec, dtype=np.float64)
    order = np.argsort(((cents - qv) ** 2).sum(axis=1))
    probes = [int(x) for x in order[:n_probe]]
    cand = embeddings.withColumn(
        "cell", ivf_assign(F.col(vec_col), cents)
    ).filter(F.col("cell").isin(probes))
    return (
        cand.select(
            F.col(id_col),
            cosine_vs_query(F.col(vec_col), query_vec).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )
