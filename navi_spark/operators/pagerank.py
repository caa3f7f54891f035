"""PageRank over the crawled pages graph (reference C22-C23); the C21
recrawl that reruns it is `CrawlEngine.recrawl`.

PageRank reproduces the reference formula EXACTLY
(`dbmanager/DBManager.java:1051-1172`):

    init   rank = 1/N                         (:1093)
    iter   contrib(child) += 0.85 · rank(parent)/outDegree   (:1110)
           rank = 0.15 + 0.85·Σ — i.e. NOT normalized by N   (:1122)
    outDegree floor 1 (:1103); 10 iterations, d = 0.85 (:1057,1067)
    children lists may contain duplicates → duplicate edges contribute
    twice (the reference pushes per list element)

The reference scans Mongo in skip/limit batches of 200 per iteration; here
each iteration is one join+agg. At 10^10 edges: pre-partition `edges` by
src once and cache — every iteration reuses the same partitioning, so only
`ranks` (small: one row per node) moves per iteration.

Lineage: for the reference's FIXED 10 iterations the plan depth is bounded
and every shuffle stage materializes as a natural retry cut, so no
PER-ITERATION checkpointing is done — a per-iteration localCheckpoint
forces a full Catalyst planning pass each time (measured 4.7× slower
end-to-end at sf0.1) and its blocks are not fault-tolerant. One FINAL eager
localCheckpoint does run: it is the job that materializes the loop while
the edges/nodes caches are still registered (see the comment at the
return), and it leaves callers a leaf-plan result.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from navi_spark.catalog import child_session, local_df, rebind


# The 10-iteration loop is a FIXED plan shape (ranks-join on pre-partitioned
# cached edges + one aggregation, ×10). Under AQE every one of its ~2×10
# exchanges materializes as a separately scheduled query-stage job, whose
# scheduling/re-optimization latency dominates end-to-end time on small
# graphs (measured: 3.4 s → 1.1 s for the drifted-recrawl recompute at 11.7k
# nodes, bit-identical ranks). Below this node count the loop therefore runs
# with AQE off — one job, stages pipelined by the DAG scheduler; above it
# AQE stays on (its runtime skew/broadcast decisions matter when a hot dst
# key or an unexpectedly small ranks side appears at web scale).
PAGERANK_AQE_OFF_MAX_NODES = 5_000_000

# Loop shuffle sizing (guide §2.2, size-derived — never a host constant):
# the 10-iteration loop runs ~2 exchanges per iteration; at the session
# default (64) that is 1300+ task launches for stages of a few thousand rows
# each, and task-launch overhead dominates the whole materialization.
# Partitions are derived from the graph size and only ever lowered, so big
# graphs keep the session's parallelism and the e2e plan shape. Rank values
# shift by summation order only (≪ the 1e-12 test / 4dp oracle tolerances,
# same class as the python-vs-spark oracle delta). ~2k nodes per loop
# partition measured best (12k-node graph, local[32]: 64 parts 3.85 s,
# 1 part 1.91 s, 4-12 parts 1.35-1.40 s). Raising the count past the
# caller's does not pay either: a 438,608-node graph (local[4], AQE and
# codegen off) ran the call in 9.5-12.8 s at 64 parts, 32-35 s at 176.
PAGERANK_LOOP_ROWS_PER_PART = 2000


def edges_from_pages(pages: DataFrame) -> DataFrame:
    """(src, dst) from the pages' children lists — duplicates preserved
    (C17's explode; the reference pushes one contribution per list entry)."""
    return pages.select(
        F.col("url").alias("src"), F.explode("children").alias("dst")
    )


def out_degrees(pages: DataFrame) -> DataFrame:
    """Out-degree with the reference's floor of 1 (DBManager.java:1103)."""
    return pages.select(
        F.col("url").alias("src"),
        F.greatest(F.size("children"), F.lit(1)).alias("outdeg"),
    )


def pagerank(
    pages: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """(url, rank) after `iterations` of the reference recurrence.

    Ranks flow only along edges whose dst is itself a crawled page when the
    caller wants closed-world semantics; the reference updates EVERY stored
    doc and accumulates into child docs that exist in the collection —
    contributions to never-crawled children are dropped by the inner join
    with `nodes`, matching `updateOne(eq(url,...))` no-op behavior."""
    # cached: every iteration's rank rebuild scans this relation — without
    # the cache each of the 10 iterations re-runs the pages scan + distinct
    # exchange for an identical ≤|pages| row set
    nodes = pages.select(F.col("url").alias("node")).distinct().cache()
    edges = None
    try:
        n = nodes.count()
        if n == 0:
            return local_df(pages.sparkSession, [], "url string, rank double")
        caller = pages.sparkSession
        # Small-graph loop config (size-gated on n), set in a child session
        # the loop is planned in, so the caller's session never changes:
        # AQE off — the loop is a FIXED plan shape and AQE turns its ~2
        # exchanges/iteration into separately scheduled query-stage jobs
        # whose scheduling latency dominates at small n; codegen off — the
        # 10 iterations generate ~20 distinct codegen units (fresh
        # expression ids each iteration, so the compiled-class cache never
        # hits) and Janino compilation costs more than interpreting a
        # few-thousand-row stage; and the loop's shuffle partitions, when
        # fewer than the caller's. AQE and codegen off measured on the
        # drifted-recrawl recompute at 11.7k nodes: 3.36 s → 1.9 s for the
        # whole pagerank call, bit-identical ranks. Above the gate the loop
        # plans in the caller's session (compilation amortizes; AQE's
        # runtime skew/broadcast decisions matter at web scale).
        if n <= PAGERANK_AQE_OFF_MAX_NODES:
            confs = {"spark.sql.adaptive.enabled": "false",
                     "spark.sql.codegen.wholeStage": "false"}
            loop_parts = max(1, -(-n // PAGERANK_LOOP_ROWS_PER_PART))
            parts = "spark.sql.shuffle.partitions"
            if loop_parts < int(caller.conf.get(parts)):
                confs[parts] = str(loop_parts)
            session = child_session(caller, confs)
            # the same plans, so the cache manager still serves `nodes`
            # (and unpersist() still finds its entry)
            pages, nodes = rebind(pages, session), rebind(nodes, session)
        edges = (
            edges_from_pages(pages)
            .join(out_degrees(pages), "src")
            # closed-world prune AT SETUP: contributions to never-crawled
            # children are discarded by the final nodes join anyway
            # (updateOne no-op, DBManager.java:1122) — dropping those edges
            # once here keeps them out of all 10 per-iteration groupBy(dst)
            # exchanges. In a recrawl store most children point OUTSIDE the
            # store (438k pages linking into an 8M-URL web), so this is the
            # bulk of the loop's shuffled bytes. Value-identical: the
            # surviving groups' term sets are unchanged.
            .join(nodes.withColumnRenamed("node", "dst"), "dst", "semi")
            .repartition("src")  # one partitioning, reused every iteration
            .cache()
        )
        if iterations <= 0:
            ranks = nodes.withColumn("rank", F.lit(1.0 / n))
        # The loop iterates on the CONTRIBUTION recurrence, not on ranks:
        #     c_i(dst) = Σ_{(src,dst)∈E}
        #                (0.15 + 0.85·coalesce(c_{i-1}(src), 0)) / outdeg(src)
        # with the first iteration folding in the uniform init rank 1/N, and
        # ranks materialized from c_last ONCE at the end. Equivalent to the
        # textbook ranks loop (every edge src IS a node, so rebuilding the
        # full rank vector per iteration adds no information), but each
        # iteration is one join + one aggregation instead of two joins + one
        # aggregation: the per-iteration nodes-join exchange disappears (at
        # web scale that was a full |nodes| shuffle per iteration), and the
        # logical plan the optimizer must chew is ~40% smaller — driver
        # planning time is the measured bottleneck of the whole loop on
        # small graphs (see the conf note below).
        contrib = None
        for _ in range(iterations):
            if contrib is None:
                src_side = edges
                rank_prev = F.lit(1.0 / n)
            else:
                src_side = edges.join(
                    contrib.withColumnRenamed("dst", "src"), "src", "left"
                )
                rank_prev = (
                    F.lit(1 - damping)
                    + damping * F.coalesce(F.col("contrib"), F.lit(0.0))
                )
            contrib = (
                src_side.select(
                    "dst", (rank_prev / F.col("outdeg")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("contrib"))
            )
        if iterations > 0:
            ranks = (
                nodes.join(contrib.withColumnRenamed("dst", "node"), "node",
                           "left")
                .select(
                    "node",
                    (F.lit(1 - damping)
                     + damping * F.coalesce(F.col("contrib"), F.lit(0.0))
                     ).alias("rank"),
                )
            )
        # Materialize BEFORE dropping the caches: unpersisting first would
        # deregister them from the CacheManager while the loop plan is still
        # lazy, so the caller's first action would replay edges construction
        # once per iteration with nothing cached (measured at 400k pages /
        # 3M edges, local[16]: 48.8 s / 3,293 MB shuffled / 393 exec-cpu-s
        # lazy-then-unpersist vs 9.1 s / 306 MB / 51 cpu-s with this eager
        # cut — bit-identical ranks). The checkpoint is one |nodes|-row
        # write; the returned plan is a leaf, so downstream re-use (recrawl's
        # repaged join, repeated collects) never re-runs the loop; it goes
        # back to the caller as a plan of the caller's session.
        out = ranks.select(
            F.col("node").alias("url"), "rank"
        ).localCheckpoint(eager=True)
        # Block lifetime note (r05 ADVICE): the returned leaf is backed by
        # localCheckpoint blocks that live until the RDD is GC'd (the
        # ContextCleaner frees them); callers that hold the result long-term
        # (recrawl writes the rank snapshot and drops the reference promptly)
        # should not accumulate many of these, and the blocks are not
        # fault-tolerant on a real cluster — a lost executor after return
        # makes the result unrecoverable (acceptable in local mode).
        return rebind(out, caller)
    finally:
        # only after the eager checkpoint above (see its comment), and on
        # every error path too, so a failed call leaks no cache
        if edges is not None:
            edges.unpersist()
        nodes.unpersist()


def pagerank_py(
    pages: list[dict], iterations: int = 10, damping: float = 0.85
) -> dict[str, float]:
    """Pure-Python oracle of the same recurrence (parity tests)."""
    nodes = [p["url"] for p in pages]
    node_set = set(nodes)
    n = len(nodes)
    if n == 0:
        return {}
    outdeg = {p["url"]: max(len(p["children"]), 1) for p in pages}
    ranks = {u: 1.0 / n for u in nodes}
    for _ in range(iterations):
        contrib: dict[str, float] = {}
        for p in pages:
            u = p["url"]
            for c in p["children"]:
                if c in node_set:
                    contrib[c] = contrib.get(c, 0.0) + ranks[u] / outdeg[u]
        ranks = {
            u: (1 - damping) + damping * contrib.get(u, 0.0) for u in nodes
        }
    return ranks
