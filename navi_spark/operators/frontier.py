"""Wave-based crawl frontier + scheduler (reference ops C1, C5-C9, C16-C20).

The reference runs 20 threads around a shared rank-ordered priority heap,
a visited set, and per-domain counters (`crawler/WebCrawler.java:249-534`).
Its visit order is race-dependent; the deterministic semantics of its data
structures (SURVEY.md §7) are:

  * frontier is a min-heap on `rank` ASCENDING (WebCrawler.java:63) — ties
    broken here by `url` ascending for a stable total order;
  * the depth check runs in crawl() BEFORE processUrl (WebCrawler.java:364)
    — a too-deep pop consumes global budget, yields nothing, and never
    touches the domain quota (the one skip path that never refunds);
  * per-domain cap is checked AT POP TIME (WebCrawler.java:440-444): a URL
    whose domain is already AT cap is popped and DISCARDED with a budget
    refund; a URL whose domain is still open is attempted, and failures
    (robots/fetch/dup-content, WebCrawler.java:451-478) refund global
    budget, never consume domain quota (the count increments only on store,
    :523), and un-claim the URL — so a same-host URL queued behind a
    failing one still gets its attempt later;
  * children are normalized at extraction, enqueued when not yet visited,
    duplicates in the frontier allowed (WebCrawler.java:496-518).

This engine linearizes those semantics into WAVES. Each wave pops the
lowest-(rank, url) entries subject to pop-time rules:

  * already-seen rows and rows of AT-CAP hosts leave the frontier with no
    budget consumed (pop-time discard — sound to do eagerly because a host
    at cap stays at cap forever);
  * too-deep rows bypass the domain quota entirely and compete for the wave
    budget by (rank, url) — attempted = budget consumed, nothing stored;
  * of an OPEN host's rows, the first `cap - successes` by (rank, url) are
    claimable this wave; the rest are RE-QUEUED for the next wave (never
    dropped — if a claimed attempt fails, the queued row is attempted in a
    later wave exactly as the reference would attempt it at its pop);
  * claimable ∪ deep rows are attempted in global (rank, url) order up to
    `wave_budget`; unattempted rows re-queue.

Every attempt gets an outcome label (depth_skip / blocked_robots /
fetch_failed / dup_content / fetched) in ONE labeled DataFrame pass —
lineage, metrics, and all wave stats derive from one aggregation of it
instead of per-stage count() jobs. `wave_budget=1` degenerates to the exact
sequential pop order: `navi_spark.oracle.sequential_crawl_oracle` replays
the reference heap loop verbatim and the tests assert bit-equal visit
order + seen set against it (north rule).

Scale design (the part the reference cannot do):
  * seen-check = partitioned bloom pre-filter (definitely-new rows skip the
    join) + exact anti-join on the `seen` table for maybe-seen rows only;
  * politeness window is TWO-LEVEL: a salted (host, url-hash-salt) top-k
    prunes each host to ≤ S·cap rows BEFORE the per-host row_number window,
    so the hot host never lands in one straggler task;
  * global cap uses orderBy().limit() — Spark's distributed TakeOrdered —
    never a single-partition row_number;
  * every wave ends in snapshot commits; `state` commits LAST and records
    the per-table snapshot ids, so resume() can roll every table back to a
    consistent cut (crash between commits loses nothing but the tail wave).
"""

from __future__ import annotations

import os
import time
from contextlib import ExitStack
from dataclasses import dataclass, field

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from navi_spark.catalog import SnapshotTable, arrow_table, local_df
from navi_spark.functions.urlnorm import host_expr, normalize_url_udf
from navi_spark.operators import bloom
from navi_spark.operators.fetch import (
    language_gate,
    payload_etag,
    payload_last_modified,
    validate_payload_udf,
)
from navi_spark.operators.robots import filter_allowed, parsed_rules_table

FRONTIER_SCHEMA = "url string, rank double, depth int, host string, url_hash long"
SEEN_SCHEMA = "url string, url_hash long, host_partition int"
PAGES_SCHEMA = (
    "url string, image_id string, phash long, caption string, depth int, "
    "rank double, host string, wave_id int, children array<string>, "
    "etag string, last_modified string"
)
HOST_COUNTS_SCHEMA = "host string, successes long"
PHASH_SEEN_SCHEMA = "phash long"
LINEAGE_SCHEMA = (
    "wave_id int, host_partition int, scheduled long, deduped long, "
    "attempted long, blocked_budget long, depth_skipped long, "
    "blocked_robots long, fetch_failed long, dup_content long, fetched long"
)
METRICS_SCHEMA = (
    "wave_id int, scheduled long, deduped long, attempted long, fetched long, "
    "wall_ms long, urls_per_sec double, parallelism int"
)
STATE_SCHEMA = (
    "wave_id int, budget_consumed long, done boolean, snapshots map<string,int>"
)

# recrawl() scan-pruning gate: broadcast the reloaded key set (≈ |pages|,
# upper-bounded by the driver-side budget_consumed scalar — no count job)
# into the web/image scans only while the store is genuinely broadcastable;
# past this the classification join stays a plain co-partitioned shuffle of
# the light columns, which is the correct general form once both sides
# exceed broadcast size. ~60 B/url ⇒ ≈ 250 MB at the gate, well inside the
# engine's 12 g driver sizing.
RECRAWL_BROADCAST_MAX = 4_000_000

# Scale-adaptive shuffle sizing for the store-bounded passes (guide §2.2:
# "size shuffle partitions to the data, not a constant"): every relation
# the freshness pass or the PageRank loop touches is bounded by the store
# (≤ budget_consumed rows of light columns), so post-shuffle partitions
# are derived from that row count instead of the session's scan-scale
# default. 2 500 rows/partition ≈ the measured local sweet spot for the
# ~150 B light rows (sub-MB partitions; below it task-launch overhead
# dominates, above it per-task skew does); at the 10^10-row design point
# the same formula yields ~4M partitions' worth of data split across
# `ROWS_PER_SHUFFLE_PARTITION`-row units, capped by the session default
# times 1024 so the derived value can grow well past the local default
# but never unboundedly.
ROWS_PER_SHUFFLE_PARTITION = 2500


def _partitions_for_rows(rows: int, session_parts: int) -> int:
    """Shuffle-partition count for a pass whose relations are bounded by
    `rows`: grows linearly with data, never collapses below 1, and is
    allowed to EXCEED the session default at scale (the cap only bounds
    runaway values from a corrupt rows estimate)."""
    p = -(-max(int(rows), 1) // ROWS_PER_SHUFFLE_PARTITION)
    return max(1, min(p, max(session_parts, 64) * 1024))


@dataclass
class CrawlConfig:
    max_depth: int = 5            # WebCrawler.java:28
    max_pages: int = 6000         # WebCrawler.java:27
    max_pages_per_domain: int = 10  # WebCrawler.java:37
    wave_budget: int = 1000       # attempts per wave (BATCH_SIZE analog, :29)
    n_host_partitions: int = 16   # bloom/seen partitions
    salt_buckets: int = 8         # hot-host salt (north rule)
    bloom_bits_per_partition: int = 1 << 20
    bloom_hashes: int = 7
    use_bloom: bool = True
    validate_payloads: bool = True
    max_waves: int = 10_000
    # North-rule crawl-delay budget (robots Crawl-delay, which the
    # reference parses into its rules table but never enforces): when set,
    # a wave models `wave_seconds` of wall time and a host with
    # crawl-delay d gets at most max(1, floor(wave_seconds / d)) attempts
    # per wave — over-quota rows re-queue, i.e. the host is RATE-LIMITED
    # across waves, never starved. None (default) = reference parity.
    wave_seconds: float | None = None
    # Parity flag mirroring the ranker's last_term_overwrite: the SHIPPED
    # reference binary wraps every robots rule in Pattern.quote
    # (RobotServer.java:228), so no rule ever matches and nothing is ever
    # blocked. True reproduces that bug (allow everything); False (default)
    # implements the intended semantics (robots.py). Crawl-order parity
    # claims against the running Java binary require True.
    robots_reference_bug: bool = False


@dataclass
class WaveStats:
    wave_id: int
    scheduled: int = 0
    deduped: int = 0
    attempted: int = 0
    fetched: int = 0
    depth_skips: int = 0
    wall_ms: int = 0


def _run_commits_concurrently(commits) -> None:
    """Run independent single-table commit thunks on parallel threads.

    Only for commits to DISTINCT tables whose recovery is covered by the
    state-last consistent cut (resume() rolls back any torn subset, order
    irrelevant). pyspark.InheritableThread copies the submitting thread's
    JVM-local properties (job group, description, interrupt-on-cancel), so
    jobs launched here still land in the caller's job group. The first
    failure is re-raised after every thread joins — a half-finished commit
    set is exactly the torn-wave shape resume() already unwinds."""
    from pyspark import InheritableThread

    errors: list[BaseException] = []

    def _wrap(fn):
        def body():
            try:
                fn()
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errors.append(e)
        return body

    threads = [InheritableThread(target=_wrap(fn)) for fn in commits]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        # surface EVERY thread's failure (r05 ADVICE): the first error can
        # be a secondary symptom of another commit's root cause
        for extra in errors[1:]:
            errors[0].add_note(f"concurrent commit also failed: {extra!r}")
        raise errors[0]


def _local_checkpoint(df: DataFrame, held: ExitStack) -> DataFrame:
    """Eager ``localCheckpoint`` whose blocks are dropped when `held`
    unwinds. Spark frees a local checkpoint only once the JVM's garbage
    collector reaches its DataFrame, so without this a failed wave, or a
    long run of waves, keeps them in the block store until then."""
    out = df.localCheckpoint(eager=True)
    held.callback(out._jdf.queryExecution().logical().rdd().unpersist, False)
    return out


def take_k_smallest(pool: DataFrame, k: int,
                    sample_rows: int = 100_000,
                    _depth: int = 0) -> DataFrame:
    """Exact k smallest pool rows by (rank, url), bounded exchanges.

    ``orderBy("rank","url").limit(k)`` plans as TakeOrderedAndProject,
    whose per-partition prune keeps ``min(partition_rows, k)`` rows — once
    k exceeds the per-partition row count (any web-scale wave budget: the
    design point pops 10^6-10^8 per wave), nothing is pruned and the WHOLE
    pool ships to a single-task merge (measured: 3.0 GB shuffled + a
    serial merge stage for a 4M-row pool at k=800k). This is the same
    scale bug class as the driver-merge top-k the bench proxy retired.

    Classic sample-based selection instead: a bounded (rank, url) sample
    brackets the k-th key with two pivots p_lo ≤ p_hi whp; every row with
    key ≤ p_lo is selected IN PLACE (no exchange — keys below the lower
    pivot are provably in the top-k since c_lo ≤ k), and only the
    O(n/√sample) band between the pivots is sorted exactly for the
    remaining k - c_lo rows. Exchanges: one ≤ sample_rows collect
    (bounded by construction, like the IVF quantizer sample), one count
    aggregate, one band-sized TakeOrdered. If an unlucky sample
    misbrackets (P ≲ e^-18 at the 3/√m margin), falls back to the global
    sort — logged, never silent. The returned set is EXACTLY the k
    smallest whichever path runs; only performance depends on the sample.
    Row order is unspecified (the wave consumes the attempt set as a set).
    """
    n = pool.count()
    if k >= n:
        return pool
    frac = min(1.0, sample_rows / n)
    smp = sorted(
        pool.select("rank", "url").sample(frac, seed=7).collect(),
        key=lambda r: (r["rank"], r["url"]),
    )
    m = len(smp)
    if m == 0:
        return pool.orderBy("rank", "url").limit(k)
    delta = 3.0 / (m ** 0.5)
    q = k / n
    lo_i = int((q - delta) * m) - 1
    hi_i = int((q + delta) * m) + 1
    p_lo = smp[lo_i] if lo_i >= 0 else None
    p_hi = smp[hi_i] if hi_i < m else None

    def key_le(p) -> Column:
        return (F.col("rank") < F.lit(p["rank"])) | (
            (F.col("rank") == F.lit(p["rank"]))
            & (F.col("url") <= F.lit(p["url"]))
        )

    below_lo = key_le(p_lo) if p_lo is not None else F.lit(False)
    below_hi = key_le(p_hi) if p_hi is not None else F.lit(True)
    cnt = pool.select(
        F.sum(below_lo.cast("long")).alias("c_lo"),
        F.sum(below_hi.cast("long")).alias("c_hi"),
    ).collect()[0]
    c_lo, c_hi = cnt["c_lo"] or 0, cnt["c_hi"] or 0
    if not (c_lo <= k <= c_hi):
        print(f"[frontier] WARNING: top-k sample misbracketed "
              f"(c_lo={c_lo}, k={k}, c_hi={c_hi}) — exact global-sort "
              f"fallback")
        return pool.orderBy("rank", "url").limit(k)
    head = pool.filter(below_lo)
    band = pool.filter(below_hi & ~below_lo)
    need = k - c_lo
    # The band is O(n/sqrt(sample)) rows — at a 10^10-row pool that is
    # still ~10^8, and sorting IT with orderBy().limit() would hit the
    # same single-task-merge hazard this function exists to avoid. Recurse
    # while the remainder is web-scale; each level shrinks the problem by
    # ~sqrt(sample) (two levels cover 10^10), with a depth cap as the
    # exactness-preserving escape hatch.
    if need > 10_000 and _depth < 4:
        band_take = take_k_smallest(band, need, sample_rows, _depth + 1)
    else:
        band_take = band.orderBy("rank", "url").limit(need)
    return head.unionByName(band_take)


def politeness_open_rows(new: DataFrame, counts: DataFrame, cap: int) -> DataFrame:
    """C8 pop-time domain quota: drop rows of AT-CAP hosts, annotate the
    rest with `_remaining = cap - successes`.

    Scale contract (the one the plan test pins): `counts` has one row per
    host that ever fetched a page — unbounded at the 10^10-URL design point
    — so the FULL relation is never broadcast. Only the at-cap host list
    (bounded by fetched-pages/cap) gets the explicit broadcast hint, for
    the discard anti-join; the under-cap `_remaining` counts come from a
    plain shuffled join (AQE broadcasts it at runtime while it is small)."""
    at_cap_hosts = counts.filter(F.col("successes") >= cap).select("host")
    partial = counts.filter(
        (F.col("successes") > 0) & (F.col("successes") < cap)
    )
    return (
        new.join(F.broadcast(at_cap_hosts), on="host", how="left_anti")
        .join(partial, on="host", how="left")
        .fillna({"successes": 0})
        .withColumn("_remaining", F.lit(cap) - F.col("successes"))
        .drop("successes")
    )


class CrawlEngine:
    """One crawl run rooted at `workdir`; all state in snapshot tables."""

    TABLES = ("frontier", "seen", "pages", "host_counts", "phash_seen",
              "filters", "lineage", "metrics", "state")

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        web: DataFrame,
        images: DataFrame,
        robots: DataFrame,
        config: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.cfg = config or CrawlConfig()
        self.t = {
            name: SnapshotTable(spark, os.path.join(workdir, name))
            for name in self.TABLES
        }
        # static inputs, reused every wave
        self.web = web
        self.images = images
        self.rules = parsed_rules_table(robots).cache()
        self.rules.count()  # parse robots once (reference rulesCache, C10)
        self.wave_id = 0
        self.budget_consumed = 0

    # -- helpers -----------------------------------------------------------
    def _hp(self, host_col: str = "host", url_col: str = "url"):
        """Salted host partition: hash(host) spread over `salt_buckets` by
        hash(url) — same url always lands in the same partition, a hot
        host's keys spread across S blooms (north-rule skew handling)."""
        s = self.cfg.salt_buckets
        p = self.cfg.n_host_partitions
        return (
            (F.pmod(F.xxhash64(F.col(host_col)), F.lit(p)) * s
             + F.pmod(F.xxhash64(F.col(url_col)), F.lit(s))).cast("int")
        )

    def _robots(self, df: DataFrame) -> DataFrame:
        """`df` with its `robots_allowed` verdict (C10-C12)."""
        if self.cfg.robots_reference_bug:
            # shipped-binary parity: Pattern.quote'd rules never match
            return df.withColumn("robots_allowed", F.lit(True))
        return filter_allowed(df, self.rules).drop("crawl_delay_s")

    def _frontier_rows(self, urls: DataFrame) -> DataFrame:
        """(url[, rank, depth]) → full FRONTIER_SCHEMA rows."""
        out = urls
        if "rank" not in out.columns:
            out = out.withColumn("rank", F.lit(1.0))  # INITIAL_RANK (:40)
        if "depth" not in out.columns:
            out = out.withColumn("depth", F.lit(0))
        return out.select(
            "url", "rank", "depth",
            host_expr(F.col("url")).alias("host"),
            F.xxhash64(F.col("url")).alias("url_hash"),
        )

    # -- bootstrap / resume --------------------------------------------------
    def bootstrap(self, seeds: "list[str] | DataFrame") -> None:
        """Seed source (C1): normalize, drop invalid, load the frontier.

        Accepts a driver-side list (reference parity: WebCrawler reads its
        seed file into memory) or a single-string-column DataFrame — at
        10^10-URL scale the seed list IS a table, and a driver-side list
        would be the exact collect-everything bug the engine bans."""
        if isinstance(seeds, DataFrame):
            seed_df = seeds.toDF("raw")
        else:
            seed_df = local_df(self.spark, [(s,) for s in seeds], "raw string")
        normed = seed_df.select(
            normalize_url_udf(F.col("raw")).alias("url")
        ).filter(F.col("url").isNotNull())
        self.t["frontier"].overwrite(
            self._frontier_rows(normed), {"wave": 0, "op": "bootstrap"}
        )
        self.wave_id = 0
        self.budget_consumed = 0
        self._commit_state(False, {"op": "bootstrap"})

    def _snapshot_map(self) -> dict[str, int]:
        """Snapshot id of EVERY non-state table; sentinel 0 = no commit yet
        (real ids start at 1). Recording every table — not just committed
        ones — lets resume() detect a torn FIRST commit of a table."""
        return {n: (self.t[n].snapshot_id() or 0)
                for n in self.TABLES if n != "state"}

    def resume(self) -> None:
        """Restore the engine to the last CONSISTENT cut: the `state` table
        commits last each wave and records every table's snapshot id (0 =
        not yet committed), so any table with a later (torn) snapshot is
        rolled back — including a torn first-ever commit, which rolls back
        to the empty table."""
        row = self.t["state"].read().collect()[0]
        self.wave_id = row["wave_id"]
        self.budget_consumed = row["budget_consumed"]
        snaps = row["snapshots"] or {}
        for name in self.TABLES:
            if name == "state":
                continue
            cur = self.t[name].snapshot_id()
            if cur is None:
                continue
            rec = snaps.get(name, 0) or 0
            if rec == 0:
                self.t[name].rollback_to_empty()
            elif cur > rec:
                self.t[name].rollback(rec)

    def maintain(self, target_file_bytes: int = 128 << 20, min_files: int = 8,
                 retain_snapshots: int = 2) -> dict:
        """Between-waves table maintenance barrier (Iceberg's
        rewrite_data_files + expire_snapshots, which the reference never
        needs — its whole state is three JSON files rewritten wholesale,
        crawler/WebCrawler.java:135-172 — but a 10^10-row table does:
        W waves × P shuffle partitions of appends is a scan with O(W×P)
        tasks and an O(W×P)-entry manifest).

        Three crash-safe steps, in an order resume() can always unwind:
        (1) compact every fragmented data table (data-identical REPLACE
        commits — a crash here makes resume() roll them back using the
        still-present parent manifests); (2) commit a fresh `state` row so
        the recorded consistent cut points at the compacted snapshots;
        (3) expire snapshot history down to `retain_snapshots` per table
        (manifests deleted before data dirs, so survivors stay readable
        mid-crash). Returns per-table stats."""
        stats: dict[str, dict] = {}
        for name in self.TABLES:
            if name == "state" or not self.t[name].exists():
                continue
            before = len(self.t[name].data_files())
            sid = self.t[name].compact(target_file_bytes, min_files,
                                       {"wave": self.wave_id})
            stats[name] = {"files_before": before,
                           "files_after": len(self.t[name].data_files()),
                           "compacted": sid is not None}
        done = self.t["state"].read().collect()[0]["done"]
        self._commit_state(done, {"op": "maintain", "wave": self.wave_id})
        for name in self.TABLES:
            if not self.t[name].exists():
                continue
            exp = self.t[name].expire_snapshots(
                retain_last=retain_snapshots, clean_orphans=True
            )
            stats.setdefault(name, {}).update(exp)
        return stats

    # -- the wave ------------------------------------------------------------
    def wave(self) -> WaveStats:
        """Run one wave. Everything the wave caches or checkpoints is
        unpersisted when it returns or raises, so a failed wave leaks no
        cached relation."""
        with ExitStack() as cached:
            return self._wave(cached)

    def _wave(self, cached: ExitStack) -> WaveStats:
        cfg = self.cfg
        w = self.wave_id + 1
        stats = WaveStats(wave_id=w)
        t0 = time.monotonic()

        frontier = self.t["frontier"].read()
        remaining_global = cfg.max_pages - self.budget_consumed

        # ---- 1. within-frontier dedup: lowest (rank, depth) entry wins.
        # Hash aggregation, NOT a row_number window: a per-url window pays
        # per-group sort machinery (~80µs/group — measured 41s on a 500k-url
        # frontier); min(struct) is a partial-aggregating hash agg (host and
        # url_hash are functions of url, so any value is the right one).
        # Duplicate heap entries are outcome-equivalent in the reference:
        # the first pop decides, later pops of the same url hit the visited
        # check or fail identically (deterministic robots/fetch/dup).
        # Shuffle-byte discipline: host and url_hash are pure functions of
        # url, so they are DROPPED before the dedup exchange and recomputed
        # after it — at the 10^10-URL design point the dedup shuffle is the
        # wave's largest, and carrying a ~15-char host + 8-byte hash per
        # row through it is ~30% wasted bytes. (The seen anti-join already
        # avoids shuffling strings for the common case: the bloom
        # pre-filter keys on url_hash and only bloom-positive rows reach
        # the exact string join.)
        cand = (
            frontier.groupBy("url")
            .agg(F.min(F.struct("rank", "depth")).alias("_m"))
            .select(
                "url", F.col("_m.rank").alias("rank"),
                F.col("_m.depth").alias("depth"),
            )
            .withColumn("host", host_expr(F.col("url")))
            .withColumn("url_hash", F.xxhash64("url"))
        )
        if remaining_global <= 0:
            self._commit_state(True, {"op": "done"})
            return stats
        # A checkpoint, not a cache: `cand` is read ~5 times (lineage, the
        # depth split, the seen check), and an eager checkpoint runs under
        # AQE, which sizes it to its data. A cached plan keeps the
        # session's shuffle-partition count
        # (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning is
        # false), so every stage downstream of a cache, down to the
        # frontier write, ran that many mostly-empty tasks.
        cand = _local_checkpoint(
            cand.withColumn("host_partition", self._hp()), cached)
        if cand.isEmpty():
            self._commit_state(True, {"op": "done"})
            return stats

        # ---- 2. depth split FIRST (C6): the reference checks depth before
        # the visited check (crawl() WebCrawler.java:364 vs :446), so a
        # too-deep pop consumes a budget unit EVEN IF the url is already
        # seen. Deep rows therefore bypass the seen anti-join entirely and
        # go straight to the attempt pool (where they get the depth_skip
        # outcome and charge budget).
        deep = cand.filter(F.col("depth") > cfg.max_depth)
        shallow = cand.filter(F.col("depth") <= cfg.max_depth)

        # ---- 2b. URL-seen check (C9) on shallow rows: bloom pre-filter +
        # exact anti-join. Pop-time visited refund (WebCrawler.java:446)
        # done eagerly: a seen shallow row can never produce a page, so
        # removing it before the pop is outcome-equivalent and costs no
        # budget either way.
        seen = self.t["seen"].read_or_empty(SEEN_SCHEMA)
        if cfg.use_bloom and self.t["filters"].exists():
            marked = bloom.annotate_maybe_seen(
                shallow, self.t["filters"].read(), cfg.bloom_hashes
            )
            definite_new = marked.filter(~F.col("maybe_seen")).drop("maybe_seen")
            maybe = marked.filter(F.col("maybe_seen")).drop("maybe_seen")
            new = definite_new.unionByName(
                maybe.join(seen.select("url"), on="url", how="left_anti")
            )
        else:
            new = shallow.join(seen.select("url"), on="url", how="left_anti")
        # checkpointed, not cached, for the reason given at `cand`: it is
        # read by the politeness window, the re-queue and lineage
        new = _local_checkpoint(new, cached)

        # ---- 3. pop-time domain quota (C8). Shallow rows of an AT-CAP host
        # are discarded (pop-time discard — eager is sound, at-cap is
        # permanent). An OPEN host's first `cap - successes` rows by
        # (rank, url) are claimable this wave; the REST RE-QUEUE (never
        # dropped: if a claimed attempt fails, the queued row gets its
        # attempt in a later wave, exactly as the reference attempts it at
        # its pop after the failure's refund).
        #
        # Scale note: `host_counts` has one row per host that EVER fetched —
        # unbounded at the 10^10-URL design point, so it must never be
        # broadcast wholesale. Only the AT-CAP host list (bounded by
        # fetched-pages/cap) is broadcast, for the discard anti-join; the
        # under-cap `_remaining` counts come from a plain shuffled join
        # (AQE broadcasts it at runtime while it is actually small).
        counts = self.t["host_counts"].read_or_empty(HOST_COUNTS_SCHEMA)
        cap = cfg.max_pages_per_domain
        open_rows = politeness_open_rows(new, counts, cap)
        if cfg.wave_seconds is not None:
            # crawl-delay budget: the wave models wave_seconds of wall
            # time; rows beyond the host's per-wave rate re-queue
            delays = self.rules.filter(F.col("crawl_delay_s") > 0).select(
                "host", "crawl_delay_s"
            )
            quota = F.greatest(
                F.lit(1),
                F.floor(F.lit(float(cfg.wave_seconds))
                        / F.col("crawl_delay_s")),
            ).cast("int")
            open_rows = (
                # delays = hosts with a Crawl-delay rule — unbounded at the
                # design point, same discipline as host_counts: no forced
                # broadcast, AQE promotes it at runtime while small
                open_rows.join(delays, on="host", how="left")
                .withColumn(
                    "_remaining",
                    F.when(F.col("crawl_delay_s").isNotNull(),
                           F.least(F.col("_remaining"), quota))
                    .otherwise(F.col("_remaining")),
                )
                .drop("crawl_delay_s")
            )
        # two-level politeness window: a salted (host, salt) top-cap prunes
        # each host to ≤ S·cap rows BEFORE the per-host window, so a hot
        # host never lands in one straggler task
        salted = open_rows.withColumn(
            "_salt", F.pmod(F.xxhash64("url"), F.lit(cfg.salt_buckets))
        )
        w1 = Window.partitionBy("host", "_salt").orderBy("rank", "url")
        pre = (
            salted.withColumn("_rn1", F.row_number().over(w1))
            .filter(F.col("_rn1") <= F.col("_remaining"))
            .drop("_rn1", "_salt")
        )
        w2 = Window.partitionBy("host").orderBy("rank", "url")
        sel = (
            pre.withColumn("_rn2", F.row_number().over(w2))
            .filter(F.col("_rn2") <= F.col("_remaining"))
            .drop("_remaining", "_rn2")
        )

        # ---- 4. global budget (C7): claimable ∪ deep attempted in global
        # (rank, url) order — distributed TakeOrdered, never a
        # single-partition window
        k = min(remaining_global, cfg.wave_budget)
        pool = sel.unionByName(deep)
        # checkpoint the ≤ wave_budget attempt set: it anchors the fetch
        # joins below (whose broadcast pruning sets would otherwise
        # re-evaluate the whole scheduling pipeline) and cuts lineage.
        # Reference-scale budgets (BATCH_SIZE ≤ 10^4, WebCrawler.java:29)
        # take the TakeOrderedAndProject fast path; web-scale budgets use
        # bounded sample-selection — above ~10^4 the per-partition prune
        # stops pruning and orderBy().limit() ships the whole pool to one
        # merge task (see take_k_smallest). Both return the exact same set.
        # The robots verdict (C10-C12) is part of the checkpoint, so the
        # matcher UDF runs once, on the popped rows, and neither the
        # labeled pass nor the image-key broadcast below re-runs it.
        if k > 10_000:
            pool = pool.persist()
            try:
                attempts = _local_checkpoint(
                    self._robots(take_k_smallest(pool, k)), cached)
            finally:
                pool.unpersist()
        else:
            attempts = _local_checkpoint(
                self._robots(pool.orderBy("rank", "url").limit(k)), cached)

        # ---- 5-8. ONE labeled attempt pass: depth quirk (C6) → robots
        # (C10-C12, from the checkpoint) → fetch+validate (C13) → language
        # (C14) → in-wave phash dedup (C15). Every attempt gets an outcome
        # label; lineage, metrics and wave stats all derive from this
        # single DataFrame, so no per-stage count() jobs remain on the hot
        # pipeline.
        # C13 fetch join, scalable form: `attempts` is wave_budget-bounded
        # (the driver-owned BATCH_SIZE analog, WebCrawler.java:29), so the
        # synthetic web/image stores are first pruned to the attempted
        # keys with a BROADCAST SEMI join — the unbounded store sides then
        # never shuffle. Measured at 300k urls these two store exchanges
        # were the wave's largest by far (46 of 57 shuffle-write MB);
        # semantically this is the "fetch only what you attempt" contract
        # a real fetcher has for free. The pruned slivers (≤ wave_budget
        # rows) then join left — AQE broadcasts them at runtime.
        web_hit = self.web.join(
            F.broadcast(attempts.select("url")), on="url", how="left_semi"
        )
        att = attempts.join(web_hit, on="url", how="left")
        # Payload validation runs MAP-SIDE ON THE STORE SCAN, not after the
        # join: the validator is a pure function of the image row
        # (bytes/fmt/dims/caption), so decoding before the exchange means
        # the join moves ~60 B verdict rows instead of multi-KB payloads —
        # measured 3.0 GB -> ~0.05 GB on the wave's largest exchange at an
        # 800k-attempt wave (payload bytes die right after the decode; no
        # downstream consumer reads them). The semi-join key set is pruned
        # to fetch-eligible rows (robots+depth already known pre-join), so
        # the decode volume is identical to the old ok_fetch byte gate; an
        # image referenced by several attempts now decodes ONCE instead of
        # per attempt row. Verdicts are deterministic per image row, so
        # outcome labels are bit-identical either way.
        img_keys = att.filter(
            F.col("robots_allowed") & (F.col("depth") <= cfg.max_depth)
        ).select("image_id")
        img_hit = self.images.join(
            F.broadcast(img_keys), on="image_id", how="left_semi",
        )
        if cfg.validate_payloads:
            img_meta = img_hit.withColumn(
                "_fail",
                validate_payload_udf(
                    "image_id", "bytes", "fmt", "w", "h", "caption"),
            ).select("image_id", "phash", "caption", "_fail")
        else:
            img_meta = img_hit.select(
                "image_id", "phash", "caption",
                F.lit(None).cast("string").alias("_fail"),
            )
        att = att.join(img_meta, on="image_id", how="left")
        ok_fetch = (
            F.col("robots_allowed")
            & (F.col("depth") <= cfg.max_depth)
            & F.col("phash").isNotNull()
        )
        att = language_gate(att)
        pre_ok = (
            ok_fetch & F.col("_fail").isNull()
            & F.coalesce(F.col("lang_ok"), F.lit(False))
        )
        # in-wave first-(rank,url)-wins per phash among rows that passed
        # everything else; failed rows sort after so they never claim a slot
        rn_ph = F.row_number().over(
            Window.partitionBy("phash").orderBy(
                F.when(pre_ok, 0).otherwise(1), "rank", "url"
            )
        )
        phash_seen = self.t["phash_seen"].read_or_empty(PHASH_SEEN_SCHEMA)
        att = (
            att.withColumn("_pre_ok", pre_ok)
            .withColumn("_rnp", rn_ph)
            .join(phash_seen.withColumn("_ph_seen", F.lit(True)),
                  on="phash", how="left")
        )
        outcome = (
            F.when(F.col("depth") > cfg.max_depth, "depth_skip")
            .when(~F.col("robots_allowed"), "blocked_robots")
            .when(F.col("phash").isNull(), "fetch_failed")      # web/image miss
            .when(F.col("_fail").isNotNull(), "fetch_failed")   # payload invalid
            .when(~F.col("lang_ok"), "fetch_failed")            # C14 gate
            .when(F.coalesce(F.col("_ph_seen"), F.lit(False))
                  | (F.col("_rnp") > 1), "dup_content")
            .otherwise(F.lit("fetched"))
        )
        labeled = _local_checkpoint(  # cut lineage; reused ~6×, no bytes
            att.withColumn("outcome", outcome)
            .withColumn(
                "children",
                F.when(
                    (F.col("outcome") == "fetched")
                    & (F.col("depth") < cfg.max_depth),
                    normalize_children(F.col("children")),
                ).otherwise(F.array().cast("array<string>")),
            )
            .select(
                "url", "image_id", "phash", "caption", "depth", "rank",
                "host", "children", "url_hash", "host_partition", "outcome",
            ),
            cached,
        )
        successes = labeled.filter(F.col("outcome") == "fetched")

        # ---- 9. commit wave outputs (C18/C19): one snapshot per table;
        #          `state` last records the consistent cut
        # C13 validators: the synthetic web's ETag/Last-Modified are
        # deterministic functions of the payload version (a real server's
        # validators change exactly when content does) — stored with the
        # page and replayed as If-None-Match/If-Modified-Since on recrawl
        # (WebCrawler.java:175-196, Url.java:52-65)
        pages_out = successes.select(
            "url", "image_id", "phash", "caption", "depth", "rank", "host",
            F.lit(w).alias("wave_id"), "children",
            payload_etag().alias("etag"),
            payload_last_modified().alias("last_modified"),
        )
        # The five wave-output commits are mutually independent: each writes
        # its OWN table from the checkpointed `successes` set (or its own
        # table's previous snapshot), and resume() depends only on `state`
        # committing last with the post-barrier snapshot map — the
        # consistent cut never depends on the ORDER of the middle commits
        # (any torn subset rolls back). So they run concurrently: each
        # write is a small fixed-overhead Spark job, and at any realistic
        # budget the serialized chain is pure fixed cost the executor slots
        # sit idle through (ENGINE_SCALING.md attributes the composed-wave
        # scaling floor to exactly this chain). InheritableThread propagates
        # the caller's job group/description, so job accounting (and the
        # wave job-count guard) stays truthful.
        commits = [lambda: self.t["pages"].append(pages_out, {"wave": w}),
                   lambda: self.t["seen"].append(
                       successes.select("url", "url_hash", "host_partition"),
                       {"wave": w}),
                   # no distinct(): a fetched row is first (_rnp == 1) in
                   # its phash partition, so successes' phashes are unique
                   lambda: self.t["phash_seen"].append(
                       successes.select("phash"), {"wave": w})]
        if cfg.use_bloom:
            new_f = bloom.update_filters(
                self.t["filters"].read_or_empty(bloom.FILTERS_SCHEMA),
                successes.select("host_partition", "url_hash"),
                cfg.bloom_bits_per_partition,
                cfg.bloom_hashes,
            )
            commits.append(
                lambda: self.t["filters"].overwrite(new_f, {"wave": w}))
        new_counts = (
            self.t["host_counts"].read_or_empty(HOST_COUNTS_SCHEMA)
            .unionByName(
                successes.groupBy("host").agg(F.count("*").alias("successes"))
            )
            .groupBy("host").agg(F.sum("successes").alias("successes"))
        )
        commits.append(
            lambda: self.t["host_counts"].overwrite(new_counts, {"wave": w}))
        _run_commits_concurrently(commits)

        # ---- 10. re-queue + expansion (C16). Everything poppable that was
        # not attempted re-queues: per-host over-quota rows, salt-pruned
        # rows, global-budget leftover, unattempted deep rows. Only seen
        # rows and at-cap-host rows left the frontier for good.
        leftover = (
            open_rows.drop("_remaining").unionByName(deep)
            .join(labeled.select("url"), on="url", how="left_anti")
        )
        seen_now = self.t["seen"].read()
        counts_now = self.t["host_counts"].read()
        expansions = (
            successes.filter(F.col("depth") < cfg.max_depth)
            .select(F.explode("children").alias("url"),
                    (F.col("depth") + 1).alias("depth"))
            .filter(F.col("url").isNotNull())
            .withColumn("rank", F.lit(1.0))
            .join(seen_now.select("url"), on="url", how="left_anti")
            .withColumn("host", host_expr(F.col("url")))
            .join(
                F.broadcast(counts_now.filter(F.col("successes") >= cap)
                            .select("host")),
                on="host", how="left_anti",
            )
            .withColumn("url_hash", F.xxhash64("url"))
            .select("url", "rank", "depth", "host", "url_hash")
        )
        # No checkpoint here: overwrite() always commits to a FRESH data dir
        # (catalog._commit), so the plan can read the old frontier dirs while
        # writing the new snapshot, and the parquet round-trip itself is the
        # lineage cut the next wave reads from. Checkpointing first would
        # materialize the |frontier|-sized union twice (block store + parquet)
        # — measured as the wave's worst-scaling stage (ENGINE_SCALING.md,
        # 64-task barrier 10.5 s at local[4], 2.1x/4 cores).
        new_frontier = leftover.select(
            "url", "rank", "depth", "host", "url_hash"
        ).unionByName(expansions)

        # ---- 11. frontier commit ∥ lineage aggregation (north rule): the
        # lineage collect reads only the checkpointed wave sets
        # (cand/new/labeled), never the frontier table, so it overlaps the
        # frontier write instead of idling behind it; one aggregation,
        # collected once (≤ n_host_partitions·salt_buckets rows) and reused
        # for wave stats
        lin_holder: dict[str, list] = {}

        def _collect_lineage() -> None:
            lin_holder["rows"] = self._lineage_rows(
                w, cand, new.unionByName(deep), labeled
            )

        _run_commits_concurrently([
            lambda: self.t["frontier"].overwrite(new_frontier, {"wave": w}),
            _collect_lineage,
        ])
        lin_rows = lin_holder["rows"]
        stats.scheduled = sum(r["scheduled"] for r in lin_rows)
        stats.deduped = sum(r["deduped"] for r in lin_rows)
        stats.attempted = sum(r["attempted"] for r in lin_rows)
        stats.fetched = sum(r["fetched"] for r in lin_rows)
        stats.depth_skips = sum(r["depth_skipped"] for r in lin_rows)
        stats.wall_ms = int((time.monotonic() - t0) * 1000)
        par = self.spark.sparkContext.defaultParallelism
        # driver-built rows: Arrow commits, no Spark job
        self.t["lineage"].append(arrow_table(lin_rows, LINEAGE_SCHEMA),
                                 {"wave": w})
        self.t["metrics"].append(
            arrow_table(
                [(w, stats.scheduled, stats.deduped, stats.attempted,
                  stats.fetched, stats.wall_ms,
                  stats.scheduled / max(stats.wall_ms / 1000.0, 1e-9),
                  par)],
                METRICS_SCHEMA,
            ),
            {"wave": w},
        )

        # ---- 12. state commit = the checkpoint barrier
        self.budget_consumed += stats.fetched + stats.depth_skips
        self.wave_id = w
        self._commit_state(False, {"wave": w})
        return stats

    def _lineage_rows(self, w, cand, poppable, labeled) -> list:
        """Per-host_partition lineage with REAL per-cause counts, from ONE
        aggregation over a tagged union of the wave's three sets: `cand`
        (scheduled), `poppable` = rows surviving dedup + the seen check
        (deep rows included — they bypass the seen check), and the labeled
        attempts, tagged with their outcome. `blocked_budget` = poppable
        rows not popped for an attempt this wave (re-queued or
        at-cap-discarded)."""
        cause = [("depth_skip", "depth_skipped"),
                 ("blocked_robots", "blocked_robots"),
                 ("fetch_failed", "fetch_failed"),
                 ("dup_content", "dup_content"),
                 ("fetched", "fetched")]
        tagged = (
            cand.select("host_partition", F.lit("scheduled").alias("_k"))
            .unionByName(poppable.select("host_partition",
                                         F.lit("deduped").alias("_k")))
            .unionByName(labeled.select("host_partition",
                                        F.col("outcome").alias("_k")))
        )

        def n(*tags):
            return F.count(F.when(F.col("_k").isin(*tags), 1))

        lin = tagged.groupBy("host_partition").agg(
            n("scheduled").alias("scheduled"),
            n("deduped").alias("deduped"),
            n(*[o for o, _ in cause]).alias("attempted"),
            *[n(o).alias(c) for o, c in cause],
        )
        return lin.select(
            F.lit(w).alias("wave_id"), "host_partition",
            "scheduled", "deduped", "attempted",
            (F.col("deduped") - F.col("attempted")).alias("blocked_budget"),
            "depth_skipped", "blocked_robots", "fetch_failed",
            "dup_content", "fetched",
        ).collect()

    def _commit_state(self, done: bool, summary: dict) -> None:
        """Overwrite `state` with the engine's position and every other
        table's snapshot id — the consistent cut resume() rolls back to."""
        self.t["state"].overwrite(
            arrow_table([(self.wave_id, self.budget_consumed, done,
                          self._snapshot_map())], STATE_SCHEMA),
            summary,
        )

    # -- drivers -------------------------------------------------------------
    def run(self, max_waves: int | None = None) -> list[WaveStats]:
        out: list[WaveStats] = []
        limit = max_waves if max_waves is not None else self.cfg.max_waves
        for _ in range(limit):
            s = self.wave()
            out.append(s)
            if s.scheduled == 0 or self.budget_consumed >= self.cfg.max_pages:
                break
        return out

    def recrawl(
        self,
        web: DataFrame | None = None,
        images: DataFrame | None = None,
        max_pages: int | None = None,
        pagerank_iterations: int = 10,
    ) -> dict:
        """C21 freshness pass — see :meth:`_recrawl_impl` for the algorithm.

        This wrapper only sets the pass's shuffle sizing: every relation
        the freshness pass touches is bounded by the STORE (≤
        budget_consumed rows of light columns, a driver-side scalar —
        no count job), not by the web, so its post-shuffle partition
        count is derived from that size (guide §2.2) instead of running
        dozens of store-bounded exchanges at the session's scan-scale
        default. Restored on exit; the session conf is never leaked, and
        nothing the pass caches outlives it, on error paths too."""
        spark = self.spark
        sess = spark.conf.get("spark.sql.shuffle.partitions")
        p = _partitions_for_rows(self.budget_consumed, int(sess))
        spark.conf.set("spark.sql.shuffle.partitions", str(p))
        try:
            with ExitStack() as cached:
                return self._recrawl_impl(cached, web, images, max_pages,
                                          pagerank_iterations)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", sess)

    def _recrawl_impl(
        self,
        cached: ExitStack,
        web: DataFrame | None = None,
        images: DataFrame | None = None,
        max_pages: int | None = None,
        pagerank_iterations: int = 10,
    ) -> dict:
        """C21 composed freshness pass (WebCrawler.java:536-650 recrawl /
        recrawlThread / recrawlUrl): reload pages rank-DESC → fresh
        per-host domain cap → robots → conditional GET against the
        (possibly drifted) live web → classify touched/unchanged/changed →
        MERGE changed pages → recompute PageRank into pages.rank iff any
        consumed page's link structure changed (:571-580).

        Distributed form: only rows that CONSUME budget (status unchanged/
        changed past robots, :705-745) need sequencing — refunded rows
        (304-touched :697, fetch-fail :680-699, robots :670-674, over-cap
        :663-668) have no table effect here (no lastTime column), so the
        pop order collapses to a per-host rank-desc row_number ≤ cap then
        a global TakeOrdered prefix of `max_pages` — the wave's two-level
        politeness + budget shape.

        Divergence noted: the reference counts linkStructureChanged over a
        crawledUrls buffer CLEARED at each batch flush (:621-624), so its
        PageRank trigger depends on flush timing; we use the intent — any
        consumed changed page with a link change triggers the recompute.

        `statuses` reports the EXACT reference pop outcomes (the sequential
        oracle's per-pop classification): budget is checked before each pop
        (:590-594), the domain cap before everything else (:663-668), and
        only unchanged/changed pops consume (:705-745). Rows past the
        budget-th consume are never popped (`not_popped`, reported
        separately); a row popping after its host consumed `cap` pages is
        a `domain_skip` regardless of its own classification.

        Scale shape (the wave's C13 store-pruning discipline applied to
        the freshness pass): the classification join moves only the light
        columns — children arrays are deferred to a broadcast-semi-pruned
        fetch over the budget-bounded consumed-changed set, and under
        RECRAWL_BROADCAST_MAX the web/image scans are themselves pruned
        by the reloaded key set, so no exchange is proportional to
        |web| × payload. Measured at an 8M-URL drifted web / 438k-page
        store: total shuffle write 1.9 GB → 0.9 GB, local[4] wall −22%
        (BENCH/RECRAWL_SCALING.md).
        """
        from navi_spark.operators.pagerank import pagerank

        if web is not None:
            self.web = web
        if images is not None:
            self.images = images
        cfg = self.cfg
        budget = max_pages if max_pages is not None else cfg.max_pages
        cap = cfg.max_pages_per_domain
        old = self.pages()
        web_cols = [
            "url",
            F.col("image_id").alias("new_image_id"),
        ]
        # server validator behavior travels WITH the web table (an
        # `honors_304` column); absent column = every server honors
        # validators, the reference's implicit assumption
        # (WebCrawler.java:680-699). The engine stays universe-agnostic.
        has_honors = "honors_304" in self.web.columns
        if has_honors:
            web_cols.append("honors_304")
        # Shuffle diet for the classification join (same discipline as the
        # wave's C13 store pruning): classification needs only (image_id,
        # honors_304) per matched web row and (phash, caption) per image —
        # the CHILDREN arrays, the heaviest columns on both sides, are
        # needed only for the budget-bounded consumed-changed subset and
        # are fetched by a second, pruned join after the budget cut
        # (measured at an 8M-URL drifted web: the web-side exchange
        # carried 2.43 GB with children vs ~0.5 GB without). When the
        # store is small enough to broadcast (gated on budget_consumed —
        # a driver-side scalar upper bound on |pages|, restored by
        # resume(), never a count job), the web and image scans are
        # additionally pruned map-side by a broadcast semi-join on the
        # reloaded keys, so the exchanges carry ~|store| rows instead of
        # |web| rows; above the gate the joins stay plain co-partitioned
        # shuffles of the light columns — the optimal general form when
        # both sides exceed broadcast size.
        web_side = self.web.select(*web_cols)
        img_side = self.images.select(
            F.col("image_id").alias("new_image_id"),
            F.col("phash").alias("new_phash"),
            F.col("caption").alias("new_caption"),
        )
        # the pruning key sets are 8-byte xxhash64 keys, not strings (~10×
        # smaller driver-side); a hash-collision false positive merely
        # passes the prune and fails to match in the exact LEFT joins
        # below, so the prune is lossless by construction.
        # r06: the keys are collected (bounded by budget_consumed — the
        # same driver-side gate) and applied as InSet FILTERS rather than
        # broadcast semi-joins: a filter pushes below the Arrow-UDF
        # columns of a generated/columnar source (a semi-join provably
        # does not — plans/r06), so the web/image stores row-prune
        # GENERATION itself, not just the exchange. The web side of the
        # classification join is then pure JVM end-to-end, and the image
        # store synthesizes pixels only for the ~|store| referenced rows
        # instead of all |web| of them.
        prune_scans = 0 < self.budget_consumed <= RECRAWL_BROADCAST_MAX
        if prune_scans:
            from navi_spark.operators.bloom import (
                literal_bloom_build,
                literal_bloom_predicate,
            )

            old_keys = [
                r[0] for r in old.select(F.xxhash64("url")).collect()
            ]
            web_bf = literal_bloom_build(old_keys, fpp=0.01)
            web_pred = literal_bloom_predicate(
                *web_bf, F.xxhash64(F.col("url"))
            )
            # materialize the pruned LIGHT web rows once (≈|store| rows
            # under the gate): the image-key collect below populates the
            # cache and the classification join re-reads it, instead of
            # each re-running the pruned web scan (r06: measured 0.33 s
            # for the extra scan at the bench size). cache() not
            # localCheckpoint: it rides the collect's job, keeping the
            # no-drift job discipline at 13; unpersisted right after the
            # labeled checkpoint that consumes it.
            web_side = web_side.filter(web_pred).cache()
            cached.callback(web_side.unpersist)
            # image keys referenced by the matched web rows; set() both
            # dedups shared images and drops bloom-FP extras.
            img_keys = sorted({
                r[0]
                for r in web_side
                .select(F.xxhash64("new_image_id")).collect()
            })
            img_bf = literal_bloom_build(img_keys, fpp=0.01)
            img_side = img_side.filter(
                literal_bloom_predicate(
                    *img_bf, F.xxhash64(F.col("new_image_id"))
                )
            )
        re_f = (
            old.select(
                "url", "depth", "rank", "host", "wave_id",
                F.col("phash").alias("old_phash"),
                F.col("caption").alias("old_caption"),
            )
            .join(web_side, "url", "left")
            .join(img_side, "new_image_id", "left")
        )
        re_f = self._robots(re_f)
        honors_304 = (
            F.coalesce(F.col("honors_304"), F.lit(True))
            if has_honors else F.lit(True)
        )
        fetch_ok = F.col("new_phash").isNotNull()
        same_payload = (
            (F.col("new_phash") == F.col("old_phash"))
            & (F.col("new_caption") == F.col("old_caption"))
        )
        status = (
            F.when(~F.col("robots_allowed"), "blocked_robots")
            .when(~fetch_ok, "touched")                  # doc == null (:680)
            .when(honors_304 & same_payload, "touched")  # 304 (:697)
            .when(F.col("new_phash") == F.col("old_phash"), "unchanged")
            .otherwise(F.lit("changed"))
        )
        # per-host domain-cap boundary in pop order: a consuming row is
        # cap-eligible iff fewer than `cap` consuming rows of its host pop
        # before it (only cap-eligible rows increment the reference's
        # domainPageCounts, and they form a prefix of the host's consuming
        # rows, so the two prefix counts agree up to `cap`). Instead of a
        # per-host prefix-sum window over ALL reloaded rows (a hot host with
        # many stored pages would serialize into one straggler task), derive
        # the cap-th consuming pop per host with the wave's two-level salted
        # top-cap over the CONSUMING rows only, then broadcast that bounded
        # boundary list (≤ consuming-rows/cap hosts): any row popping
        # strictly after its host's boundary has ≥ cap consuming pops
        # before it, any row at-or-before has < cap.
        consuming = F.col("status").isin("unchanged", "changed")
        # checkpoint the labeled set ONCE so the store-side joins behind it
        # run a single scan — both the boundary derivation and the final
        # broadcast join read the materialized rows, not the join tree
        labeled = _local_checkpoint(re_f.withColumn("status", status), cached)
        if prune_scans:
            web_side.unpersist()
        cons = labeled.filter(consuming).select("host", "rank", "url")
        salted = cons.withColumn(
            "_salt", F.pmod(F.xxhash64("url"), F.lit(cfg.salt_buckets))
        )
        w1 = Window.partitionBy("host", "_salt").orderBy(F.desc("rank"), "url")
        pre = (
            salted.withColumn("_rn1", F.row_number().over(w1))
            .filter(F.col("_rn1") <= cap)
        )
        w2 = Window.partitionBy("host").orderBy(F.desc("rank"), "url")
        boundary = (
            pre.withColumn("_cr", F.row_number().over(w2))
            .filter(F.col("_cr") == cap)
            .select(
                "host",
                F.col("rank").alias("_b_rank"),
                F.col("url").alias("_b_url"),
            )
        )
        after_cap = F.col("_b_rank").isNotNull() & (
            (F.col("rank") < F.col("_b_rank"))
            | ((F.col("rank") == F.col("_b_rank"))
               & (F.col("url") > F.col("_b_url")))
        )
        lab = _local_checkpoint(
            labeled.join(F.broadcast(boundary), "host", "left")
            .withColumn("_after_cap", after_cap)
            .withColumn("_cap_eligible", consuming & ~F.col("_after_cap"))
            .drop("_b_rank", "_b_url"),
            cached,
        )

        # the consumed set: first `budget` cap-eligible rows in global pop
        # order — distributed TakeOrdered, never a single-partition window
        consumed = _local_checkpoint(
            lab.filter(F.col("_cap_eligible"))
            .orderBy(F.desc("rank"), "url").limit(budget),
            cached,
        )
        # ONE aggregation of the (checkpointed, ≤ budget rows) consumed set
        # yields every consumed-side stat plus the budget boundary — the
        # (-rank, url) max is the latest pop position, i.e. the budget-th
        # consume; rows popping after it were never popped at all
        brow = consumed.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("status") == "changed", 1).otherwise(0))
            .alias("n_changed"),
            F.max(F.struct((-F.col("rank")).alias("nr"),
                           F.col("url").alias("u"))).alias("b"),
        ).collect()[0]
        n_consumed = int(brow["n"] or 0)
        n_changed = int(brow["n_changed"] or 0)
        if budget <= 0:
            # degenerate config (max_pages=0): the reference checks budget
            # BEFORE the first pop (:590-594), so nothing ever pops — without
            # this guard the empty consumed set (b null) would fall through
            # to "every row pops" and misreport reloaded rows as popped
            popped = F.lit(False)
        elif n_consumed >= budget and brow["b"] is not None:
            b_rank, b_url = -brow["b"]["nr"], brow["b"]["u"]
            popped = (F.col("rank") > F.lit(b_rank)) | (
                (F.col("rank") == F.lit(b_rank))
                & (F.col("url") <= F.lit(b_url))
            )
        else:
            popped = F.lit(True)  # budget never exhausted: every row pops

        # deferred children fetch: only consumed CHANGED rows ever read a
        # children array (new children for the re-extraction when depth
        # allows, old children for the link-structure comparison), and
        # that set is bounded by `budget` AND by n_changed (known from the
        # brow aggregate, no extra job) — so the heavy columns are fetched
        # here from broadcast-semi-pruned, column-pruned scans instead of
        # riding the full classification exchange. Above the broadcast
        # gate the joins degrade to plain shuffles carrying (url,
        # children) only.
        changed = consumed.filter(F.col("status") == "changed")
        if n_changed == 0:
            # no-drift fast path: nothing to fetch, merge, or compare —
            # the empty set gets its columns as literals, no join / no
            # checkpoint / no aggregation job
            changed = changed.withColumn(
                "children", F.array().cast("array<string>")
            ).withColumn("link_structure_changed", F.lit(False))
            n_struct = 0
        else:
            new_kids = self.web.select(
                "url", F.col("children").alias("new_children_raw"))
            old_kids = old.select(
                "url", F.col("children").alias("old_children"))
            if n_changed <= RECRAWL_BROADCAST_MAX:
                # NOTE (r06, measured): replacing this broadcast semi with
                # a literal-bloom filter (so the prune would push below an
                # Arrow children UDF, like the classification-scan prune)
                # was A/B'd and REVERTED — the bench-shaped caller hands
                # recrawl a CACHED drifted web, whose children are already
                # materialized, so there is no generation to row-prune and
                # the key-collect + per-row probes only added latency
                # (children-fetch 0.62-0.73 -> 0.92-1.05 s).
                ckeys = changed.select("url")
                new_kids = new_kids.join(
                    F.broadcast(ckeys), on="url", how="left_semi")
                old_kids = old_kids.join(
                    F.broadcast(ckeys), on="url", how="left_semi")
            # NOTE (r06, measured): the consumed checkpoint is ONE
            # partition (TakeOrdered), so the fetch runs on a single
            # task — a size-derived repartition to spread it was A/B'd
            # and REVERTED: the phase is bounded by its ~4 fixed jobs
            # (broadcast builds, checkpoint, n_struct agg), not by the
            # ≤budget-row kernel work (0.62-0.64 s unchanged, +1 job).
            changed = _local_checkpoint(
                changed.join(new_kids, "url", "left")
                .join(old_kids, "url", "left")
                .withColumn(
                    "children",
                    F.when(
                        F.col("depth") < cfg.max_depth,
                        normalize_children(F.col("new_children_raw")),
                    ).otherwise(F.array().cast("array<string>")),
                )
                .withColumn(
                    "link_structure_changed",
                    ~(F.col("children") == F.coalesce(
                        F.col("old_children"),
                        F.array().cast("array<string>"))),
                ),
                cached,
            )
            n_struct = int(
                changed.agg(
                    F.sum(F.when(F.col("link_structure_changed"), 1)
                          .otherwise(0)).alias("n")
                ).collect()[0]["n"] or 0
            )
        merge_src = changed.select(
            "url",
            F.col("new_image_id").alias("image_id"),
            F.col("new_phash").alias("phash"),
            F.col("new_caption").alias("caption"),
            "depth", "rank", "host", "wave_id", "children",
            payload_etag("new_phash", "new_caption").alias("etag"),
            payload_last_modified("new_phash").alias("last_modified"),
        )
        self.t["pages"].merge_upsert(merge_src, "url", {"op": "recrawl"})

        if n_struct > 0:
            # :571-580 — calculatePageRank writes into the docs' rank field
            pr = pagerank(self.pages(), pagerank_iterations)
            repaged = (
                self.pages().drop("rank")
                .join(pr, "url", "left").fillna({"rank": 0.0})
                .select(*[c.strip().split(" ")[0]
                          for c in PAGES_SCHEMA.split(",")])
            )
            # overwrite commits to a fresh dir while the plan reads the old
            # snapshot's dirs (kept until expire_snapshots) — one write job,
            # no block-store double-materialization
            self.t["pages"].overwrite(repaged, {"op": "recrawl-rank"})

        # ONE aggregation of the checkpointed labeled set yields the exact
        # pop-outcome telemetry (no per-stat rescans of the pages table)
        pop_status = (
            F.when(~popped, "not_popped")
            .when(F.col("_after_cap"), "domain_skip")
            .otherwise(F.col("status"))
        )
        status_counts = {
            r["s"]: r["n"]
            for r in lab.groupBy(pop_status.alias("s"))
            .agg(F.count("*").alias("n")).collect()
        }
        not_popped = status_counts.pop("not_popped", 0)
        stats = {
            "reloaded": sum(status_counts.values()) + not_popped,
            "consumed": n_consumed,
            "changed": n_changed,
            "link_structure_changed": n_struct,
            "pagerank_recomputed": n_struct > 0,
            "statuses": status_counts,
            "not_popped": not_popped,
        }
        # state commit = the checkpoint barrier (same machinery as wave():
        # a crash between the MERGE and here rolls pages back on resume)
        self._commit_state(False, {"op": "recrawl"})
        return stats

    # -- outputs ---------------------------------------------------------------
    def pages(self) -> DataFrame:
        return self.t["pages"].read_or_empty(PAGES_SCHEMA)

    def seen(self) -> DataFrame:
        return self.t["seen"].read_or_empty(SEEN_SCHEMA)

    def index_feed(self) -> DataFrame:
        """Indexer handoff contract (C24): (url, image_id, phash, caption)."""
        return self.pages().select("url", "image_id", "phash", "caption")

    def visit_order(self) -> DataFrame:
        """Deterministic visit order: (wave_id, rank, url) — the linearized
        pop order the oracle reproduces."""
        return self.pages().select("wave_id", "rank", "url").orderBy(
            "wave_id", "rank", "url"
        )


def _norm_children_kernel(arrs: pd.Series) -> pd.Series:
    """r06 (guide §4.2): flatten every child URL of the batch into ONE
    series, run the vectorized canonicalizer (pyarrow fast path + per-row
    reference fallback — see urlnorm._normalize_vec), and regroup.
    Per-element results are identical to mapping normalize_url_py
    child-by-child (nulls dropped, order kept)."""
    from navi_spark.functions.urlnorm import _normalize_vec

    flat = [u for arr in arrs if arr is not None for u in arr]
    if not flat:
        return arrs.map(lambda a: [])
    vals = _normalize_vec(pd.Series(flat, dtype=object)).to_numpy()
    out = []
    pos = 0
    for arr in arrs:
        n = 0 if arr is None else len(arr)
        out.append([x for x in vals[pos:pos + n] if isinstance(x, str)])
        pos += n
    return pd.Series(out, index=arrs.index)


def normalize_children(children_col):
    """Normalize a children array WITHOUT exploding (no shuffle): one
    Arrow-batched UDF over array<string> (C16 link normalization,
    WebCrawler.java:496-518 — null children skipped)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    udf = pandas_udf(_norm_children_kernel, ArrayType(StringType()))
    return udf(children_col)
