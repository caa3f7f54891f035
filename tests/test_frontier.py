"""Crawl parity vs the Python oracle + snapshot resume (north rule).

Asserts bit-equal visit order, URL-seen set, per-host politeness counts and
budget between the distributed engine and `navi_spark.oracle` on the same
seed list + politeness budget, plus kill-and-resume equivalence from the
snapshot checkpoint (SURVEY.md §5).
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

import pytest
import pyspark.sql.functions as F

from navi_spark.catalog import SnapshotTable
from navi_spark.operators.frontier import (
    CUT_FILE,
    FRONTIER_SCHEMA,
    CrawlConfig,
    CrawlEngine,
)
from navi_spark.oracle import (
    OracleConfig,
    build_oracle_inputs,
    crawl_oracle,
    sequential_crawl_oracle,
)
from navi_spark.sources.datagen import (
    generate_images,
    generate_robots,
    generate_seeds,
    generate_web,
)

N_URLS, N_HOSTS = 300, 12
MAX_PAGES, CAP, WAVE = 30, 3, 12


@pytest.fixture(scope="module")
def universe(spark):
    web = generate_web(spark, N_URLS, N_HOSTS).cache()
    images = generate_images(spark, N_URLS).cache()
    robots = generate_robots(spark, N_HOSTS)
    seeds = generate_seeds(6, N_URLS, N_HOSTS)
    web.count(), images.count()
    yield web, images, robots, seeds
    web.unpersist(), images.unpersist()


@pytest.fixture(scope="module")
def oracle_result():
    oweb, oimages, orobots = build_oracle_inputs(N_URLS, N_HOSTS)
    cfg = OracleConfig(
        max_pages=MAX_PAGES, max_pages_per_domain=CAP, wave_budget=WAVE
    )
    return crawl_oracle(
        generate_seeds(6, N_URLS, N_HOSTS), oweb, oimages, orobots, cfg
    )


def _mk_engine(spark, universe, workdir, **kw):
    web, images, robots, seeds = universe
    cfg = CrawlConfig(**{
        "max_pages": MAX_PAGES, "max_pages_per_domain": CAP,
        "wave_budget": WAVE, "n_host_partitions": 4, "salt_buckets": 2,
        **kw,
    })
    return CrawlEngine(spark, workdir, web, images, robots, cfg), seeds


def _engine_state(eng):
    visit = [(r["wave_id"], r["url"]) for r in eng.visit_order().collect()]
    seen = {r["url"] for r in eng.seen().collect()}
    counts = {
        r["host"]: r["successes"] for r in eng.t["host_counts"].read().collect()
    }
    return visit, seen, counts


@pytest.fixture(scope="module")
def std_run(spark, universe):
    """One full engine run shared by the read-only assertions."""
    workdir = tempfile.mkdtemp(prefix="navi-par-")
    eng, seeds = _mk_engine(spark, universe, workdir)
    eng.bootstrap(seeds)
    eng.run(max_waves=30)
    yield eng
    shutil.rmtree(workdir, ignore_errors=True)


def test_wave_parity(std_run, oracle_result):
    visit, seen, counts = _engine_state(std_run)
    assert visit == oracle_result.visit_order
    assert seen == oracle_result.seen
    assert counts == oracle_result.host_counts
    assert std_run.budget_consumed == oracle_result.budget_consumed


def test_index_feed_contract(std_run, oracle_result):
    """Indexer handoff (C24): (url, image_id, phash, caption) rows match."""
    feed = {
        (r["url"], r["image_id"], r["phash"], r["caption"])
        for r in std_run.index_feed().collect()
    }
    expected = {
        (p["url"], p["image_id"], p["phash"], p["caption"])
        for p in oracle_result.pages
    }
    assert feed == expected


def test_pages_carry_conditional_get_validators(std_run):
    """C13: every stored page carries deterministic ETag/Last-Modified
    validators (WebCrawler.java:181-187,222-227) — a re-fetch of unchanged
    content reproduces the same ETag (the 304 contract)."""
    from navi_spark.operators.fetch import payload_etag

    pages = std_run.pages()
    rows = pages.select("etag", "last_modified").collect()
    assert rows and all(r["etag"] and r["last_modified"] for r in rows)
    recomputed = pages.select(
        "url", (payload_etag() == pages.etag).alias("same")
    ).collect()
    assert all(r["same"] for r in recomputed)


# (url, robots_allowed, honors_304, old_phash, old_caption, new_phash,
#  new_caption, status with an honors_304 column, status without one)
RECRAWL_CASES = [
    ("blocked", False, True, 1, "c", 2, "d", "blocked_robots", "blocked_robots"),
    ("blocked_same", False, False, 1, "c", 1, "c",
     "blocked_robots", "blocked_robots"),
    ("fetch_fail", True, True, 1, "c", None, None, "touched", "touched"),
    ("fetch_fail_no_304", True, False, 1, "c", None, None, "touched", "touched"),
    ("304", True, True, 1, "c", 1, "c", "touched", "touched"),
    ("no_304_same", True, False, 1, "c", 1, "c", "unchanged", "touched"),
    ("null_304_same", True, None, 1, "c", 1, "c", "touched", "touched"),
    ("new_caption", True, True, 1, "c", 1, "c2", "unchanged", "unchanged"),
    ("new_caption_no_304", True, False, 1, "c", 1, "c2",
     "unchanged", "unchanged"),
    ("changed", True, True, 1, "c", 2, "c", "changed", "changed"),
    ("changed_no_304", True, None, 1, "c", 2, "d", "changed", "changed"),
]


def test_classify_recrawl_semantics(spark):
    """C13+C21, the status the engine's recrawl labels each reloaded page
    with (WebCrawler.java:664-756): robots first, then a failed fetch is a
    refunded touch, a 304 (validators honored, same payload) a refunded
    touch, the same content hash 'unchanged' and anything else 'changed'.
    A null honors_304, or no such column, means the server honors
    validators."""
    from navi_spark.operators.fetch import recrawl_status

    df = spark.createDataFrame(
        [c[:7] for c in RECRAWL_CASES],
        "url string, robots_allowed boolean, honors_304 boolean, "
        "old_phash long, old_caption string, new_phash long, "
        "new_caption string",
    )
    got = {
        r["url"]: (r["with_col"], r["without_col"])
        for r in df.select(
            "url",
            recrawl_status(F.col("honors_304")).alias("with_col"),
            recrawl_status().alias("without_col"),
        ).collect()
    }
    assert got == {c[0]: (c[7], c[8]) for c in RECRAWL_CASES}


def test_lineage_and_metrics_written(std_run):
    """Every wave writes lineage rows, each carrying the wave's wall time."""
    lin = std_run.t["lineage"].read().collect()
    assert lin
    assert {r["wave_id"] for r in lin} == set(range(1, std_run.wave_id + 1))
    assert all(r["wall_ms"] > 0 for r in lin)
    total_fetched = sum(r["fetched"] for r in lin)
    assert total_fetched == std_run.pages().count()


def test_resume_equivalence(spark, universe, oracle_result):
    """Kill after wave 2, resume from the snapshot checkpoint, finish —
    final state identical to the uninterrupted run (north rule)."""
    workdir = tempfile.mkdtemp(prefix="navi-res-")
    try:
        eng, seeds = _mk_engine(spark, universe, workdir)
        eng.bootstrap(seeds)
        eng.run(max_waves=2)  # "crash" here
        pages_head = eng.t["pages"].snapshot_id()

        eng2, _ = _mk_engine(spark, universe, workdir)
        eng2.resume()
        assert eng2.wave_id == 2
        assert eng2.t["pages"].snapshot_id() == pages_head
        eng2.run(max_waves=30)
        visit, seen, counts = _engine_state(eng2)
        assert visit == oracle_result.visit_order
        assert seen == oracle_result.seen
        assert counts == oracle_result.host_counts
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_maintain_mid_crawl_invisible(spark, universe, oracle_result):
    """maintain() between waves (compaction + snapshot expiration, the
    Iceberg rewrite_data_files/expire_snapshots barrier) is invisible to
    crawl semantics: resume from the post-maintenance checkpoint, finish,
    and the final state is identical to the uninterrupted run."""
    workdir = tempfile.mkdtemp(prefix="navi-mnt-")
    try:
        eng, seeds = _mk_engine(spark, universe, workdir)
        eng.bootstrap(seeds)
        eng.run(max_waves=2)
        stats = eng.maintain(target_file_bytes=1 << 30, min_files=2,
                             retain_snapshots=2)
        assert any(v.get("compacted") for v in stats.values())
        compacted = [n for n, v in stats.items() if v.get("compacted")]
        for name in compacted:  # fewer, bigger files after the rewrite
            assert stats[name]["files_after"] <= stats[name]["files_before"]

        eng2, _ = _mk_engine(spark, universe, workdir)  # "crash" here
        eng2.resume()
        assert eng2.wave_id == 2
        eng2.run(max_waves=30)
        visit, seen, counts = _engine_state(eng2)
        assert visit == oracle_result.visit_order
        assert seen == oracle_result.seen
        assert counts == oracle_result.host_counts
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_crash_inside_maintain(spark, universe, oracle_result, monkeypatch):
    """A crash inside maintain(), after the first table's compaction and
    before the root is published, leaves the cut of wave 2: a fresh
    engine resumes on the uncompacted snapshots and finishes exactly."""
    workdir = tempfile.mkdtemp(prefix="navi-mnt-crash-")
    try:
        eng, seeds = _mk_engine(spark, universe, workdir)
        eng.bootstrap(seeds)
        eng.run(max_waves=2)
        cut = {n: t.snapshot_id() for n, t in eng.t.items()}
        compact = SnapshotTable.compact

        def compact_then_crash(table, *a, **kw):
            sid = compact(table, *a, **kw)
            if sid is not None:
                raise RuntimeError("simulated crash after a compaction")
            return sid

        monkeypatch.setattr(SnapshotTable, "compact", compact_then_crash)
        with pytest.raises(RuntimeError, match="after a compaction"):
            eng.maintain(target_file_bytes=1 << 30, min_files=2)
        monkeypatch.undo()

        eng2, _ = _mk_engine(spark, universe, workdir)
        eng2.resume()
        assert eng2.wave_id == 2
        assert {n: t.snapshot_id() for n, t in eng2.t.items()} == cut
        eng2.run(max_waves=30)
        visit, seen, counts = _engine_state(eng2)
        assert visit == oracle_result.visit_order
        assert seen == oracle_result.seen
        assert counts == oracle_result.host_counts
        assert eng2.budget_consumed == oracle_result.budget_consumed
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_failed_wave_retried_on_same_engine(spark, universe, oracle_result,
                                            monkeypatch):
    """Wave 2 raises at the frontier overwrite, after pages, phash_seen
    and host_counts committed. The engine that raised stays at the cut of
    wave 1, and running on from it matches the uninterrupted oracle."""
    workdir = tempfile.mkdtemp(prefix="navi-retry-")
    try:
        eng, seeds = _mk_engine(spark, universe, workdir)
        eng.bootstrap(seeds)
        eng.wave()
        cut = {n: t.snapshot_id() for n, t in eng.t.items()}
        budget = eng.budget_consumed
        staged = {}

        def fail(*_a, **_k):
            staged.update({n: t.snapshot_id() for n, t in eng.t.items()})
            raise RuntimeError("frontier write failed")

        monkeypatch.setattr(eng.t["frontier"], "overwrite", fail)
        with pytest.raises(RuntimeError, match="frontier write failed"):
            eng.wave()
        monkeypatch.undo()
        for name in ("pages", "phash_seen", "host_counts"):
            assert staged[name] == cut[name] + 1, name  # really committed
        assert eng.wave_id == 1 and eng.budget_consumed == budget
        assert {n: t.snapshot_id() for n, t in eng.t.items()} == cut

        eng.run(max_waves=30)
        visit, seen, counts = _engine_state(eng)
        assert visit == oracle_result.visit_order
        assert seen == oracle_result.seen
        assert counts == oracle_result.host_counts
        assert eng.budget_consumed == oracle_result.budget_consumed
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_sequential_heap_mode(spark, universe):
    """wave_budget=1 = the reference's exact sequential min-heap pop order:
    the engine, the wave oracle at budget 1, and the verbatim heap replay
    (`sequential_crawl_oracle`) must agree on visit sequence, seen set,
    per-host counts and budget."""
    workdir = tempfile.mkdtemp(prefix="navi-seq-")
    try:
        web, images, robots, seeds = universe
        cfg = CrawlConfig(
            max_pages=4, max_pages_per_domain=3, wave_budget=1,
            n_host_partitions=4, salt_buckets=2,
        )
        eng = CrawlEngine(spark, workdir, web, images, robots, cfg)
        eng.bootstrap(seeds)
        eng.run(max_waves=40)

        oweb, oimages, orobots = build_oracle_inputs(N_URLS, N_HOSTS)
        ocfg = OracleConfig(max_pages=4, max_pages_per_domain=3, wave_budget=1)
        ores = crawl_oracle(seeds, oweb, oimages, orobots, ocfg)
        sres = sequential_crawl_oracle(seeds, oweb, oimages, orobots, ocfg)
        visit, seen, counts = _engine_state(eng)
        assert visit == ores.visit_order
        assert seen == ores.seen
        # vs the verbatim heap: same URL sequence (wave ids are the
        # engine's linearization artifact: ≤1 page per wave ⇒ wave order
        # IS pop order), same seen/counts/budget
        assert [u for _, u in visit] == [p["url"] for p in sres.pages]
        assert seen == sres.seen
        assert counts == sres.host_counts
        assert eng.budget_consumed == sres.budget_consumed
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_wave_oracle_matches_sequential_heap():
    """Pure-python cross-check at several budgets: the wave linearization at
    wave_budget=1 equals the verbatim reference heap replay on the full
    synthetic universe (robots blocks, fetch failures, phash dups all
    present), and larger budgets converge to the same final seen set."""
    oweb, oimages, orobots = build_oracle_inputs(N_URLS, N_HOSTS)
    seeds = generate_seeds(6, N_URLS, N_HOSTS)
    cfg1 = OracleConfig(max_pages=25, max_pages_per_domain=3, wave_budget=1)
    wres = crawl_oracle(seeds, oweb, oimages, orobots, cfg1)
    sres = sequential_crawl_oracle(seeds, oweb, oimages, orobots, cfg1)
    assert [p["url"] for p in wres.pages] == [p["url"] for p in sres.pages]
    assert wres.seen == sres.seen
    assert wres.host_counts == sres.host_counts
    assert wres.budget_consumed == sres.budget_consumed
    # and at a larger budget too, exhausting the whole universe
    cfg_all = OracleConfig(max_pages=10_000, max_pages_per_domain=3,
                           wave_budget=1)
    wall = crawl_oracle(seeds, oweb, oimages, orobots, cfg_all)
    sall = sequential_crawl_oracle(seeds, oweb, oimages, orobots, cfg_all)
    assert [p["url"] for p in wall.pages] == [p["url"] for p in sall.pages]
    assert wall.seen == sall.seen
    assert wall.budget_consumed == sall.budget_consumed
    # NOTE: wave_budget>1 is a different (coarser) linearization — phash
    # content-dedup is attempt-order-dependent, so its crawled set may
    # legitimately differ from the sequential order's; only wave_budget=1
    # claims bit-parity with the reference heap.


def test_failure_refund_requeues_same_host(spark):
    """The ADVICE-high scenario: a same-host URL queued beyond the wave's
    domain quota must survive into the next wave and be crawled when an
    earlier same-host attempt fails (reference pop-time semantics: robots
    failure refunds, WebCrawler.java:451-454 — the engine must not drop
    the over-quota row)."""
    u_blocked = "http://a.com/blocked/page"   # sorts first, robots-denied
    u2, u3 = "http://a.com/x1", "http://a.com/x2"
    web = spark.createDataFrame(
        [(u_blocked, "imgA", []), (u2, "imgB", []), (u3, "imgC", [])],
        "url string, image_id string, children array<string>",
    )
    images = spark.createDataFrame(
        [("imgA", 1, "cap a"), ("imgB", 2, "cap b"), ("imgC", 3, "cap c")],
        "image_id string, phash long, caption string",
    ).selectExpr(
        "image_id", "phash", "caption",
        "cast(null as binary) as bytes", "cast(null as string) as fmt",
        "cast(null as int) as w", "cast(null as int) as h",
    )
    robots = spark.createDataFrame(
        [("a.com", "user-agent: *\ndisallow: /blocked", 0.0)],
        "host string, robots_txt string, crawl_delay_s double",
    )
    workdir = tempfile.mkdtemp(prefix="navi-refund-")
    try:
        cfg = CrawlConfig(
            max_pages=10, max_pages_per_domain=2, wave_budget=10,
            n_host_partitions=2, salt_buckets=2, validate_payloads=False,
        )
        eng = CrawlEngine(spark, workdir, web, images, robots, cfg)
        eng.bootstrap([u_blocked, u2, u3])
        eng.run(max_waves=10)
        _, seen, counts = _engine_state(eng)
        # wave 1 claims (u_blocked, u2) under quota 2; u_blocked fails
        # robots; u3 must have been re-queued and crawled in wave 2
        assert seen == {u2, u3}
        assert counts == {"a.com": 2}
        # the verbatim heap replay agrees
        from navi_spark.oracle import sequential_crawl_oracle as seq
        sres = seq(
            [u_blocked, u2, u3],
            {u_blocked: ("imgA", []), u2: ("imgB", []), u3: ("imgC", [])},
            {"imgA": (1, "cap a"), "imgB": (2, "cap b"), "imgC": (3, "cap c")},
            {"a.com": [("disallow", "/blocked")]},
            OracleConfig(max_pages=10, max_pages_per_domain=2, wave_budget=10),
        )
        assert sres.seen == seen and sres.host_counts == counts
        # lineage records the robots block as its own cause (not folded
        # into fetch_failed)
        lin = eng.t["lineage"].read().collect()
        assert sum(r["blocked_robots"] for r in lin) == 1
        assert sum(r["fetch_failed"] for r in lin) == 0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_crawl_delay_budget_parity(spark, universe):
    """North-rule crawl-delay budget: with wave_seconds=4 a crawl-delay-2
    host (fixture m=8) gets ≤2 attempts per wave — rate-limited across
    waves, never starved — and the engine stays bit-equal to the oracle
    running the same budget."""
    from navi_spark.oracle import oracle_delays

    workdir = tempfile.mkdtemp(prefix="navi-delay-")
    try:
        eng, seeds = _mk_engine(spark, universe, workdir, wave_seconds=4.0)
        eng.bootstrap(seeds)
        eng.run(max_waves=30)

        oweb, oimages, orobots = build_oracle_inputs(N_URLS, N_HOSTS)
        cfg = OracleConfig(max_pages=MAX_PAGES, max_pages_per_domain=CAP,
                           wave_budget=WAVE, wave_seconds=4.0)
        ores = crawl_oracle(seeds, oweb, oimages, orobots, cfg,
                            delays=oracle_delays(N_HOSTS))
        visit, seen, counts = _engine_state(eng)
        assert visit == ores.visit_order
        assert seen == ores.seen
        assert counts == ores.host_counts
        # the delayed host is rate-limited per wave (quota = 4s/2s = 2)...
        per_wave = {}
        for r in eng.pages().collect():
            if r["host"] == "host8.test":
                per_wave[r["wave_id"]] = per_wave.get(r["wave_id"], 0) + 1
        assert all(v <= 2 for v in per_wave.values())
        # ...but not starved: it still reaches its domain cap eventually
        assert counts.get("host8.test", 0) == ores.host_counts.get(
            "host8.test", 0
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_wave_spark_job_count_bounded(spark, universe):
    """Round-1 weak point: each wave fired ~15 Spark jobs, most of them
    per-stage count() stats. The labeled-outcome rewrite derives all stats
    from one lineage collect — guard the regression by counting the jobs
    the first wave and a steady-state second wave actually launch."""
    workdir = tempfile.mkdtemp(prefix="navi-jobs-")
    sc = spark.sparkContext
    tracker = sc._jsc.sc().statusTracker()  # noqa: SLF001
    try:
        eng, seeds = _mk_engine(spark, universe, workdir)
        eng.bootstrap(seeds)
        # AQE splits one action into a job per materialized query stage,
        # which would count shuffle STAGES, not driver round-trips; turn it
        # off so job count ≈ actions (+ broadcast builds)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        n_jobs = []
        try:
            for i in (1, 2):
                sc.setJobGroup(f"wave-jobcount-{i}", f"count jobs in wave {i}")
                try:
                    eng.wave()
                finally:
                    sc.setJobGroup(None, None)
                n_jobs.append(
                    len(list(tracker.getJobIdsForGroup(f"wave-jobcount-{i}"))))
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        # measured composition of wave 1 (18): 4 parquet write jobs, one
        # per Spark-written commit (pages, phash_seen, host_counts,
        # frontier; lineage is the only Arrow commit and starts none, and
        # the cut is a file written on the driver), 4 local checkpoints
        # (cand, new, attempts, labeled), 8 broadcast builds (the robots
        # rules join; 5 in the labeled pass, incl. the two store-pruning
        # semi-join sets that eliminated the wave's largest exchanges; 2
        # in the frontier write's anti-joins), the isEmpty probe and the
        # lineage collect. No table read starts a job: the manifest
        # carries the schema. Wave 2 (24) also reads a
        # non-empty pages/host_counts/phash_seen state: the seen anti-join,
        # the two politeness joins (once for the attempts, once more in the
        # frontier write's re-queue) and the phash_seen join add 6
        # broadcast builds (14). No filters write and no bloom probe: the
        # seen check is one exact anti-join. All are small fixed driver
        # round-trips, none scale with data. The guard trips if per-stage
        # stats counts creep back in (round 1 had ~15 of them), a
        # driver-built relation starts costing a job again, or a read goes
        # back to inferring its schema.
        assert 0 < n_jobs[0] <= 18, f"wave 1 launched {n_jobs[0]} Spark jobs"
        assert 0 < n_jobs[1] <= 24, f"wave 2 launched {n_jobs[1]} Spark jobs"
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_PLAN_NODE = re.compile(r"^([\s:+-]*)(?:\* )?(\w+)[^()]*?\((\d+)\)")
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


def _python_nodes(plan: str) -> list[tuple[str, str]]:
    """(node name, `Arguments:` text) of every Python-evaluating node in a
    formatted physical plan that runs when the plan runs: the plan of an
    already cached relation, printed under its InMemoryRelation, does not."""
    tree, _, details = plan.partition("\n\n")
    live, skip_below = set(), None
    for line in tree.splitlines():
        m = _PLAN_NODE.match(line)
        if not m:
            continue
        depth, name, node_id = len(m.group(1)), m.group(2), m.group(3)
        if skip_below is not None and depth > skip_below:
            continue
        skip_below = depth if name == "InMemoryRelation" else None
        if _PYTHON_NODE.search(name):
            live.add(node_id)
    out = []
    for block in re.split(r"\n(?=\(\d+\) )", details):
        m = re.match(r"\((\d+)\) (\w+)", block)
        if m and m.group(1) in live:
            args = re.search(r"^Arguments: (.*)$", block, re.M)
            out.append((m.group(2), args.group(1) if args else ""))
    return out


def _executions(store) -> list:
    lst = store.executionsList()
    return [lst.apply(i) for i in range(lst.size())]


def test_wave_runs_python_only_to_validate_and_canonicalize(spark, universe):
    """A wave's scheduling path (dedup, seen check, politeness, budget,
    robots) runs on the JVM: over the SQL executions of two waves, the only
    Python nodes are Arrow UDFs over the payload validator and the
    child-link canonicalizer. A bloom cogroup (FlatMapCoGroupsInPandas) or
    a Python robots matcher would each add one."""
    workdir = tempfile.mkdtemp(prefix="navi-python-")
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    bus = spark.sparkContext._jsc.sc().listenerBus()  # noqa: SLF001
    try:
        eng, seeds = _mk_engine(spark, universe, workdir)
        eng.bootstrap(seeds)
        bus.waitUntilEmpty()
        first = max((e.executionId() for e in _executions(store)), default=-1)
        s1, s2 = eng.wave(), eng.wave()
        assert s1.fetched > 0 and s2.fetched > 0
        bus.waitUntilEmpty()
        plans = [e.physicalPlanDescription() for e in _executions(store)
                 if e.executionId() > first]
        nodes = [n for p in plans for n in _python_nodes(p)]
        udfs = {u for name, args in nodes for u in re.findall(r"(\w+)\(", args)}
        assert {name for name, _ in nodes} == {"ArrowEvalPython"}, nodes
        assert udfs == {"validate_payload_udf", "_norm_children_kernel"}, nodes
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_wave_frontier_snapshot_files_bounded(spark, universe):
    """The wave's relations are checkpointed under AQE, which sizes them
    to their data, so a 100-seed wave writes its frontier snapshot as a
    couple of files, not one per session shuffle partition (a cached
    plan keeps the session's 8)."""
    web, images, robots, _ = universe
    seeds = generate_seeds(100, N_URLS, N_HOSTS)
    workdir = tempfile.mkdtemp(prefix="navi-files-")
    try:
        eng, _ = _mk_engine(spark, (web, images, robots, seeds), workdir)
        eng.bootstrap(seeds)
        eng.wave()
        n_files = len(eng.t["frontier"].data_files())
        assert 0 < n_files <= 2, f"frontier snapshot has {n_files} files"
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_phash_seen_has_no_duplicates(std_run):
    """A wave appends its successes' phashes without a distinct(): a
    fetched row is the first of its phash in the wave and no earlier
    wave recorded it, so over a whole crawl every phash appears once."""
    ph = std_run.t["phash_seen"].read()
    assert std_run.wave_id > 1
    assert ph.count() == std_run.pages().count() > 0
    assert ph.groupBy("phash").count().filter(F.col("count") > 1).count() == 0


def test_error_paths_leak_no_cache(spark, universe, monkeypatch):
    """A wave or a recrawl that raises mid-pipeline unpersists every
    relation it cached: no RDD persisted during the failed call survives
    it (ids, not counts, so an unrelated RDD cleaned up meanwhile cannot
    mask a leak)."""
    import navi_spark.operators.frontier as fr

    def boom(*_a, **_k):
        raise RuntimeError("robots lookup failed")

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())  # noqa: SLF001

    real_filter = fr.filter_allowed
    workdir = tempfile.mkdtemp(prefix="navi-leak-")
    try:
        eng, seeds = _mk_engine(spark, universe, workdir)
        eng.bootstrap(seeds)
        before = persisted()
        monkeypatch.setattr(fr, "filter_allowed", boom)
        with pytest.raises(RuntimeError, match="robots lookup failed"):
            eng.wave()
        assert persisted() <= before
        assert eng.wave_id == 0  # nothing committed

        monkeypatch.setattr(fr, "filter_allowed", real_filter)
        eng.wave()
        before = persisted()
        monkeypatch.setattr(fr, "filter_allowed", boom)
        with pytest.raises(RuntimeError, match="robots lookup failed"):
            eng.recrawl()
        assert persisted() <= before
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_control_plane_builds_no_python_rdd(spark, universe, monkeypatch):
    """Driver-built relations (seed list, lineage rows and empty-table
    reads) go to the JVM as Arrow tables: a bootstrap from a
    Python list and two waves never build a Python RDD, whose tasks would
    each pay a Python worker's start-up cost."""
    workdir = tempfile.mkdtemp(prefix="navi-nordd-")
    try:
        eng, seeds = _mk_engine(spark, universe, workdir)

        def no_python_rdd(*_a, **_k):
            raise AssertionError("control plane built a Python RDD")

        monkeypatch.setattr(spark.sparkContext, "parallelize", no_python_rdd)
        eng.bootstrap(list(seeds))
        s1, s2 = eng.wave(), eng.wave()
        assert s1.attempted > 0 and s2.attempted > 0
        lin = eng.t["lineage"].read().collect()
        assert {r["wave_id"] for r in lin} == {1, 2}
        assert all(r["wall_ms"] > 0 for r in lin)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_recrawl_spark_job_count_bounded(spark, universe):
    """Recrawl discipline (VERDICT r03 nit 1): the old implementation ran
    3 standalone count() jobs + a statuses groupBy after the merge; all
    stats now derive from two small aggregations over checkpointed sets.
    Guard by counting the jobs one recrawl launches."""
    workdir = tempfile.mkdtemp(prefix="navi-recrawl-jobs-")
    sc = spark.sparkContext
    try:
        eng, seeds = _mk_engine(spark, universe, workdir)
        eng.bootstrap(seeds)
        eng.run(max_waves=30)
        # no-drift recrawl: nothing changes, so the PageRank loop (its own
        # iteration-bounded job budget) stays out of the count and the
        # measurement isolates the stats/merge discipline itself
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        sc.setJobGroup("recrawl-jobcount", "count jobs in one recrawl")
        try:
            stats = eng.recrawl()
        finally:
            sc.setJobGroup(None, None)
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        assert not stats["pagerank_recomputed"]
        tracker = sc._jsc.sc().statusTracker()  # noqa: SLF001
        ids = tracker.getJobIdsForGroup("recrawl-jobcount")
        n_jobs = len(list(ids))
        # measured composition (11): 3 localCheckpoints (labeled / lab /
        # consumed), 4 broadcast builds (the bounded cap boundary and the
        # web/images/rules joins), the 2 key collects of the
        # classification-scan prune, the consumed agg and the statuses
        # agg. Reads start no job (the manifest carries the schema) and
        # the cut is a file written on the driver. With n_changed == 0
        # there is no children fetch and no MERGE (whose key broadcast
        # and parquet write were 2 more jobs). The guard trips if
        # per-stat rescans (the 3 old count() jobs + the statuses groupBy
        # over un-checkpointed lineage ≈ +4) creep back in, or a no-drift
        # recrawl rewrites the store again.
        assert 0 < n_jobs <= 11, f"recrawl launched {n_jobs} Spark jobs"
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_robots_reference_bug_parity_mode():
    """RobotServer.java:228 wraps rules in Pattern.quote, so the SHIPPED
    binary never blocks anything. The parity flag must reproduce that
    (allow-all) in both oracles, and differ from the intended-semantics
    default whenever disallow rules exist."""
    oweb, oimages, orobots = build_oracle_inputs(N_URLS, N_HOSTS)
    seeds = generate_seeds(6, N_URLS, N_HOSTS)
    base = dict(max_pages=40, max_pages_per_domain=3, wave_budget=1)
    fixed = OracleConfig(**base)
    buggy = OracleConfig(**base, robots_reference_bug=True)
    w_fix = crawl_oracle(seeds, oweb, oimages, orobots, fixed)
    w_bug = crawl_oracle(seeds, oweb, oimages, orobots, buggy)
    s_bug = sequential_crawl_oracle(seeds, oweb, oimages, orobots, buggy)
    # parity mode agrees across wave/sequential linearizations
    assert [p["url"] for p in w_bug.pages] == [p["url"] for p in s_bug.pages]
    assert w_bug.seen == s_bug.seen
    # and the flag genuinely changes behavior: robots-disallowed host5
    # (/p/1* disallowed) pages are crawled only in bug mode
    extra = w_bug.seen - w_fix.seen
    assert extra and any("host5.test/p/1" in u for u in extra)


def test_resume_after_torn_first_commit(spark, universe, oracle_result):
    """Crash DURING wave 1: pages/phash_seen got their first-ever commits
    (data and manifest on disk) but the published cut still holds the
    bootstrap state, which names no snapshot for them. A resumed engine
    sees both tables EMPTY, and the rerun must match the uninterrupted
    oracle exactly — no double-appended pages."""
    workdir = tempfile.mkdtemp(prefix="navi-torn-")
    try:
        eng, seeds = _mk_engine(spark, universe, workdir)
        eng.bootstrap(seeds)
        # simulate the torn middle of wave 1: pages + phash_seen
        # committed, crash before host_counts/frontier/the cut
        junk = spark.createDataFrame(
            [("http://torn.example/x", "imgX", 0, "torn", 0, 1.0,
              "torn.example", 1, [])],
            "url string, image_id string, phash long, caption string, "
            "depth int, rank double, host string, wave_id int, "
            "children array<string>",
        )
        eng.t["pages"].append(junk, {"wave": 1, "torn": True})
        eng.t["phash_seen"].append(junk.select("phash"),
                                   {"wave": 1, "torn": True})
        assert eng.t["pages"].snapshot_id() == 1
        assert os.listdir(os.path.join(workdir, "pages", "manifests")) == [
            "1.json"]

        eng2, _ = _mk_engine(spark, universe, workdir)
        eng2.resume()
        assert eng2.wave_id == 0
        assert eng2.t["pages"].snapshot_id() is None   # never published
        assert eng2.t["phash_seen"].snapshot_id() is None
        eng2.run(max_waves=30)
        visit, seen, counts = _engine_state(eng2)
        assert visit == oracle_result.visit_order
        assert seen == oracle_result.seen
        assert counts == oracle_result.host_counts
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_parity_larger_universe(spark):
    """Bit-exactness at 3× the standard test universe (1000 urls, 30
    hosts, deeper budget) — guards against parity bugs that only appear
    with more hosts per partition, more frontier duplicates, and more
    waves."""
    n_urls, n_hosts = 1000, 30
    web = generate_web(spark, n_urls, n_hosts).cache()
    images = generate_images(spark, n_urls).cache()
    robots = generate_robots(spark, n_hosts)
    seeds = generate_seeds(8, n_urls, n_hosts)
    web.count(), images.count()
    workdir = tempfile.mkdtemp(prefix="navi-big-")
    try:
        cfg = CrawlConfig(
            max_pages=60, max_pages_per_domain=4, wave_budget=25,
            n_host_partitions=8, salt_buckets=4,
        )
        eng = CrawlEngine(spark, workdir, web, images, robots, cfg)
        eng.bootstrap(seeds)
        eng.run(max_waves=40)

        oweb, oimages, orobots = build_oracle_inputs(n_urls, n_hosts)
        ocfg = OracleConfig(max_pages=60, max_pages_per_domain=4,
                            wave_budget=25)
        ores = crawl_oracle(seeds, oweb, oimages, orobots, ocfg)
        visit, seen, counts = _engine_state(eng)
        assert visit == ores.visit_order
        assert seen == ores.seen
        assert counts == ores.host_counts
        assert eng.budget_consumed == ores.budget_consumed
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        web.unpersist(), images.unpersist()


def test_deep_seen_row_still_consumes_budget(spark, universe):
    """The reference charges budget for a too-deep pop even when the URL is
    already visited (crawl() depth check :364 precedes the visited refund
    :446). Reachable when a crawl resumes with a reduced max_depth or a
    deep-seeded frontier — the deep row must bypass the seen anti-join and
    burn one budget unit as a depth_skip, storing nothing."""
    web, images, robots, _seeds = universe
    workdir = tempfile.mkdtemp(prefix="navi-deepseen-")
    try:
        cfg = CrawlConfig(
            max_pages=10, max_pages_per_domain=3, wave_budget=5,
            n_host_partitions=4, salt_buckets=2, max_depth=0,
        )
        eng = CrawlEngine(spark, workdir, web, images, robots, cfg)
        seed_url = web.select("url").orderBy("url").first()["url"]
        eng.bootstrap([seed_url])
        eng.run(max_waves=2)
        assert eng.budget_consumed >= 1
        seen_urls = {r["url"] for r in eng.seen().collect()}
        assert seed_url in seen_urls
        budget_before = eng.budget_consumed
        pages_before = eng.pages().count()

        # deep-seed the frontier with an ALREADY-SEEN url at depth 5
        eng.t["frontier"].overwrite(
            spark.createDataFrame([(seed_url, 0.5, 5)], FRONTIER_SCHEMA),
            {"op": "test-deep-seed"},
        )
        stats = eng.wave()
        assert stats.depth_skips == 1
        assert eng.budget_consumed == budget_before + 1  # charged, not refunded
        assert eng.pages().count() == pages_before       # nothing stored
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# C21 composed recrawl (WebCrawler.java:536-761)
# ---------------------------------------------------------------------------

def _recrawl_universe(spark, n_urls=300, n_hosts=12, version=1):
    from navi_spark.sources.datagen import generate_web
    web_v1 = generate_web(spark, n_urls, n_hosts, version=version).cache()
    web_v1.count()
    return web_v1


def _oracle_pages_map(ores):
    return {p["url"]: p for p in ores.pages}


def _assert_recrawl_matches(eng, stats, ores):
    from collections import Counter

    assert stats["consumed"] == ores["consumed"]
    assert stats["pagerank_recomputed"] == ores["pagerank_recomputed"]
    # exact pop-outcome telemetry: the engine's statuses must equal the
    # oracle's per-pop classification (domain_skip included), and rows
    # the oracle never popped (budget exhausted) are the not_popped set
    assert stats["statuses"] == dict(Counter(ores["statuses"].values()))
    assert stats["not_popped"] == len(ores["pages"]) - len(ores["statuses"])
    assert stats["reloaded"] == len(ores["pages"])
    got = {
        r["url"]: (r["image_id"], r["phash"], r["caption"],
                   list(r["children"]), r["rank"])
        for r in eng.pages().collect()
    }
    want = {
        u: (p["image_id"], p["phash"], p["caption"],
            list(p["children"]), p["rank"])
        for u, p in ores["pages"].items()
    }
    assert set(got) == set(want)
    for u in got:
        assert got[u][:4] == want[u][:4], u
        assert got[u][4] == pytest.approx(want[u][4], rel=1e-9), u


def test_recrawl_parity_with_sequential_oracle(spark, universe, oracle_result):
    """Recrawls checked against sequential_recrawl_oracle. The first, of
    the drifted v1 web, reloads pages that all carry the crawl's rank 1.0
    and changes links, so PageRank reruns. The second, of the v2 web with
    a per-host cap of 1 and a budget of 3, pops pages in the rank-DESC
    order of those new ranks until both cuts bind: a host's second
    consuming page is skipped, and the budget runs out while a
    cap-eligible page is left. A wrong reload order or cap window then
    changes which pages it recrawls. It runs twice from the same tables,
    with 1 and 2 salt buckets: the host's pages share the window that
    picks its first `cap` in one layout and not in the other. The v2
    recrawl also sees robots that now disallow a stored page and a web
    where another stored page fails its fetch, so the engine classifies
    both refunds that need such a change (blocked_robots, a failed
    fetch) against the oracle."""
    from urllib.parse import urlparse

    from navi_spark.functions.urlnorm import host_of_py
    from navi_spark.operators.robots import parse_robots_txt
    from navi_spark.oracle import sequential_recrawl_oracle
    from navi_spark.sources.datagen import ROBOTS_SCHEMA

    def ocfg(cap):
        return OracleConfig(
            max_pages=MAX_PAGES, max_pages_per_domain=cap, wave_budget=WAVE)

    workdir = tempfile.mkdtemp(prefix="navi-recrawl-")
    web_v1 = _recrawl_universe(spark, N_URLS, N_HOSTS, version=1)
    web_v2 = _recrawl_universe(spark, N_URLS, N_HOSTS, version=2)
    try:
        eng, seeds = _mk_engine(spark, universe, workdir)
        eng.bootstrap(seeds)
        eng.run(max_waves=30)

        stats = eng.recrawl(web=web_v1, max_pages=12)
        ores = sequential_recrawl_oracle(
            oracle_result.pages,
            *build_oracle_inputs(N_URLS, N_HOSTS, version=1),
            ocfg(CAP), max_pages=12,
        )
        _assert_recrawl_matches(eng, stats, ores)
        assert stats["pagerank_recomputed"]

        # the oracle starts from the engine's own ranks, so float noise
        # in PageRank cannot reorder tied pages between the two
        pages = [r.asDict() for r in eng.pages().collect()]
        assert len({p["rank"] for p in pages}) > 1
        oweb, oimages, orobots = build_oracle_inputs(N_URLS, N_HOSTS,
                                                     version=2)
        # two pages that v2 refunds as 'touched' change only their own
        # pop outcome: robots now disallow one (by a path that no other
        # stored page of its host contains), and the other's image is gone
        touched = [u for u, st in sequential_recrawl_oracle(
            pages, oweb, oimages, orobots, ocfg(1), max_pages=3,
        )["statuses"].items() if st == "touched"]
        paths: dict[str, list[str]] = {}
        for p in pages:
            paths.setdefault(host_of_py(p["url"]), []).append(
                urlparse(p["url"]).path)
        blocked = next(u for u in touched if sum(
            urlparse(u).path in q for q in paths[host_of_py(u)]) == 1)
        failing = next(u for u in touched if u != blocked)
        host = host_of_py(blocked)
        txt = f"User-agent: *\nDisallow: {urlparse(blocked).path}\n"
        rows = {r["host"]: tuple(r) for r in universe[2].collect()}
        rows[host] = (host, txt, rows.get(host, (None, None, None))[2])
        robots_v2 = spark.createDataFrame(list(rows.values()), ROBOTS_SCHEMA)
        web_v2_fail = web_v2.withColumn("image_id", F.when(
            F.col("url") == failing, F.lit("imgmissing-v2")
        ).otherwise(F.col("image_id")))
        orobots[host] = parse_robots_txt(txt)
        oweb[failing] = ("imgmissing-v2", oweb[failing][1])
        ores = sequential_recrawl_oracle(
            pages, oweb, oimages, orobots, ocfg(1), max_pages=3)
        assert ores["statuses"][blocked] == "blocked_robots"
        assert ores["statuses"][failing] == "touched"
        # committed data is never rewritten, so a copy of the tables
        # resumes the same state
        shutil.copytree(workdir, workdir + "-salt1")
        for wd, salt in ((workdir + "-salt1", 1), (workdir, 2)):
            # a recrawl's cap is its engine's: resume the tables with cap 1
            eng, _ = _mk_engine(spark, (*universe[:2], robots_v2, None), wd,
                                max_pages_per_domain=1, salt_buckets=salt)
            eng.resume()
            stats = eng.recrawl(web=web_v2_fail, max_pages=3)
            _assert_recrawl_matches(eng, stats, ores)
            assert stats["consumed"] == 3 and stats["not_popped"] > 0
            assert stats["statuses"].get("domain_skip", 0) > 0
    finally:
        web_v1.unpersist(), web_v2.unpersist()
        shutil.rmtree(workdir + "-salt1", ignore_errors=True)
        shutil.rmtree(workdir, ignore_errors=True)


def test_recrawl_no_drift_is_all_refunds(spark, universe):
    """Same web version → every page 304s (or 200-unchanged on the
    no-validator hosts); nothing changes, PageRank NOT recomputed."""
    workdir = tempfile.mkdtemp(prefix="navi-recrawl0-")
    try:
        eng, seeds = _mk_engine(spark, universe, workdir)
        eng.bootstrap(seeds)
        eng.run(max_waves=30)
        before = sorted(
            (r["url"], r["phash"], r["rank"]) for r in eng.pages().collect()
        )
        sid = eng.t["pages"].snapshot_id()
        stats = eng.recrawl()  # same web/images
        assert stats["changed"] == 0
        assert not stats["pagerank_recomputed"]
        assert eng.t["pages"].snapshot_id() == sid  # nothing rewritten
        after = sorted(
            (r["url"], r["phash"], r["rank"]) for r in eng.pages().collect()
        )
        assert after == before
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_recrawl_scan_prune_gate_parity(spark, universe, monkeypatch):
    """The recrawl classification/children joins have two physical forms:
    broadcast-semi-pruned scans (store under RECRAWL_BROADCAST_MAX) and
    plain co-partitioned shuffles (the design-point fallback when the
    store exceeds broadcast size). Tests only ever exercise the pruned
    form, so force the fallback by zeroing the gate and assert the two
    plans produce bit-identical stats AND stored pages."""
    import navi_spark.operators.frontier as fr

    def run(workdir):
        eng, seeds = _mk_engine(spark, universe, workdir)
        eng.bootstrap(seeds)
        eng.run(max_waves=30)
        web_v1 = _recrawl_universe(spark, N_URLS, N_HOSTS, version=1)
        stats = eng.recrawl(web=web_v1, max_pages=12)
        pages = sorted(
            (r["url"], r["phash"], r["caption"], tuple(r["children"]),
             r["rank"], r["etag"], r["last_modified"])
            for r in eng.pages().collect()
        )
        web_v1.unpersist()
        return stats, pages

    wd_a = tempfile.mkdtemp(prefix="navi-prune-a-")
    wd_b = tempfile.mkdtemp(prefix="navi-prune-b-")
    try:
        stats_pruned, pages_pruned = run(wd_a)
        monkeypatch.setattr(fr, "RECRAWL_BROADCAST_MAX", 0)
        stats_plain, pages_plain = run(wd_b)
        assert stats_pruned == stats_plain
        assert pages_pruned == pages_plain
    finally:
        shutil.rmtree(wd_a, ignore_errors=True)
        shutil.rmtree(wd_b, ignore_errors=True)


def test_recrawl_zero_budget_pops_nothing(spark, universe):
    """Degenerate config (ADVICE r04): max_pages=0 — the reference checks
    budget BEFORE the first pop (WebCrawler.java:590-594), so every
    reloaded row is not_popped, nothing consumes, pages untouched."""
    workdir = tempfile.mkdtemp(prefix="navi-recrawl-zb-")
    try:
        eng, seeds = _mk_engine(spark, universe, workdir)
        eng.bootstrap(seeds)
        eng.run(max_waves=30)
        before = sorted(
            (r["url"], r["phash"], r["rank"]) for r in eng.pages().collect()
        )
        web_v1 = _recrawl_universe(spark, N_URLS, N_HOSTS, version=1)
        sid = eng.t["pages"].snapshot_id()
        stats = eng.recrawl(web=web_v1, max_pages=0)
        assert eng.t["pages"].snapshot_id() == sid  # nothing rewritten
        assert stats["consumed"] == 0
        assert stats["changed"] == 0
        assert stats["statuses"] == {}
        assert stats["not_popped"] == stats["reloaded"] == len(before)
        assert not stats["pagerank_recomputed"]
        after = sorted(
            (r["url"], r["phash"], r["rank"]) for r in eng.pages().collect()
        )
        assert after == before
        web_v1.unpersist()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_resume_mid_recrawl_rolls_back_merge(spark, universe, monkeypatch):
    """A crash AFTER the recrawl MERGE but BEFORE the cut is published
    leaves the pre-recrawl pages as the table a resumed engine reads, and
    a re-run recrawl then lands the same final state (idempotent
    replay)."""
    workdir = tempfile.mkdtemp(prefix="navi-recrawl-torn-")
    try:
        eng, seeds = _mk_engine(spark, universe, workdir)
        eng.bootstrap(seeds)
        eng.run(max_waves=30)
        before = sorted(
            (r["url"], r["phash"]) for r in eng.pages().collect()
        )
        web_v1 = _recrawl_universe(spark, N_URLS, N_HOSTS, version=1)
        sid = eng.t["pages"].snapshot_id()

        def crash(*a, **kw):
            assert eng.t["pages"].snapshot_id() > sid  # the MERGE staged
            raise RuntimeError("simulated crash before the cut is written")
        monkeypatch.setattr(eng.root, "publish", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            eng.recrawl(web=web_v1)
        monkeypatch.undo()

        # fresh engine + resume: the MERGE was never published
        web, images, robots, _ = universe
        from navi_spark.operators.frontier import CrawlConfig
        eng2 = CrawlEngine(
            spark, workdir, web, images, robots,
            CrawlConfig(max_pages=MAX_PAGES, max_pages_per_domain=CAP,
                        wave_budget=WAVE, n_host_partitions=4,
                        salt_buckets=2),
        )
        eng2.resume()
        assert sorted(
            (r["url"], r["phash"]) for r in eng2.pages().collect()
        ) == before

        # replaying the recrawl completes and changes pages deterministically
        stats = eng2.recrawl(web=web_v1)
        assert stats["changed"] > 0
        web_v1.unpersist()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_failed_recrawl_leaves_pages_unchanged(spark, universe, monkeypatch):
    """A recrawl that raises after its MERGE leaves the engine that ran it
    on the pre-recrawl pages, and the same engine's retry completes."""
    workdir = tempfile.mkdtemp(prefix="navi-recrawl-fail-")
    try:
        eng, seeds = _mk_engine(spark, universe, workdir)
        eng.bootstrap(seeds)
        eng.run(max_waves=30)
        sid = eng.t["pages"].snapshot_id()
        before = sorted((r["url"], r["phash"], r["rank"])
                        for r in eng.pages().collect())
        web_v1 = _recrawl_universe(spark, N_URLS, N_HOSTS, version=1)
        merge = eng.t["pages"].merge_upsert

        def merge_then_fail(*a, **kw):
            merge(*a, **kw)
            raise RuntimeError("failed after the MERGE")

        monkeypatch.setattr(eng.t["pages"], "merge_upsert", merge_then_fail)
        with pytest.raises(RuntimeError, match="after the MERGE"):
            eng.recrawl(web=web_v1)
        monkeypatch.undo()
        assert eng.t["pages"].snapshot_id() == sid
        assert sorted((r["url"], r["phash"], r["rank"])
                      for r in eng.pages().collect()) == before
        assert eng.recrawl(web=web_v1)["changed"] > 0
        web_v1.unpersist()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_drifted_recrawl_keeps_session_conf(spark, universe, monkeypatch):
    """A drifted recrawl (PageRank reruns, with its small-graph loop
    confs) sets no conf on the engine's session: the caller's AQE,
    wholeStage codegen and shuffle partitions hold at every conf write
    made during the call, on any session, and after it."""
    from pyspark.sql.conf import RuntimeConfig

    confs = ("spark.sql.adaptive.enabled", "spark.sql.codegen.wholeStage",
             "spark.sql.shuffle.partitions")
    before = [spark.conf.get(c) for c in confs]
    engine_conf = spark.conf._jconf  # noqa: SLF001
    writes, elsewhere, seen = [], [], []
    set_conf = RuntimeConfig.set

    def spy(self, key, value):
        set_conf(self, key, value)
        mine = self._jconf.equals(engine_conf)  # noqa: SLF001
        (writes if mine else elsewhere).append((key, value))
        seen.append([spark.conf.get(c) for c in confs])

    workdir = tempfile.mkdtemp(prefix="navi-recrawl-conf-")
    web_v1 = _recrawl_universe(spark, N_URLS, N_HOSTS, version=1)
    try:
        eng, seeds = _mk_engine(spark, universe, workdir)
        eng.bootstrap(seeds)
        eng.run(max_waves=30)
        monkeypatch.setattr(RuntimeConfig, "set", spy)
        stats = eng.recrawl(web=web_v1, max_pages=12)
        monkeypatch.undo()
        assert stats["pagerank_recomputed"]
        assert writes == [], "recrawl set confs on the engine's session"
        # the spy saw PageRank's loop confs go to a session of their own
        assert ("spark.sql.adaptive.enabled", "false") in elsewhere
        assert all(v == before for v in seen)
        assert [spark.conf.get(c) for c in confs] == before
    finally:
        web_v1.unpersist()
        shutil.rmtree(workdir, ignore_errors=True)


def test_crawl_recrawl_crawl_lifecycle(spark, universe):
    """Full freshness lifecycle: crawl part of the budget, recrawl against
    a drifted web (ranks move via PageRank), then CONTINUE crawling — the
    frontier must still schedule, the seen set stays consistent (no page
    crawled twice), and budget accounting carries across the phases."""
    workdir = tempfile.mkdtemp(prefix="navi-life-")
    try:
        eng, seeds = _mk_engine(spark, universe, workdir)
        eng.bootstrap(seeds)
        eng.run(max_waves=2)           # partial crawl
        pages_mid = eng.pages().count()
        budget_mid = eng.budget_consumed
        assert 0 < pages_mid

        web_v1 = _recrawl_universe(spark, N_URLS, N_HOSTS, version=1)
        stats = eng.recrawl(web=web_v1)
        assert stats["pagerank_recomputed"] or stats["changed"] == 0
        assert eng.budget_consumed == budget_mid  # crawl budget untouched

        eng.run(max_waves=30)          # continue crawling the v1 web
        pages_end = eng.pages().collect()
        urls = [r["url"] for r in pages_end]
        assert len(urls) == len(set(urls))        # no page stored twice
        assert len(urls) >= pages_mid
        seen = {r["url"] for r in eng.seen().collect()}
        assert set(urls) <= seen
        # per-host counts never exceed the cap after all three phases
        counts = {r["host"]: r["successes"]
                  for r in eng.t["host_counts"].read().collect()}
        assert all(v <= CAP for v in counts.values()), counts
        # resumable end state: a fresh engine picks up the same tables
        eng2, _ = _mk_engine(spark, universe, workdir)
        eng2.resume()
        assert eng2.pages().count() == len(urls)
        web_v1.unpersist()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_workdir_holds_live_tables_and_cut_only(spark, universe):
    """Each crawl fact is stored once: a crawl, a recrawl and maintain()
    write exactly the live tables plus the cut file, and no retired table
    (the seen set, the bloom filters, wave metrics, the state row) ever
    gets a directory. The cut is the only commit point: a table directory
    holds its data and manifests, and no per-table HEAD or root file."""
    workdir = tempfile.mkdtemp(prefix="navi-tables-")
    try:
        eng, seeds = _mk_engine(spark, universe, workdir)
        assert set(eng.t) == {"frontier", "pages", "host_counts",
                              "phash_seen", "lineage"}
        assert not set(eng.t) & set(CrawlEngine._RETIRED)
        want = {*eng.t, CUT_FILE}

        def check():
            assert set(os.listdir(workdir)) == want
            for n in eng.t:
                assert set(os.listdir(os.path.join(workdir, n))) == {
                    "data", "manifests"}, n

        eng.bootstrap(seeds)
        eng.run(max_waves=2)
        check()
        web_v1 = _recrawl_universe(spark, N_URLS, N_HOSTS, version=1)
        eng.recrawl(web=web_v1)
        web_v1.unpersist()
        check()
        eng.maintain(min_files=2)
        check()
        assert all(eng.t[n].exists() for n in eng.t)
        assert not any("HEAD" in fns for _, _, fns in os.walk(workdir))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# take_k_smallest: bounded web-scale budget selection (C7 at design point)
# ---------------------------------------------------------------------------


def _topk_pool(spark, n, ranks="mixed", parts=None):
    df = spark.range(0, n, 1, parts).select(
        F.format_string("http://h%03d.test/p/%07d",
                        F.pmod(F.col("id"), F.lit(37)),
                        F.pmod(F.col("id") * 2654435761, F.lit(10_000_019)),
                        ).alias("url"),
        F.col("id"),
    )
    if ranks == "equal":
        # wave-1 reality: every bootstrap row has INITIAL_RANK, the sort
        # is decided purely by the url string (worst case for any
        # rank-histogram shortcut)
        df = df.withColumn("rank", F.lit(1.0))
    else:
        # few discrete levels with heavy ties at the boundary
        df = df.withColumn(
            "rank", (F.pmod(F.col("id"), F.lit(5)) / 10.0 + 0.5))
    return df.drop("id").withColumn("depth", F.lit(0))


@pytest.mark.parametrize("ranks,k", [
    ("equal", 15_000),    # all-ties: pure string-order selection
    ("mixed", 15_000),    # boundary lands inside a dense rank tie
    ("mixed", 59_000),    # k ~ n: band reaches the tail
])
def test_take_k_smallest_matches_global_sort(spark, ranks, k):
    from navi_spark.operators.frontier import take_k_smallest

    pool = _topk_pool(spark, 60_000, ranks).persist()
    try:
        got = take_k_smallest(pool, k, sample_rows=5_000)
        exp = pool.orderBy("rank", "url").limit(k)
        assert got.count() == k
        # exact same SET (order is unspecified by contract)
        assert got.exceptAll(exp).isEmpty() and exp.exceptAll(got).isEmpty()
    finally:
        pool.unpersist()


def test_take_k_smallest_k_covers_pool(spark):
    from navi_spark.operators.frontier import take_k_smallest

    pool = _topk_pool(spark, 2_000).persist()
    try:
        assert take_k_smallest(pool, 2_000).count() == 2_000
        assert take_k_smallest(pool, 50_000).count() == 2_000
    finally:
        pool.unpersist()


def test_take_k_smallest_sample_is_seeded(spark, monkeypatch):
    """The pivot sample's plan carries take_k_smallest's fixed seed 7, so
    the same pool draws the same sample on every run. A positional
    fraction with a `seed=` keyword is read by PySpark as (fraction,
    seed=None) and gets a random seed."""
    from navi_spark.operators.frontier import take_k_smallest
    from navi_spark.plans import explain_str

    pool = _topk_pool(spark, 2_000, parts=4)
    samples = []
    sample = type(pool).sample

    def spy(self, *args, **kwargs):
        out = sample(self, *args, **kwargs)
        samples.append(out)
        return out

    monkeypatch.setattr(type(pool), "sample", spy)
    take_k_smallest(pool, 500, sample_rows=200)
    assert len(samples) == 1
    seeds = re.findall(r"Sample [^,]+, [^,]+, (?:true|false), (-?\d+)",
                       explain_str(samples[0], "simple"))
    assert seeds == ["7"]


def test_take_k_smallest_fallback_is_exact(spark):
    """A degenerate 1-row sample that draws nothing cannot bracket the
    k-th key; the guard must reroute to the exact global sort, loudly.
    The sample is seeded, so on this pool (4 range partitions) it draws
    no row on every run."""
    from navi_spark.operators.frontier import take_k_smallest

    n, k = 10_000, 4_000
    pool = _topk_pool(spark, n, "equal", parts=4).persist()
    try:
        assert pool.select("rank", "url").sample(
            fraction=1 / n, seed=7).isEmpty()
        with pytest.warns(RuntimeWarning, match="top-k sample empty"):
            got = take_k_smallest(pool, k, sample_rows=1)
        exp = pool.orderBy("rank", "url").limit(k)
        assert got.count() == k
        assert got.exceptAll(exp).isEmpty() and exp.exceptAll(got).isEmpty()
    finally:
        pool.unpersist()


def test_take_k_smallest_misbracket_fallback_is_exact(spark):
    """Both pivots land on one (rank, url) key that 500 of the pool's 600
    rows share, so c_lo = c_hi = 600 > k: no band can be cut there, and
    the guard must reroute to the exact global sort, loudly."""
    from navi_spark.operators.frontier import take_k_smallest

    pool = spark.range(600).select(
        F.when(F.col("id") < 100,
               F.format_string("http://h.test/p/%04d", F.col("id")))
        .otherwise(F.lit("http://h.test/tied")).alias("url"),
        F.lit(1.0).alias("rank"),
        F.lit(0).alias("depth"),
    ).persist()
    try:
        # sample_rows ≥ n: the sample is the whole pool, never empty
        with pytest.warns(RuntimeWarning, match="misbracketed"):
            got = take_k_smallest(pool, 200, sample_rows=1_000)
        exp = pool.orderBy("rank", "url").limit(200)
        assert got.count() == 200
        assert got.exceptAll(exp).isEmpty() and exp.exceptAll(got).isEmpty()
    finally:
        pool.unpersist()


def test_take_k_smallest_recursive_band(spark):
    """A tiny sample forces a wide pivot band with a web-scale remainder,
    so the band selection must RECURSE (the band at a 10^10-row pool is
    ~10^8 rows — sorting it with orderBy().limit() would reintroduce the
    single-task merge). Equality vs the global sort proves exactness
    through the recursion."""
    from navi_spark.operators.frontier import take_k_smallest

    pool = _topk_pool(spark, 60_000, "equal").persist()
    try:
        got = take_k_smallest(pool, 30_000, sample_rows=200)
        exp = pool.orderBy("rank", "url").limit(30_000)
        assert got.count() == 30_000
        assert got.exceptAll(exp).isEmpty() and exp.exceptAll(got).isEmpty()
    finally:
        pool.unpersist()
