"""The benchmark workloads: inputs from a seed, a timed closed loop
through the engine's public API, and a check of every output against a
reference (the Python oracles for the crawler, the plain ``search()``
path for the served index).

Each workload returns a :class:`Result` with the end-to-end metrics (see
README.md for what each metric means on each workload) plus the counters
the traced run turns into per-layer ratios.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import time
import urllib.parse
import urllib.request
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from procstat import tree_cpu_s

from navi_spark.api import QueryEngineServer, ServedIndex
from navi_spark.catalog import SnapshotTable
from navi_spark.operators import bloom, indexer, ranker
from navi_spark.operators.frontier import CrawlConfig, CrawlEngine
from navi_spark.operators.search import search
from navi_spark.oracle import OracleConfig, build_oracle_inputs, crawl_oracle
from navi_spark.sources import datagen

SETUP_REPEATS = 5

# Sizes per workload. "full" is what the benchmark measures; "tiny" is for
# the smoke test. The crawl runs one reference-scale wave (wave_budget <=
# 10k, the TakeOrdered path) whose budget the 100 distinct seeds fill, so
# every seed attempts the same 100 URLs. One wave, not several: a wave's
# fixed job chain costs 10-20 s on a 4-vCPU host, and a run must stay
# around a minute.
SIZES = {
    "crawl": {
        "full": dict(n_urls=1000, n_hosts=20, n_seeds=100, max_pages=1000,
                     cap=30, wave_budget=100, waves=1),
        "tiny": dict(n_urls=300, n_hosts=12, n_seeds=6, max_pages=30,
                     cap=3, wave_budget=12, waves=1),
    },
    "search": {
        "full": dict(n_docs=2000, k=10),
        "tiny": dict(n_docs=300, k=5),
    },
}


@dataclass
class Result:
    """What one benchmark run measured. `e2e` maps metric name to
    (value, unit); `counts` carries per-workload totals the traced run
    reports as per-layer counts and ratios."""

    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    samples: dict[str, int] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)
    mismatches: list[str] = field(default_factory=list)
    phases: dict[str, float] = field(default_factory=dict)

    def phase(self, name: str, since: float) -> float:
        """Record the wall time of a run phase; returns now."""
        now = time.perf_counter()
        self.phases[name] = now - since
        return now

    def check(self, what: str, problems: list[str]) -> None:
        """Count one checked operation; any problem makes it a failure."""
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems[:5]:
                msg = f"{what}: {p}"
                self.mismatches.append(msg)
                print(f"[perfbench] MISMATCH {msg}", file=sys.stderr)


class _Stopwatch:
    """Wall seconds and process-tree CPU seconds of one operation."""

    def __init__(self):
        self.wall0, self.cpu0 = time.perf_counter(), tree_cpu_s()

    def stop(self) -> tuple[float, float]:
        return time.perf_counter() - self.wall0, tree_cpu_s() - self.cpu0


def _timed_setup(build, teardown) -> tuple[float, object]:
    """Run `build` SETUP_REPEATS times (tearing down all but the last),
    return the median wall time and the last build's product."""
    walls, out = [], None
    for _ in range(SETUP_REPEATS):
        if out is not None:
            teardown(out)
        t0 = time.perf_counter()
        out = build()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls), out


# -- crawler helpers ----------------------------------------------------------

def _crawl_config(p: dict) -> CrawlConfig:
    """Engine config sized to the workload: 8 host partitions x 4 salts,
    and a bloom pre-filter with the bits the expected pages per partition
    need (bloom.sizing)."""
    bits, hashes = bloom.sizing(max(1, p["max_pages"] // 32))
    return CrawlConfig(
        max_pages=p["max_pages"], max_pages_per_domain=p["cap"],
        wave_budget=p["wave_budget"], n_host_partitions=8, salt_buckets=4,
        bloom_bits_per_partition=bits, bloom_hashes=hashes,
    )


def _oracle_config(p: dict) -> OracleConfig:
    return OracleConfig(max_pages=p["max_pages"],
                        max_pages_per_domain=p["cap"],
                        wave_budget=p["wave_budget"], max_waves=p["waves"])


def _crawl_problems(eng: CrawlEngine, ores) -> list[str]:
    """Visit order, seen set, per-host counts and budget vs crawl_oracle."""
    out = []
    visit = [(r["wave_id"], r["url"]) for r in eng.visit_order().collect()]
    if visit != ores.visit_order:
        out.append(f"visit order differs ({len(visit)} vs "
                   f"{len(ores.visit_order)} pages)")
    seen = {r["url"] for r in eng.seen().collect()}
    if seen != ores.seen:
        out.append(f"seen set differs by {len(seen ^ ores.seen)} urls")
    counts = {r["host"]: r["successes"]
              for r in eng.t["host_counts"].read().collect()}
    if counts != ores.host_counts:
        out.append("host counts differ")
    if eng.budget_consumed != ores.budget_consumed:
        out.append(f"budget_consumed {eng.budget_consumed} != "
                   f"{ores.budget_consumed}")
    return out


class _WaveTimer:
    """Times every wave() an engine runs, from outside the engine."""

    def __init__(self, eng: CrawlEngine):
        self.wall_ms: list[float] = []
        self.cpu_ms: list[float] = []
        self.stats = []
        inner = eng.wave

        def timed():
            sw = _Stopwatch()
            s = inner()
            wall, cpu = sw.stop()
            self.wall_ms.append(wall * 1000.0)
            self.cpu_ms.append(cpu * 1000.0)
            self.stats.append(s)
            return s

        eng.wave = timed


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# -- crawl --------------------------------------------------------------------

def run_crawl(spark, seed, seconds, size, workdir, tracer) -> Result:
    p = SIZES["crawl"][size]
    rng = random.Random(seed)
    ids = rng.sample(range(p["n_urls"]), p["n_seeds"])
    seeds = [datagen.dirty_url(i, p["n_hosts"]) for i in ids]
    seeds.append(datagen.canonical_url(ids[0], p["n_hosts"]))  # dup spelling
    res = Result()

    # the inputs: made once, not part of the program's set-up
    t = time.perf_counter()
    web = datagen.generate_web(spark, p["n_urls"], p["n_hosts"]).cache()
    images = datagen.generate_images(spark, p["n_urls"]).cache()
    robots = datagen.generate_robots(spark, p["n_hosts"]).cache()
    inputs = (web, images, robots)
    for df in inputs:
        df.count()
    t = res.phase("inputs", t)

    # the reference, once per seed, outside timing and set-up
    cfg = _crawl_config(p)
    oweb, oimages, orobots = build_oracle_inputs(p["n_urls"], p["n_hosts"])
    ores = crawl_oracle(seeds, oweb, oimages, orobots, _oracle_config(p))
    t = res.phase("reference", t)

    def engine(n: int) -> CrawlEngine:
        return CrawlEngine(spark, _fresh(os.path.join(workdir, f"c{n}")),
                           web, images, robots, cfg)

    # set-up: the engine's own (snapshot tables, parsed robots rules)
    setup_s, first = _timed_setup(lambda: engine(1),
                                  lambda e: e.rules.unpersist())
    t = res.phase("setup", t)

    def crawl(n: int, check: bool = True):
        eng = first if n == 1 else engine(n)
        waves = _WaveTimer(eng)
        sw = _Stopwatch()
        eng.bootstrap(seeds)
        eng.run(max_waves=p["waves"])
        spent = sw.stop()
        if check:
            res.check("crawl", _crawl_problems(eng, ores))
        eng.rules.unpersist()
        shutil.rmtree(os.path.join(workdir, f"c{n}"), ignore_errors=True)
        return spent, waves

    # one untimed crawl first: the first crawl of a JVM pays for plan code
    # generation and JIT compilation, which a long-running crawler pays
    # once and which varied by tens of percent from run to run. It is not
    # checked, to keep a run near a minute; every timed crawl is.
    crawl(1, check=False)
    t = res.phase("warmup", t)

    if tracer:
        tracer.install()
    crawls = []
    deadline = time.perf_counter() + seconds
    while not crawls or time.perf_counter() < deadline:
        spent, waves = crawl(len(crawls) + 2)
        crawls.append((sum(s.attempted for s in waves.stats), spent, waves))
        print(f"[perfbench] crawl {len(crawls)}: bootstrap + run "
              f"{spent[0]:.2f} s wall, {spent[1]:.2f} s CPU", file=sys.stderr,
              flush=True)
        for s in waves.stats:
            for k in ("scheduled", "deduped", "attempted", "fetched"):
                res.counts[k] = res.counts.get(k, 0) + getattr(s, k)
        res.counts["waves"] = res.counts.get("waves", 0) + len(waves.stats)
        res.counts["crawl_s"] = res.counts.get("crawl_s", 0.0) + spent[0]
    res.phase("measure", t)
    if tracer:
        tracer.uninstall()
    for df in inputs:
        df.unpersist()

    def med(f):
        return statistics.median(f(c) for c in crawls)

    wave_wall = [ms for c in crawls for ms in c[2].wall_ms]
    wave_cpu = [ms for c in crawls for ms in c[2].cpu_ms]
    res.samples = {"crawls": len(crawls), "waves": len(wave_wall)}
    res.e2e = {
        "setup_s": (setup_s, "s"),
        "cpu_ms_p50": (statistics.median(wave_cpu), "ms"),
    }
    res.counts.update(
        crawls=len(crawls),
        throughput_per_cpu_s=med(lambda c: c[0] / c[1][1]),
        wall_throughput_per_s=med(lambda c: c[0] / c[1][0]),
        wall_latency_ms_p50=statistics.median(wave_wall),
    )
    return res


# -- search -------------------------------------------------------------------

# the sf0.1 documents' vocabulary: ~30 words, so plain words have idf <= 0
# and the marker tokens below are what a terms query ranks on
_CORPUS_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_T_MARKS = ("ta", "tb", "tc", "td", "te", "tf", "tg")
_U_MARKS = ("ua", "ub", "uc", "ud", "ue")
FIELDS = {"h1": "h1", "other": "other"}


def corpus_texts(n_docs: int) -> list[str]:
    """A fixed synthetic corpus shaped like the sf0.1 documents table:
    12-59 words per doc over a ~30-word vocabulary."""
    out = []
    for i in range(n_docs):
        r = np.random.default_rng([42, i])
        words = r.integers(0, len(_CORPUS_VOCAB), int(r.integers(12, 60)))
        out.append(" ".join(_CORPUS_VOCAB[w] for w in words))
    return out


def corpus_pages(spark, texts: list[str]):
    """(url, rank, h1, other) pages, with doc_id-derived marker tokens
    (df ~ N/7 and N/5, so idf > 0) appended as bench.py does."""
    d = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(len(texts)), "text": texts}))
    t_marks = F.array(*[F.lit(m) for m in _T_MARKS])
    u_marks = F.array(*[F.lit(m) for m in _U_MARKS])
    return d.select(
        F.col("doc_id").cast("string").alias("url"),
        ((F.col("doc_id") % 100) / 100.0).alias("rank"),
        F.regexp_extract(F.lower("text"), r"^(\S+ \S+ \S+)", 1).alias("h1"),
        F.concat(
            F.regexp_replace(F.lower("text"), r"^(\S+ \S+ \S+)\s*", ""),
            F.lit(" "),
            F.element_at(t_marks, (F.col("doc_id") % 7 + 1).cast("int")),
            F.lit(" "),
            F.element_at(u_marks, (F.col("doc_id") % 5 + 1).cast("int")),
        ).alias("other"),
    )


def query_pool(rng: random.Random) -> list[str]:
    """Five queries, one of each shape: two and three terms, a phrase, a
    phrase OR a word, and word AND word NOT word. The seed draws the
    words; the shapes, and so the plans a pass runs, are the same on every
    seed. Every query matches well over k documents of the corpus."""
    m = rng.sample(_T_MARKS + _U_MARKS, 5)
    w = rng.sample([w for w in _CORPUS_VOCAB if w not in ("a", "the")], 7)
    return [
        f"{m[0]} {m[1]}",
        f"{m[2]} {m[3]} {m[4]}",
        f'"{w[0]} {w[1]}"',
        f'"{w[2]} {w[3]}" OR "{w[4]}"',
        f'"{w[5]}" AND "{w[6]}" NOT "{w[0]}"',
    ]


def build_served_index(pages, k: int, suggestions):
    """Postings, field lengths, phrase index, served layout and IDF table
    over `pages`, all materialised (bench.py's served-index recipe)."""
    postings = indexer.build_postings(pages, "url", FIELDS, stem=False).cache()
    lengths = indexer.field_lengths(pages, "url", FIELDS, stem=False).cache()
    phrase_idx = ranker.build_phrase_index(pages, "url", list(FIELDS.values()),
                                           parts=4)
    n_docs = pages.count()
    postings.count(), lengths.count()
    phrase_idx.pairs.count(), phrase_idx.word_df.count()
    avgs = ranker.avg_field_lengths(lengths, list(FIELDS))
    served = (indexer.embed_field_lengths(postings, lengths)
              .repartition(4, "word").cache())
    idf_tab = ranker.idf(postings, n_docs).coalesce(1).cache()
    served.count(), idf_tab.count()
    idx = ServedIndex(
        pages=pages, postings=served, field_cols=FIELDS, n_docs=n_docs,
        lengths=lengths, phrase_index=phrase_idx, avg_lengths=avgs,
        idf_table=idf_tab, suggestions=suggestions, k=k,
    )
    return idx, (postings, lengths, phrase_idx.pairs, phrase_idx.word_df,
                 served, idf_tab)


def _http(url: str, method: str = "GET"):
    req = urllib.request.Request(url, data=b"" if method == "POST" else None,
                                 method=method)
    with urllib.request.urlopen(req, timeout=120) as r:
        return json.loads(r.read())


def run_search(spark, seed, seconds, size, workdir, tracer) -> Result:
    p = SIZES["search"][size]
    rng = random.Random(seed)
    pool = query_pool(rng)
    res = Result()

    texts = corpus_texts(p["n_docs"])

    def build():
        pages = corpus_pages(spark, texts).repartition(4).cache()
        pages.count()
        return pages

    t = time.perf_counter()
    setup_s, pages = _timed_setup(
        build, lambda df: df.unpersist(blocking=True))
    t = res.phase("setup", t)
    sugg = SnapshotTable(spark, _fresh(os.path.join(workdir, "suggestions")))

    if tracer:
        tracer.install()
    # the served index, built once and untimed: one cold build per run
    # varied by ~40% between runs (the traced run reports indexer.build_s)
    with (tracer.span("indexer.build", job_group=True) if tracer
          else nullcontext()):
        idx, held = build_served_index(pages, p["k"], sugg)
    t = res.phase("index", t)

    # the reference: the plain search() path over the unembedded postings
    # and lengths, without phrase_index, avg_lengths or idf_table; once per
    # distinct query, outside the timed loop
    postings, lengths = held[0], held[1]
    n_docs = idx.n_docs
    want = {q: [(h.doc_id, h.score) for h in search(
        q, pages, postings, lengths, FIELDS, n_docs, k=p["k"])]
        for q in pool}
    t = res.phase("reference", t)

    wall_ms, cpu_ms, post_ms, res_ms = [], [], [], []
    with QueryEngineServer(idx) as base:
        # one untimed pass first: a served query shape repeats, so its
        # first-run plan compilation is not what a user of the server waits
        # for (it also varied the CPU of a first query by ~30%)
        for q in pool:
            _http(base + "/search?query=" + urllib.parse.quote(q), "POST")
            _http(base + "/results")
        # closed loop, one client, whole passes over the pool so every run
        # sees the same balance of terms, phrase and boolean queries
        deadline = time.perf_counter() + seconds
        i = 0
        while i % len(pool) or i == 0 or time.perf_counter() < deadline:
            q = pool[i % len(pool)]
            i += 1
            sw = _Stopwatch()
            _http(base + "/search?query=" + urllib.parse.quote(q), "POST")
            post_ms.append((time.perf_counter() - sw.wall0) * 1000.0)
            out = _http(base + "/results")
            wall, cpu = sw.stop()
            wall_ms.append(wall * 1000.0)
            cpu_ms.append(cpu * 1000.0)
            res_ms.append(wall_ms[-1] - post_ms[-1])
            got = [(r["url"], r["score"]) for r in out["results"]]
            ref = want[q]
            probs = []
            if len(got) != p["k"]:
                probs.append(f"{q!r}: {len(got)} rows, want {p['k']}")
            if [u for u, _ in got] != [u for u, _ in ref] or any(
                    abs(x - y) > 1e-9 * max(1.0, abs(y))
                    for (_, x), (_, y) in zip(got, ref)):
                probs.append(f"{q!r}: results differ from plain search()")
            res.check("query", probs)
    res.phase("measure", t)
    if tracer:
        tracer.uninstall()
    for df in held:
        df.unpersist(blocking=True)
    pages.unpersist()
    res.samples = {"queries": len(wall_ms)}
    res.e2e = {
        "setup_s": (setup_s, "s"),
        "cpu_ms_p50": (statistics.median(cpu_ms), "ms"),
    }
    res.counts.update(
        throughput_per_cpu_s=len(cpu_ms) / (sum(cpu_ms) / 1000.0),
        queries=len(wall_ms), index_docs=n_docs,
        post_search_ms=statistics.median(post_ms),
        results_ms=statistics.median(res_ms),
        wall_throughput_per_s=len(wall_ms) / (sum(wall_ms) / 1000.0),
        wall_latency_ms_p50=statistics.median(wall_ms),
    )
    return res


WORKLOADS = {"crawl": run_crawl, "search": run_search}


def run(spark, name, seed, seconds, size, workdir, tracer) -> Result:
    os.makedirs(workdir, exist_ok=True)
    return WORKLOADS[name](spark, seed, seconds, size, workdir, tracer)
