"""Traced mode: spans from wrappers around the engine's public calls, plus
Spark job/stage metrics grouped by the job group each top-level wrapper
sets, plus per-UDF Python time from Spark's perf UDF profiler.

Nothing in navi_spark is edited: `install()` swaps module and class
attributes for timing wrappers and `uninstall()` puts the originals
back. Spans stay in memory until `dump()` writes them out.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager

import navi_spark.api as api_mod
from navi_spark.catalog import SnapshotTable
from navi_spark.operators.frontier import CrawlEngine

_GROUP = "spark.jobGroup.id"

# per-layer UDF time: the navi_spark UDF bodies each layer runs
UDF_LAYERS = {
    "fetch.validate_udf_s": ("fetch.py:validate_payload_udf",),
    "urlnorm.udf_s": ("urlnorm.py:normalize_url_pandas_udf",
                      "urlnorm.py:host_udf", "urlnorm.py:base_url_udf",
                      "frontier.py:_norm_children_kernel"),
}


def _dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


class Tracer:
    """Collects spans while installed. Top-level spans (bootstrap, wave,
    query, index build) tag their Spark jobs with a job group
    ``<span name>#<n>`` so stage metrics can be summed per layer."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []
        self._t0 = time.perf_counter()

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, job_group: bool = False, **attrs):
        sid = next(self._ids)
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        prev = None
        if job_group:
            prev = self.sc.getLocalProperty(_GROUP)
            self.sc.setLocalProperty(_GROUP, f"{name}#{sid}")
        rec = {"id": sid, "name": name, "parent": parent,
               "thread": threading.get_ident(),
               "start": time.perf_counter() - self._t0, **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self._t0
            if job_group:
                self.sc.setLocalProperty(_GROUP, prev)
            with self._lock:
                self.spans.append(rec)

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        tr = self

        def top(name):
            def make(orig):
                def wrapper(*a, **kw):
                    with tr.span(name, job_group=True):
                        return orig(*a, **kw)
                return wrapper
            return make

        def commit(kind):
            # merge_upsert commits through overwrite(): only the outermost
            # catalog call on a thread is a commit
            def make(orig):
                def wrapper(table, *a, **kw):
                    depth = getattr(tr._local, "commit_depth", 0)
                    if depth:
                        return orig(table, *a, **kw)
                    tr._local.commit_depth = 1
                    before = _dir_bytes(table.root)
                    try:
                        with tr.span("catalog.commit", kind=kind,
                                     table=os.path.basename(table.root)) as r:
                            out = orig(table, *a, **kw)
                            r["bytes"] = _dir_bytes(table.root) - before
                            return out
                    finally:
                        tr._local.commit_depth = 0
                return wrapper
            return make

        self._patch(CrawlEngine, "bootstrap", top("frontier.bootstrap"))
        self._patch(CrawlEngine, "wave", top("frontier.wave"))
        self._patch(api_mod, "search", top("search.query"))
        for kind in ("append", "overwrite", "merge_upsert"):
            self._patch(SnapshotTable, kind, commit(kind))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # -- Spark metrics -----------------------------------------------------
    def _rest(self, path: str):
        with urllib.request.urlopen(self.sc.uiWebUrl + "/api/v1" + path,
                                    timeout=60) as r:
            return json.loads(r.read())

    def spark_groups(self) -> dict[str, dict]:
        """Per span name: jobs, distinct stages, executor CPU s, executor
        run s and shuffle-write MB of the jobs its job groups launched."""
        app = self.sc.applicationId
        jobs: list = []
        for _ in range(20):  # the listener bus is asynchronous: settle
            jobs = self._rest(f"/applications/{app}/jobs")
            if all(j["status"] != "RUNNING" for j in jobs):
                break
            time.sleep(0.5)
        stages = {(s["stageId"], s["attemptId"]): s
                  for s in self._rest(f"/applications/{app}/stages")}
        by_stage: dict[int, list] = {}
        for (sid, _), s in stages.items():
            by_stage.setdefault(sid, []).append(s)
        out: dict[str, dict] = {}
        seen: dict[str, set] = {}
        for j in jobs:
            g = j.get("jobGroup")
            if not g or "#" not in g:
                continue
            name = g.split("#", 1)[0]
            agg = out.setdefault(name, {"jobs": 0, "stages": 0, "cpu_s": 0.0,
                                        "run_s": 0.0, "shuffle_write_mb": 0.0})
            agg["jobs"] += 1
            for sid in j.get("stageIds", []):
                if sid in seen.setdefault(name, set()):
                    continue
                seen[name].add(sid)
                for s in by_stage.get(sid, []):
                    if s.get("status") == "SKIPPED":
                        continue
                    agg["stages"] += 1
                    agg["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                    agg["run_s"] += s.get("executorRunTime", 0) / 1e3
                    agg["shuffle_write_mb"] += (
                        s.get("shuffleWriteBytes", 0) / 2**20)
        return out

    def udf_profiles(self) -> dict[str, float]:
        """Cumulative Python time of each UDF body named in UDF_LAYERS,
        summed over the perf UDF profiler's profiles (which name files by
        basename): {"<file>:<function>": seconds}."""
        want = {fn for fns in UDF_LAYERS.values() for fn in fns}
        out: dict[str, float] = {}
        collector = getattr(self.spark, "_profiler_collector", None)
        if collector is None:
            return out
        for stats in collector._perf_profile_results.values():
            for (path, _, func), (_, _, _, ct, _) in stats.stats.items():
                key = f"{os.path.basename(path)}:{func}"
                if key in want:
                    out[key] = out.get(key, 0.0) + ct
        return out

    def _raw_profiles(self) -> dict[int, list]:
        """The three costliest functions of every UDF profile."""
        collector = getattr(self.spark, "_profiler_collector", None)
        if collector is None:
            return {}
        return {
            uid: [(path, func, ct) for (path, _, func), (_, _, _, ct, _) in
                  sorted(st.stats.items(), key=lambda kv: -kv[1][3])[:3]]
            for uid, st in collector._perf_profile_results.items()
        }

    # -- reporting -----------------------------------------------------------
    def _sum(self, name: str, **match) -> tuple[int, float]:
        n, total = 0, 0.0
        for s in self.spans:
            if s["name"] == name and all(s.get(k) == v
                                         for k, v in match.items()):
                n += 1
                total += s["end"] - s["start"]
        return n, total

    def per_layer(self, res) -> dict[str, tuple[float, str]]:
        groups = self.spark_groups()
        udf = self.udf_profiles()
        self._groups, self._udf = groups, udf
        m: dict[str, tuple[float, str]] = {}
        c = res.counts

        n_waves, wave_s = self._sum("frontier.wave")
        _, boot_s = self._sum("frontier.bootstrap")
        g = groups.get("frontier.wave", {})
        gb = groups.get("frontier.bootstrap", {})
        m["frontier.wave_s"] = (wave_s, "s")
        m["frontier.jobs_per_wave"] = (g.get("jobs", 0) / max(n_waves, 1),
                                       "count")
        m["frontier.executor_cpu_s"] = (g.get("cpu_s", 0.0)
                                        + gb.get("cpu_s", 0.0), "s")
        m["frontier.shuffle_write_mb"] = (g.get("shuffle_write_mb", 0.0)
                                          + gb.get("shuffle_write_mb", 0.0),
                                          "MB")
        m["frontier.bootstrap_s"] = (boot_s, "s")
        for k in ("scheduled", "deduped", "attempted", "fetched"):
            m[f"frontier.{k}"] = (float(c.get(k, 0)), "count")
        m["frontier.dedup_ratio"] = (
            c.get("deduped", 0) / max(c.get("scheduled", 0), 1), "ratio")
        m["frontier.fetch_yield"] = (
            c.get("fetched", 0) / max(c.get("attempted", 0), 1), "ratio")
        m["frontier.wave_share_of_crawl"] = (
            wave_s / c["crawl_s"] if c.get("crawl_s") else 0.0, "ratio")

        commits = [s for s in self.spans if s["name"] == "catalog.commit"]
        m["catalog.commits"] = (float(len(commits)), "count")
        m["catalog.commit_s"] = (
            sum(s["end"] - s["start"] for s in commits), "s")
        for t in CrawlEngine.TABLES + ("suggestions",):
            m[f"catalog.commit_s.{t}"] = (
                sum(s["end"] - s["start"] for s in commits
                    if s["table"] == t), "s")
        m["catalog.bytes_written_mb"] = (
            sum(s.get("bytes", 0) for s in commits) / 2**20, "MB")
        m["catalog.merge_s"] = (
            sum(s["end"] - s["start"] for s in commits
                if s["kind"] == "merge_upsert"), "s")

        for name, fns in UDF_LAYERS.items():
            m[name] = (sum(udf.get(fn, 0.0) for fn in fns), "s")

        n_q, q_s = self._sum("search.query")
        gq = groups.get("search.query", {})
        m["search.query_s"] = (q_s / max(n_q, 1), "s")
        m["search.jobs_per_query"] = (gq.get("jobs", 0) / max(n_q, 1),
                                      "count")
        m["api.post_search_ms"] = (c.get("post_search_ms", 0.0), "ms")
        m["api.results_ms"] = (c.get("results_ms", 0.0), "ms")
        n_b, b_s = self._sum("indexer.build")
        m["indexer.build_s"] = (b_s / max(n_b, 1), "s")
        m["cpu.throughput_per_s"] = (c.get("throughput_per_cpu_s", 0.0),
                                     "1/s")
        m["wall.throughput_per_s"] = (c.get("wall_throughput_per_s", 0.0),
                                      "1/s")
        m["wall.latency_ms_p50"] = (c.get("wall_latency_ms_p50", 0.0), "ms")
        return m

    def dump(self, path: str, workload: str, seed: int, res,
             untraced_path: str) -> None:
        """Write spans, Spark group metrics, UDF times and the end-to-end
        numbers of this traced run; when an untraced run of the same
        workload left its numbers at `untraced_path`, also the tracing
        overhead (traced minus untraced)."""
        doc = {
            "workload": workload, "seed": seed,
            "spans": sorted(self.spans, key=lambda s: s["start"]),
            "spark_groups": getattr(self, "_groups", None),
            "udf_seconds": getattr(self, "_udf", None),
            "udf_profiles": self._raw_profiles(),
            "traced_e2e": res.e2e,
            "counts": res.counts,
            "samples": res.samples,
        }
        try:
            with open(untraced_path) as f:
                base = json.load(f)
            doc["untraced_e2e"] = base
            doc["tracing_overhead"] = {
                k: res.e2e[k][0] - v[0] for k, v in base["metrics"].items()
                if k in res.e2e
            }
        except (OSError, ValueError, KeyError):
            pass
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=str)
