"""Smoke test of the benchmark at tiny sizes (a few minutes on 4 cores):

    python3 -m pytest perfbench/test_smoke.py -q

* the command prints every metric BENCHMARK.json names, with its unit,
  for every workload, traced and untraced, with no failed check;
* a deliberately wrong expected outcome is counted in `failed`, so
  `error_rate` > 0.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_command_emits_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "0", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = run.make_spark(str(tmp_path_factory.mktemp("work")), trace=False)
    yield s
    run.stop_spark(s)


def test_wrong_crawl_expectation_is_a_failure(spark, tmp_path, monkeypatch):
    real = workloads.crawl_oracle

    def off_by_one(*a, **kw):
        res = real(*a, **kw)
        res.budget_consumed += 1
        return res

    monkeypatch.setattr(workloads, "crawl_oracle", off_by_one)
    res = workloads.run(spark, "crawl", 5, 0, "tiny", str(tmp_path), None)
    assert res.attempted == 1  # the one timed crawl; the warm-up is unchecked
    assert res.failed / res.attempted > 0
    assert any("budget_consumed" in m for m in res.mismatches)


def test_wrong_search_expectation_is_a_failure(spark, tmp_path, monkeypatch):
    real = workloads.search

    def reversed_hits(*a, **kw):
        return list(reversed(real(*a, **kw)))

    monkeypatch.setattr(workloads, "search", reversed_hits)
    res = workloads.run(spark, "search", 5, 0, "tiny", str(tmp_path), None)
    assert res.failed / res.attempted > 0
    assert any("plain search()" in m for m in res.mismatches)
