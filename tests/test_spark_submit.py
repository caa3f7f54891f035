"""Packaging regression test for the spark-submit --py-files lane.

The north rule requires the job to run "via spark-submit --py-files"; the
scaling lane is scripts/submit_scaling.py. This test submits the
CrawlEngine job (scripts/submit_frontier.py) through the real spark-submit
binary, importing navi_spark ONLY from the shipped zip (the job aborts if
the package resolves from the repo checkout), and checks the crawl it
ran against crawl_oracle.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import tempfile

import pytest

from navi_spark.oracle import OracleConfig, build_oracle_inputs, crawl_oracle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_script(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "scripts", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.skipif(
    not os.path.exists(
        os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"),
                     "bin", "spark-submit")
    ),
    reason="spark-submit binary not available",
)
def test_py_files_packaging_end_to_end():
    launcher = _load_script("submit_scaling")
    n_urls = 1_000
    staging = tempfile.mkdtemp(prefix="navi-submit-test-")
    try:
        zip_path = launcher.build_zip(staging)
        r = launcher.run_at(4, n_urls, staging, zip_path)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    # the job itself asserts import isolation; re-check the evidence here
    origin = r["pkg_origins"]["navi_spark"]
    assert ".zip" in origin and not origin.startswith(REPO + "/"), origin
    assert r["n_urls"] == n_urls
    assert 0 < r["fetched"] <= r["scheduled"]

    seeds, n_hosts, cfg = _load_script("submit_frontier").crawl_setup(n_urls)
    web, images, robots = build_oracle_inputs(n_urls, n_hosts)
    ores = crawl_oracle(seeds, web, images, robots, OracleConfig(
        max_pages=cfg.max_pages,
        max_pages_per_domain=cfg.max_pages_per_domain,
        wave_budget=cfg.wave_budget, max_waves=cfg.max_waves))
    assert [tuple(v) for v in r["visit_order"]] == ores.visit_order
    assert set(r["seen"]) == ores.seen
    assert r["budget_consumed"] == ores.budget_consumed
