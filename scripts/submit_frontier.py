"""CrawlEngine job for the ``spark-submit --py-files`` packaging lane.

The north rule (BASELINE.json) requires the crawler to run "via
spark-submit --py-files". This is the job file that lane submits:

    spark-submit --master local[N] --py-files navi_spark.zip \
        submit_frontier.py <n_urls> <forbidden_path_prefix>

It imports ``navi_spark`` only from the shipped zip: the launcher
(scripts/submit_scaling.py) runs it with PYTHONPATH scrubbed, from an empty
temp dir, on a copy of this file, so nothing on the import path points at
the repo checkout. ``<forbidden_path_prefix>`` is the repo root; the job
asserts that ``navi_spark`` did not resolve from it, which is the import
topology of a cluster whose executors share nothing with the checkout.
The session comes from ``SparkSession.builder``; its confs come from the
spark-submit command line.

The job runs ``CrawlEngine.bootstrap`` + ``run`` over the synthetic
universe of :func:`crawl_setup` in a temp workdir and prints one
``RESULT {json}`` line: package origin, size, scheduled and fetched
counts, wall time, visit order, seen set and budget consumed. The caller
checks the last three against ``navi_spark.oracle.crawl_oracle``.
"""

from __future__ import annotations

import json
import random
import sys
import tempfile
import time

from pyspark.sql import SparkSession

import navi_spark  # resolved from the --py-files zip
from navi_spark.operators.frontier import CrawlConfig, CrawlEngine
from navi_spark.sources import datagen


def crawl_setup(n_urls: int):
    """(seeds, n_hosts, CrawlConfig) of the job's crawl over `n_urls`
    URLs: 50 URLs a host, a dirty seed for every tenth URL, and two
    waves of n_urls / 10 attempts under a 30-page host cap."""
    n_hosts = max(1, n_urls // 50)
    ids = random.Random(n_urls).sample(range(n_urls), max(1, n_urls // 10))
    seeds = [datagen.dirty_url(i, n_hosts) for i in ids]
    cfg = CrawlConfig(max_pages=3 * n_urls // 10, max_pages_per_domain=30,
                      wave_budget=max(1, n_urls // 10), max_waves=2)
    return seeds, n_hosts, cfg


def main() -> None:
    n_urls = int(sys.argv[1])
    forbidden = sys.argv[2] if len(sys.argv) > 2 else None
    origin = navi_spark.__file__
    assert ".zip" in origin, (
        f"navi_spark imported from {origin}, not the --py-files zip")
    if forbidden:
        assert not origin.startswith(forbidden.rstrip("/") + "/"), (
            f"navi_spark leaked in from the repo checkout: {origin}")

    spark = SparkSession.builder.appName("navi-spark-submit").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    seeds, n_hosts, cfg = crawl_setup(n_urls)
    web = datagen.generate_web(spark, n_urls, n_hosts).cache()
    images = datagen.generate_images(spark, n_urls).cache()
    robots = datagen.generate_robots(spark, n_hosts).cache()
    with tempfile.TemporaryDirectory(prefix="navi-submit-crawl-") as work:
        t0 = time.perf_counter()
        eng = CrawlEngine(spark, work, web, images, robots, cfg)
        eng.bootstrap(seeds)
        stats = eng.run()
        wall = time.perf_counter() - t0
        r = {
            "pkg_origins": {"navi_spark": origin},
            "n_urls": n_urls,
            "scheduled": sum(s.scheduled for s in stats),
            "fetched": sum(s.fetched for s in stats),
            "wall_sec": round(wall, 3),
            "visit_order": [[v["wave_id"], v["url"]]
                            for v in eng.visit_order().collect()],
            "seen": sorted(v["url"] for v in eng.seen().collect()),
            "budget_consumed": eng.budget_consumed,
        }
    print("RESULT " + json.dumps(r))
    spark.stop()


if __name__ == "__main__":
    main()
