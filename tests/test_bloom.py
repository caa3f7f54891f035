"""Partitioned bloom seen-filter unit + integration tests (north-rule C9)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from navi_spark.operators import bloom


def test_bloom_no_false_negatives():
    m, k = bloom.sizing(10_000, 0.01)
    rng = np.random.default_rng(1)
    keys = rng.integers(-(2**62), 2**62, 10_000, dtype=np.int64)
    blob = bloom.bloom_add(bloom.bloom_new(m), keys, k)
    assert bloom.bloom_maybe(blob, keys, k).all()


def test_bloom_fpp_band():
    m, k = bloom.sizing(10_000, 0.01)
    rng = np.random.default_rng(2)
    keys = rng.integers(-(2**62), 2**62, 10_000, dtype=np.int64)
    other = rng.integers(-(2**62), 2**62, 50_000, dtype=np.int64)
    blob = bloom.bloom_add(bloom.bloom_new(m), keys, k)
    fpp = bloom.bloom_maybe(blob, other, k).mean()
    assert fpp < 0.03, fpp


def test_update_and_annotate(spark):
    m, k = 1 << 16, 7
    seen = spark.createDataFrame(
        [(i % 4, i * 7919) for i in range(500)], "host_partition int, url_hash long"
    )
    empty = spark.createDataFrame([], bloom.FILTERS_SCHEMA)
    filters = bloom.update_filters(empty, seen, m, k).cache()
    assert filters.count() == 4
    assert filters.agg(F.sum("n_items")).collect()[0][0] == 500

    # candidates: 100 seen keys + 100 novel keys
    cand = spark.createDataFrame(
        [(i % 4, i * 7919, "seen") for i in range(100)]
        + [(i % 4, i * 104729 + 13, "new") for i in range(100)],
        "host_partition int, url_hash long, tag string",
    )
    out = bloom.annotate_maybe_seen(cand, filters, k).collect()
    seen_rows = [r for r in out if r["tag"] == "seen"]
    new_rows = [r for r in out if r["tag"] == "new"]
    assert all(r["maybe_seen"] for r in seen_rows)  # no false negatives
    # false positives rare at this sizing
    assert sum(r["maybe_seen"] for r in new_rows) <= 5

    # incremental update: add the novel keys, then all must be maybe_seen
    filters2 = bloom.update_filters(
        filters, cand.filter(F.col("tag") == "new").select("host_partition", "url_hash"),
        m, k,
    )
    out2 = bloom.annotate_maybe_seen(cand, filters2, k).collect()
    assert all(r["maybe_seen"] for r in out2)
