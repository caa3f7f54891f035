"""Bloom blob unit tests (the streaming seen state's bounded mode)."""

from __future__ import annotations

import numpy as np

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
