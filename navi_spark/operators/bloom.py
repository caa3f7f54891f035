"""Partitioned bloom URL-seen pre-filter (north-rule hardening of C9).

The reference keeps the entire visited set in one JVM heap
(`crawler/WebCrawler.java:64`) — a non-starter at 10^10 URLs. Here the seen
set is split by `host_partition = pmod(xxhash64(host), P)` and each partition
maintains a numpy bit-array bloom filter, stored as a binary blob in a
`seen_filters(host_partition, filter, n_items)` table and updated via
`cogroup(...).applyInPandas` (old blob ⨝ new keys → new blob).

Role in the wave (SURVEY.md §4.3): the bloom is a PRE-filter only —
candidates it reports *definitely-new* skip the anti-join against the huge
exact `seen` table entirely; only *maybe-seen* candidates (true positives +
~1% false positives) pay the join. Parity stays exact because the exact
table always decides; the bloom only prunes join input. At 10^10 rows with
~1% frontier novelty that removes ~99% of the anti-join's probe side.

All membership math is vectorized numpy over uint64 arrays (double hashing:
idx_i = h1 + i*h2 mod m); keys are Spark `xxhash64(url)` values, so the JVM
computes the hash once and Python only does bit arithmetic.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

FILTERS_SCHEMA = "host_partition int, filter binary, n_items long"

_MULT = np.uint64(0x9E3779B97F4A7C15)  # odd → bijective on Z/2^64


def _hashes(keys: np.ndarray, k: int, m_bits: int) -> Iterator[np.ndarray]:
    h1 = keys.astype(np.uint64)
    h2 = (h1 * _MULT) | np.uint64(1)
    m = np.uint64(m_bits)
    for i in range(k):
        yield ((h1 + np.uint64(i) * h2) % m).astype(np.int64)


def bloom_new(m_bits: int) -> bytes:
    return bytes(m_bits // 8)


def bloom_add(blob: bytes, keys: np.ndarray, k: int) -> bytes:
    arr = np.frombuffer(bytearray(blob), dtype=np.uint8).copy()
    m_bits = len(blob) * 8
    for idx in _hashes(keys, k, m_bits):
        np.bitwise_or.at(arr, idx >> 3, np.uint8(1) << (idx & 7).astype(np.uint8))
    return arr.tobytes()


def bloom_maybe(blob: bytes, keys: np.ndarray, k: int) -> np.ndarray:
    """Vectorized membership: True = maybe seen, False = definitely new."""
    arr = np.frombuffer(blob, dtype=np.uint8)
    m_bits = len(blob) * 8
    out = np.ones(len(keys), dtype=bool)
    for idx in _hashes(keys, k, m_bits):
        out &= (arr[idx >> 3] & (np.uint8(1) << (idx & 7).astype(np.uint8))) != 0
    return out


def sizing(expected_per_partition: int, fpp: float = 0.01) -> tuple[int, int]:
    """(m_bits rounded to bytes, k) for a target false-positive rate."""
    n = max(expected_per_partition, 1)
    m = int(-n * math.log(fpp) / (math.log(2) ** 2))
    m = max((m + 7) // 8 * 8, 64)
    k = max(int(round(m / n * math.log(2))), 1)
    return m, min(k, 16)


def update_filters(
    filters_df: DataFrame,
    new_keys: DataFrame,
    m_bits: int,
    k: int,
) -> DataFrame:
    """Merge newly-seen keys into per-partition blobs.

    `filters_df`: FILTERS_SCHEMA rows (possibly empty);
    `new_keys`: (host_partition int, url_hash long).
    Returns the complete new FILTERS_SCHEMA DataFrame (all partitions that
    have ever had keys). One shuffle on host_partition; blob work is numpy.
    """

    def merge(key, old: pd.DataFrame, new: pd.DataFrame) -> pd.DataFrame:
        hp = int(key[0])
        blob = bytes(old["filter"].iloc[0]) if len(old) else bloom_new(m_bits)
        n = int(old["n_items"].iloc[0]) if len(old) else 0
        if len(new):
            blob = bloom_add(blob, new["url_hash"].to_numpy(np.int64), k)
            n += len(new)
        return pd.DataFrame(
            {"host_partition": [hp], "filter": [blob], "n_items": [n]}
        )

    return (
        filters_df.groupBy("host_partition")
        .cogroup(new_keys.groupBy("host_partition"))
        .applyInPandas(merge, FILTERS_SCHEMA)
    )


def annotate_maybe_seen(
    candidates: DataFrame,
    filters_df: DataFrame,
    k: int,
    key_col: str = "url_hash",
) -> DataFrame:
    """Add `maybe_seen` per candidate (False ⇒ provably unseen).

    Grouped by host_partition so each task touches exactly one blob; the
    blob rides in via a left cogroup (no broadcast of the full filter set —
    at 10^10 scale the filters table is itself large).
    """
    cand_cols = candidates.columns
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
    ) + ", maybe_seen boolean"

    def check(key, cand: pd.DataFrame, filt: pd.DataFrame) -> pd.DataFrame:
        if not len(cand):
            return pd.DataFrame(columns=cand_cols + ["maybe_seen"])
        if len(filt):
            blob = bytes(filt["filter"].iloc[0])
            maybe = bloom_maybe(blob, cand[key_col].to_numpy(np.int64), k)
        else:
            maybe = np.zeros(len(cand), dtype=bool)
        out = cand.copy()
        out["maybe_seen"] = maybe
        return out

    return (
        candidates.groupBy("host_partition")
        .cogroup(filters_df.groupBy("host_partition"))
        .applyInPandas(check, out_schema)
    )


# ---------------------------------------------------------------------------
# Literal bloom predicate (optimization round 6, guide §3.2): a bloom
# filter baked into a pure-JVM column expression — an array<long> literal
# probed with k (shift, element_at, bit-test) chains. Unlike a broadcast
# semi-join, this is a plain deterministic FILTER, so Catalyst pushes it
# below Arrow-UDF projections (a semi-join provably is not pushed — see
# plans/r06), which lets store-prune predicates reach row-generation /
# scan level. Build-side arithmetic mirrors the JVM expression EXACTLY
# (two's-complement int64 wrap + floor-mod), so membership has no false
# negatives by construction; false positives only pass the prune and are
# dropped by the exact joins behind it.
# ---------------------------------------------------------------------------

def _lb_hashes_py(keys, m_bits: int):
    """(h_a, h_b) bases for the overflow-free double-hash probe sequence,
    numpy twin of the JVM expressions in literal_bloom_predicate: ANSI
    mode forbids wrapping multiplies, so the second hash is an xor-shift
    fold (shift/xor/pmod only — every intermediate fits a long)."""
    h1 = np.asarray(keys, dtype=np.int64)
    h_a = np.mod(h1, m_bits)                      # floor-mod == JVM pmod
    x = h1 ^ (h1 >> np.int64(33))                 # arithmetic shift, as JVM
    h_b = np.mod(x, m_bits - 1) + 1               # 1..m-1, never 0
    return h_a, h_b


def literal_bloom_build(
    keys, fpp: float = 0.005
) -> tuple[list[int], int, int]:
    """(words, m_bits, k) over SIGNED int64 keys (e.g. collected
    xxhash64 values)."""
    n = max(len(keys), 1)
    m_bits, k = sizing(n, fpp)
    m_bits = ((m_bits + 63) // 64) * 64
    h_a, h_b = _lb_hashes_py(keys, m_bits)
    words = np.zeros(m_bits // 64, dtype=np.uint64)
    for i in range(k):
        idx = np.mod(h_a + i * h_b, m_bits)
        np.bitwise_or.at(
            words, idx >> 6, np.uint64(1) << (idx & 63).astype(np.uint64)
        )
    return [int(w) for w in words.view(np.int64)], m_bits, k


def literal_bloom_predicate(
    words: list[int], m_bits: int, k: int, key_col
):
    """Membership Column over a signed-int64 key column — JVM-only, no
    broadcast, no Python; AND of k bit probes. Arithmetic is exactly
    :func:`_lb_hashes_py` (shift/xor/pmod — ANSI-safe, no overflow).

    The word table ships as ONE string literal parsed by a foldable
    split+cast (ConstantFolding collapses it to a single Literal(ArrayData)
    before execution): `F.lit([...])` builds a CreateArray with one child
    Literal per word — measured 1.2 s to construct and a 2068-node subtree
    per probe in codegen."""
    arr = F.split(
        F.lit(",".join(str(w) for w in words)), ","
    ).cast("array<bigint>")
    h1 = key_col
    h_a = F.pmod(h1, F.lit(m_bits))
    x = h1.bitwiseXOR(F.shiftright(h1, 33))
    h_b = F.pmod(x, F.lit(m_bits - 1)) + F.lit(1)
    pred = None
    for i in range(k):
        idx = F.pmod(h_a + F.lit(i) * h_b, F.lit(m_bits))
        word = F.element_at(arr, F.shiftright(idx, 6).cast("int") + 1)
        bit = F.call_function(
            "shiftright", word, F.pmod(idx, F.lit(64)).cast("int")
        ).bitwiseAND(F.lit(1))
        t = bit == 1
        pred = t if pred is None else pred & t
    return pred
