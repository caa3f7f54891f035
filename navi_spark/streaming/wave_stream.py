"""Streaming variants of the crawl pipeline (SURVEY.md §2.5: the reference
has no streaming — its crawl loop is iterative-batch; these are the
Structured Streaming expressions of the same operators for deployments that
feed the frontier from a live discovery stream).

  streaming_seen_filter   stateful URL-seen dedup per host_partition via
                          applyInPandasWithState — the streaming twin of the
                          anti-join seen check (C9); state = the set of
                          64-bit url hashes per partition
  streaming_hourly_rollup watermarked tumbling-window metrics aggregation —
                          the streaming twin of the per-wave metrics table

Both run on any streaming source; tests drive them with the file source
over driver parquet + memory sinks and `processAllAvailable()`.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SEEN_OUT_SCHEMA = "host_partition int, url string, url_hash long"
# exact-mode hashes travel as ONE little-endian int64 blob, not
# array<long>: the state round-trips JVM<->python every task, and a
# 40k-element array value costs ~10x a 320 KB binary in (de)serialization
# (measured: the state round-trip was the largest term in the stream
# bench's per-task time before this encoding — BENCH/STREAM_BENCH.md).
SEEN_STATE_SCHEMA = "hashes binary, bloom binary, n_items long"


def _dedupe_keys(
    state_tuple: tuple | None,
    keys: "np.ndarray",
    swap_threshold: int,
    capacity: int,
    fpp: float,
) -> tuple["np.ndarray", tuple]:
    """Pure per-group seen-filter transition: (state, batch keys) →
    (first-seen mask, new state). State is (hashes, bloom, n_items),
    with `hashes` an int64 ndarray (or None in bloom mode):

    * exact mode (bloom is None): `hashes` is the full 64-bit hash set —
      bit-exact dedup, state linear in seen URLs.
    * bloom mode: once the exact list would exceed `swap_threshold`, the
      whole set converts to a FIXED-SIZE bloom blob sized for `capacity`
      items at `fpp` (operators/bloom.py sizing); from then on state size
      is constant no matter how many URLs stream through. A bloom has no
      false negatives for inserted keys, so a duplicate is NEVER
      re-emitted (append-exactness preserved); a false positive drops a
      genuinely-new URL with P ≤ fpp — the engine's batch reconciliation
      (the exact `seen` anti-join, C9) remains the arbiter of record, the
      stream is its bounded-loss pre-filter. Production sizing: capacity =
      expected per-partition URLs (10^10/P), through `bloom.sizing`.

    Within-batch duplicates dedupe exactly in both modes (first
    occurrence wins, vectorized first-index selection)."""
    from navi_spark.operators.bloom import bloom_add, bloom_maybe, bloom_new, sizing

    keys = keys.astype(np.int64)
    # within-batch first-occurrence mask (stable): unique returns the first
    # index of each value in the sorted-unique order
    _, first_idx = np.unique(keys, return_index=True)
    first_mask = np.zeros(len(keys), dtype=bool)
    first_mask[first_idx] = True

    m_bits, k_hashes = sizing(capacity, fpp)
    if state_tuple is None:
        hashes, blob, n_items = None, None, 0
    else:
        hashes, blob, n_items = state_tuple
        blob = bytes(blob) if blob is not None else None

    if blob is None:
        seen = (np.asarray(hashes, dtype=np.int64)
                if hashes is not None and len(hashes)
                else np.empty(0, dtype=np.int64))
        new_mask = ~np.isin(keys, seen) & first_mask
        all_seen = np.union1d(seen, keys[new_mask])
        n_items = len(all_seen)
        if n_items > swap_threshold:
            blob = bloom_add(
                bloom_new(m_bits), all_seen.view(np.uint64), k_hashes
            )
            return new_mask, (None, blob, n_items)
        return new_mask, (all_seen, None, n_items)

    maybe = bloom_maybe(blob, keys.view(np.uint64), k_hashes)
    new_mask = (~maybe) & first_mask
    fresh = keys[new_mask]
    if len(fresh):
        blob = bloom_add(blob, fresh.view(np.uint64), k_hashes)
        n_items += len(fresh)
    return new_mask, (None, blob, n_items)


def streaming_seen_filter(
    urls: DataFrame,
    n_partitions: int = 16,
    swap_threshold: int = 250_000,
    capacity: int = 16_000_000,
    fpp: float = 1e-5,
) -> DataFrame:
    """Emit only first-seen URLs from a stream; per-host-partition state.

    State starts as the exact array of url hashes (bit-exact like the
    engine's `seen` table) and swaps to a fixed-size bloom blob once the
    partition has seen more than `swap_threshold` URLs, bounding state at
    sizing(capacity, fpp) bits per partition forever after — sublinear
    (constant) in seen URLs. See `_dedupe_keys` for the exactness
    contract; tests/test_streaming.py drives both modes across forced
    micro-batches and pins state-size behavior."""
    keyed = urls.select(
        F.pmod(F.xxhash64("url"), F.lit(n_partitions)).cast("int")
        .alias("host_partition"),
        "url",
        F.xxhash64("url").alias("url_hash"),
    )

    def dedupe(
        key: Tuple[int],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        st = None
        if state.exists:
            h, blob, n = state.get
            st = (
                np.frombuffer(bytes(h), dtype="<i8") if h is not None
                else None,
                bytes(blob) if blob is not None else None,
                int(n),
            )
        n_before = st[2] if st is not None else -1
        for b in batches:
            keys = b["url_hash"].to_numpy()
            if not len(keys):
                continue
            mask, st = _dedupe_keys(st, keys, swap_threshold, capacity, fpp)
            out = b.loc[mask, ["url", "url_hash"]].copy()
            out.insert(0, "host_partition", key[0])
            yield out
        # state changes iff the unique count moved (the exact set grows,
        # the swap fires, or the bloom absorbs fresh keys — all move
        # n_items); an all-duplicate batch skips the update entirely, so
        # neither the blob re-serialization nor the state-store delta
        # commit is paid for rows the filter fully absorbed
        if st is not None and st[2] != n_before:
            state.update((
                st[0].astype("<i8").tobytes() if st[0] is not None else None,
                st[1],
                st[2],
            ))

    return keyed.groupBy("host_partition").applyInPandasWithState(
        dedupe,
        outputStructType=SEEN_OUT_SCHEMA,
        stateStructType=SEEN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window count/sum per event_type — late rows
    beyond the watermark are dropped, state is bounded (the streaming form
    of the engine's per-wave metrics commit)."""
    # parquet naive timestamps read as TIMESTAMP_NTZ; watermarks require
    # TIMESTAMP (session tz — tests pin UTC)
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n", "sum_value",
        )
    )
