"""Bloom-filter URL-seen pre-filter family (see plans/seen_filter).

The exact seen-set is an anti-join against the ``seen`` table; at 10^10
canonical URLs that join shuffles both sides every round. The Bloom filter
short-circuits it: candidates whose probes miss the filter are *definitely
new* and skip the exact join entirely; only maybe-seen candidates (a small
fraction: true dups + false positives) go through the exact anti-join, so
exactness is preserved (false negatives are impossible).

Kernels: the two 64-bit probe bases are computed JVM-side with
``xxhash64`` (vectorized, no Python in the hashing hot path); k=7 probes by
double hashing, set and tested with numpy over whole Arrow batches. The
full driver-held build is distributed: per-partition bitmaps OR-merged via
RDD ``treeAggregate``.

Sizing: m bits for n keys at k=7 gives fpr ≈ 0.82^(m/n·ln2·...); the engine
sizes m = 32·n rounded to a power of two and rebuilds once n passes m/16
(fpr ≤ 0.0043). At 10^10 URLs that is 20 GB — far past broadcast range — so
above a size threshold the seen filter switches to its sharded layout: one
bitmap row per shard in a ``(shard int, bitmap binary)`` DataFrame, m bits
per shard, probed by a cogroup so no bitmap is ever broadcast.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from . import seen_filter as SF

K_PROBES = 7


def _next_pow2(x: int) -> int:
    return 1 << max(10, (x - 1).bit_length())


def _probe_bits(h1: np.ndarray, h2: np.ndarray, m_bits: int) -> np.ndarray:
    """(n, k) array of bit indices via double hashing: h1 + i*h2 mod m."""
    i = np.arange(K_PROBES, dtype=np.uint64)
    return (
        h1.astype(np.uint64)[:, None] + i[None, :] * h2.astype(np.uint64)[:, None]
    ) % np.uint64(m_bits)


class Bloom(SF.Family):
    name = "bloom"
    seeds = ((), (1,))
    dtype = np.uint8
    state_col = "bitmap"

    def shape(self, size: int) -> tuple[int, ...]:
        return (size // 8,)

    def probe(self, state: np.ndarray, ha, hb) -> np.ndarray:
        bits = _probe_bits(ha, hb, state.size * 8)
        masks = (1 << (bits & 7)).astype(np.uint8)
        return ((state[bits >> 3] & masks) == masks).all(axis=1)

    def insert(self, state: np.ndarray, ha, hb) -> None:
        bits = _probe_bits(ha, hb, state.size * 8).ravel()
        np.bitwise_or.at(state, bits >> 3, (1 << (bits & 7)).astype(np.uint8))

    def size_for(self, n_keys: int, n_shards: int) -> int:
        return _next_pow2(n_keys * 32 // n_shards)

    def full(self, n_keys: int, size: int, n_shards: int) -> bool:
        return n_keys * 16 > size * n_shards

    def build_local(self, df: DataFrame, col: str, size: int) -> np.ndarray:
        bm, _ = build_bloom(df, col, size)
        return np.frombuffer(bm, dtype=np.uint8).copy()


def build_bloom(df: DataFrame, col: str, m_bits: int | None = None) -> tuple[bytes, int]:
    """Build a bloom bitmap over ``df[col]`` (distinct not required).

    Returns (bitmap bytes, m_bits). Hashing is JVM-side xxhash64; bitmap
    build is per-partition numpy, OR-merged with treeAggregate.
    """
    m = m_bits or _next_pow2(max(1, df.count()) * 16)

    bloom = Bloom()
    hashed = df.select(*SF.hash_cols(bloom, col))

    def to_bitmap(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bm = bloom.new(m)
        for pdf in pdf_iter:
            bloom.insert(bm, pdf["_ha"].to_numpy(), pdf["_hb"].to_numpy())
        yield pd.DataFrame({"bitmap": [bm.tobytes()]})

    parts = hashed.mapInPandas(to_bitmap, "bitmap binary").rdd.map(
        lambda r: np.frombuffer(r["bitmap"], dtype=np.uint8)
    )
    merged = parts.treeAggregate(
        np.zeros(m // 8, dtype=np.uint8),
        lambda a, b: np.bitwise_or(a, b),
        lambda a, b: np.bitwise_or(a, b),
    )
    return merged.tobytes(), m


def maybe_seen_col(spark, bitmap: bytes, m_bits: int):
    """Returns a function mapping (h1_col, h2_col) → boolean Column: True if
    the key is POSSIBLY in the filter (must go to the exact anti-join),
    False only if definitely new."""
    bloom = Bloom()
    return SF.probe_udf(spark, bloom, bloom.from_bytes(bitmap, m_bits))
