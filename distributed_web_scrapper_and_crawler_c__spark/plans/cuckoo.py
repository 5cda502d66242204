"""Cuckoo-filter URL-seen pre-filter — the deletable twin of plans/bloom.

Same role as the Bloom filter (north-star: "bloom/cuckoo URL-seen"): an
approximate pre-filter ahead of the exact seen anti-join. Probe misses are
*definitely new* and skip the exact join; probe hits (true dups + a ~1.2e-4
false-positive fraction at 16-bit fingerprints) go through the exact
anti-join, so exactness is preserved either way.

What the cuckoo filter adds over Bloom is DELETION (Fan, Andersen,
Kaminsky, Mitzenmacher — "Cuckoo Filter: Practically Better Than Bloom",
CoNEXT 2014): ``add_seed`` force-requeue (reference ``server.cpp:790-812``)
removes a URL from the seen-set, and a Bloom bitmap cannot un-set its bits
(the engine documents the resulting stale positive); the cuckoo filter
removes the fingerprint copy, so the filter stays tight across requeues.

Layout (standard partial-key cuckoo hashing):
 - ``n_buckets`` (power of two) buckets x 4 slots of 16-bit fingerprints;
   0 = empty, fingerprints are forced into [1, 0xFFFF].
 - fp    = xxhash64(key, seed=3) mod 0xFFFF + 1        (JVM-side hash)
 - i1    = xxhash64(key, seed=4) & (n_buckets - 1)     (JVM-side hash)
 - i2    = i1 XOR ((fp * 0x5bd1e995) & (n_buckets - 1))
   so either index is recoverable from the other plus the fingerprint —
   that is what makes eviction (and deletion) possible without the key.

Deletion safety: inserts keep MULTISET semantics (a fingerprint copy per
inserted key, never deduplicated), and the engine inserts each canonical
URL exactly once (the seen-set is distinct). Deleting a key removes one
copy; any other key colliding on (fp, bucket pair) still has its own copy,
so deletion can never create a false negative for a still-seen URL.

Both layouts of plans/seen_filter apply: a driver-held table broadcast to
the probe UDF below the shard threshold, and a sharded
``(shard int, table binary)`` DataFrame above it. All key hashing stays
JVM-side ``xxhash64``; the Python side only does vectorized numpy over
Arrow batches.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from . import seen_filter as SF

SLOTS = 4
FP_SEED = 3   # xxhash64 seed for the fingerprint base
IX_SEED = 4   # xxhash64 seed for the primary bucket index
_ALT_MULT = np.uint64(0x5BD1E995)  # MurmurHash2 multiplier (public constant)


class CuckooCapacityError(RuntimeError):
    """Insert failed after the kick budget — the table is over capacity.

    The engine sizes tables for load <= 0.5 and rebuilds before the load
    crosses it, so this is a loud invariant failure, not a recoverable
    condition."""


def next_pow2_buckets(n_keys: int) -> int:
    """Buckets for ``n_keys`` at load <= 0.5: 4 slots/bucket, 2x headroom."""
    need = max(1, (n_keys + SLOTS - 1) // 2)  # slots/2 buckets => load 0.5
    return 1 << max(4, (need - 1).bit_length())


def capacity(n_buckets: int) -> int:
    return n_buckets * SLOTS


def _fp_i1(hfp: np.ndarray, hix: np.ndarray, n_buckets: int):
    """(fingerprint uint16 in [1,0xFFFF], primary bucket index) from the
    two signed-int64 xxhash64 bases."""
    fp = (hfp.astype(np.int64).view(np.uint64) % np.uint64(0xFFFF)).astype(
        np.uint64
    ) + np.uint64(1)
    i1 = hix.astype(np.int64).view(np.uint64) & np.uint64(n_buckets - 1)
    return fp.astype(np.uint16), i1.astype(np.int64)


def _alt_index(fp: np.ndarray, idx: np.ndarray, n_buckets: int) -> np.ndarray:
    mask = np.uint64(n_buckets - 1)
    scr = (fp.astype(np.uint64) * _ALT_MULT) & mask
    return (idx.astype(np.uint64) ^ scr).astype(np.int64)


def _compact_buckets(table: np.ndarray, buckets: np.ndarray) -> None:
    """Shift nonzero fingerprints left in the given buckets so the
    insert fast path's slot = count_nonzero invariant holds after holes
    are poked by deletion."""
    for b in np.unique(buckets):
        row = table[b]
        nz = row[row != 0]
        row[: len(nz)] = nz
        row[len(nz):] = 0


def _place(table: np.ndarray, fps: np.ndarray, buckets: np.ndarray) -> np.ndarray:
    """Vectorized one-choice placement: append each fp to its bucket if a
    free slot remains (empties are packed right, so slot = used + rank).
    Returns a placed-mask aligned with ``fps``."""
    n = len(fps)
    if n == 0:
        return np.zeros(0, dtype=bool)
    order = np.argsort(buckets, kind="stable")
    bs = buckets[order]
    # rank of each row within its equal-bucket run
    firsts = np.zeros(n, dtype=np.int64)
    if n > 1:
        newgrp = np.nonzero(np.diff(bs))[0] + 1
        firsts[newgrp] = newgrp
    starts = np.maximum.accumulate(firsts)
    rank = np.arange(n, dtype=np.int64) - starts
    used = np.count_nonzero(table[bs], axis=1)
    can = rank < (SLOTS - used)
    table[bs[can], (used + rank)[can]] = fps[order][can]
    placed = np.zeros(n, dtype=bool)
    placed[order[can]] = True
    return placed


def bulk_insert(
    table: np.ndarray, fp: np.ndarray, i1: np.ndarray, max_kicks: int = 500
) -> None:
    """Insert all (fp, i1) keys into ``table`` in place. Two vectorized
    passes (primary bucket, then alternate) place almost everything at the
    engine's <= 0.5 load; the residue runs the standard per-key eviction
    loop with a deterministic victim slot (kick count mod 4)."""
    n_buckets = table.shape[0]
    i2 = _alt_index(fp, i1, n_buckets)
    rem = np.arange(len(fp), dtype=np.int64)
    for idx in (i1, i2):
        if rem.size == 0:
            return
        placed = _place(table, fp[rem], idx[rem])
        rem = rem[~placed]
    for j in rem:
        f = np.uint16(fp[j])
        b = int(i1[j])
        for kick in range(max_kicks):
            row = table[b]
            used = int(np.count_nonzero(row))
            if used < SLOTS:
                table[b, used] = f
                break
            s = kick % SLOTS
            f, table[b, s] = row[s], f
            b = int(_alt_index(np.array([f]), np.array([b]), n_buckets)[0])
        else:
            raise CuckooCapacityError(
                f"cuckoo insert failed after {max_kicks} kicks at "
                f"{np.count_nonzero(table)}/{table.size} slots"
            )


def bulk_probe(table: np.ndarray, fp: np.ndarray, i1: np.ndarray) -> np.ndarray:
    """True = possibly seen (goes to the exact anti-join); False only if
    definitely new."""
    if len(fp) == 0:
        return np.zeros(0, dtype=bool)
    i2 = _alt_index(fp, i1, table.shape[0])
    hit1 = (table[i1] == fp[:, None]).any(axis=1)
    hit2 = (table[i2] == fp[:, None]).any(axis=1)
    return hit1 | hit2


def bulk_delete(table: np.ndarray, fp: np.ndarray, i1: np.ndarray) -> int:
    """Remove ONE fingerprint copy per key (multiset semantics); buckets
    touched are re-compacted. Returns the number of copies removed."""
    n_buckets = table.shape[0]
    i2 = _alt_index(fp, i1, n_buckets)
    touched = []
    removed = 0
    for j in range(len(fp)):
        f = fp[j]
        for b in (int(i1[j]), int(i2[j])):
            s = np.nonzero(table[b] == f)[0]
            if s.size:
                table[b, s[0]] = 0
                touched.append(b)
                removed += 1
                break
    if touched:
        _compact_buckets(table, np.asarray(touched))
    return removed


class Cuckoo(SF.Family):
    name = "cuckoo"
    seeds = ((FP_SEED,), (IX_SEED,))
    dtype = np.uint16
    state_col = "table"
    deletes = True

    def shape(self, size: int) -> tuple[int, ...]:
        return (size, SLOTS)

    def probe(self, state: np.ndarray, ha, hb) -> np.ndarray:
        return bulk_probe(state, *_fp_i1(ha, hb, state.shape[0]))

    def insert(self, state: np.ndarray, ha, hb) -> None:
        bulk_insert(state, *_fp_i1(ha, hb, state.shape[0]))

    def delete(self, state: np.ndarray, ha, hb) -> None:
        bulk_delete(state, *_fp_i1(ha, hb, state.shape[0]))

    def size_for(self, n_keys: int, n_shards: int) -> int:
        if n_shards == 1:
            return next_pow2_buckets(4 * n_keys)  # rebuilds rare
        return next_pow2_buckets(max(1, 2 * n_keys // n_shards))

    def full(self, n_keys: int, size: int, n_shards: int) -> bool:
        # load would pass 0.5 of total slot capacity
        return n_keys * 2 > capacity(size) * n_shards

    def grow_size(self, n_keys: int, size: int, n_shards: int) -> int | None:
        # unlike a bloom bitmap (which merely densifies), a cuckoo table has
        # hard slot capacity: grow BEFORE an insert pushes the load past 0.5
        if self.full(n_keys, size, n_shards):
            return next_pow2_buckets(max(1, 4 * n_keys // n_shards))
        return None


def hash_cols(col: str) -> list:
    """The two JVM-side probe bases (fingerprint base, index base)."""
    return SF.hash_cols(Cuckoo(), col)


def cuckoo_local(df: DataFrame, col: str, n_buckets: int) -> np.ndarray:
    """Driver-side table over ``df[col]``: collect only the two xxhash64
    bases (16 bytes/row, Arrow transfer) and insert with numpy."""
    return Cuckoo().build_local(df, col, n_buckets)


def maybe_seen_col(spark, table_bytes: bytes, n_buckets: int):
    """(hfp_col, hix_col) -> boolean Column; True = possibly seen."""
    cuckoo = Cuckoo()
    return SF.probe_udf(spark, cuckoo, cuckoo.from_bytes(table_bytes, n_buckets))
