"""Partitioned Bloom filter over 64-bit URL hashes.

The reference's URL-seen set is a SQLite table probed per URL
(cache_db.py:17-29, crawler.py:1164). At 10^10 URLs a single bitmap at
1% FPR is ~12 GB — unbroadcastable — so the engine shards it:
``partition = url_hash mod P`` selects one of P independent bitmaps
(SURVEY.md §7 hard part 3; P=4096 × ~3 MB at full scale,
``NUM_PARTITIONS`` = 64 here). Properties:

* **pre-filter only, never authoritative**: a positive routes the
  candidate into the exact anti-join against the seen table; a negative
  skips that shuffle entirely. Seen-set equality stays exact.
* **created at compaction, then merged per round**: the filter only
  pays once the visited table is big enough for the exact check to
  cost, so it is first built in one pass over the compacted visited
  snapshot by the compaction that finds it at the engine's probe floor
  (``prune_min_bytes``). Every later round builds its delta
  *executor-side* (``bitmap_delta`` under
  ``groupBy(pmod(url_hash, P)).applyInPandas``) and ORs it into the
  committed bitmaps; the merged partitions commit atomically as the
  ``bloom_parts`` table with the round's other deltas. The driver never
  sees the per-URL hashes or a bitmap.
* **one probe shape**: the filter lives only in the ``bloom_parts``
  table; probe rows cogroup with it by partition id, so the full filter
  (GBs at production scale) never transits the driver.
* **vectorized membership**: numpy bit ops over Arrow batches — no
  per-row Python.

Hashing: the two Bloom probe hashes derive from the already-computed
``xxhash64(canonical_url)`` (Kirsch-Mitzenmacher double hashing), so
executors never touch URL strings.
"""
from __future__ import annotations

import numpy as np

_MIX1 = np.uint64(0xFF51AFD7ED558CCD)
_MIX2 = np.uint64(0xC4CEB9FE1A85EC53)

# partition count, bits per partition bitmap (16 KB) and probe count.
# The partition count is a power of two: Spark's signed
# pmod(url_hash, P) then equals numpy's unsigned url_hash % P
# (2^64 ≡ 0 mod P), so executor and test builds agree on every pid.
NUM_PARTITIONS = 64
BITS_PER_PARTITION = 1 << 17
NUM_HASHES = 7


def _mix(h: np.ndarray) -> np.ndarray:
    """splitmix64-style avalanche to derive the second probe stream."""
    h = h.copy()
    h ^= h >> np.uint64(33)
    h *= _MIX1
    h ^= h >> np.uint64(33)
    h *= _MIX2
    h ^= h >> np.uint64(33)
    return h


def bitmap_delta(hashes: np.ndarray, bits: int, k: int) -> np.ndarray:
    """Bitmap with the probe bits of ``hashes`` set — the executor-side
    delta unit. All hashes must belong to one partition (the caller
    groups by ``pmod(url_hash, P)``); partition id does not affect bit
    positions."""
    h = hashes.astype(np.uint64)
    part = np.zeros(bits // 8, dtype=np.uint8)
    h2 = _mix(h) | np.uint64(1)
    for i in range(k):
        pos = (h + np.uint64(i) * h2) % np.uint64(bits)
        np.bitwise_or.at(part, (pos >> np.uint64(3)).astype(np.int64),
                         np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
    return part


def check_hashes(hashes: np.ndarray, part: np.ndarray, bits: int,
                 k: int) -> np.ndarray:
    """Vectorized membership of ``hashes`` against one partition bitmap."""
    h = hashes.astype(np.uint64)
    h2 = _mix(h) | np.uint64(1)
    hit = np.ones(len(h), dtype=bool)
    for i in range(k):
        pos = (h + np.uint64(i) * h2) % np.uint64(bits)
        byte = part[(pos >> np.uint64(3)).astype(np.int64)]
        hit &= (byte >> (pos & np.uint64(7)).astype(np.uint8)) & 1 == 1
    return hit

