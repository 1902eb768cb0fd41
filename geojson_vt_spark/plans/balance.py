"""Explicit skew handling for keyed Arrow stages (the north rule's
"explicit salting for hot tiles").

`groupBy(key).applyInArrow` always hash-shuffles on the group key, so a
handful of heavy groups can land in the same task by hash accident and
serialize the stage: with G groups over P partitions the max hash load is
~G/P + O(sqrt(G/P log P)), and when each group is a whole subtree of the
tile pyramid one unlucky partition carries minutes of work while the rest
idle.  The driver already knows every group's weight (vertex counts from
the per-level decision stats), so instead of praying over hash placement we
*engineer* it:

1. LPT bin-pack the groups into `n_bins` near-equal-weight bins
   (longest-processing-time greedy: sort by weight desc, place each in the
   lightest bin — max bin <= 4/3 * optimum).
2. Mint one synthetic group id (gid) per group, chosen so that
   ``pmod(murmur3(gid), n_partitions)`` — the exact placement Spark's
   HashPartitioning computes — equals the group's assigned bin.
3. The caller broadcast-joins the (key -> gid) mapping onto the rows,
   ``repartition(n, "gid")`` (satisfies the applyInArrow distribution, so
   no second shuffle) and groups by gid; the kernel still reads the real
   key from the rows.

The Murmur3 implementation below is bit-identical to Spark's
`Murmur3_x86_32.hashLong` with the fixed seed 42 used by `F.hash` and
HashPartitioning (verified by tests/test_balance.py against F.hash), so no
Spark job is needed to predict placement.
"""

from __future__ import annotations

import heapq
from typing import Dict, Hashable, List, Sequence

_MASK32 = 0xFFFFFFFF
_MASK64 = 0xFFFFFFFFFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    x &= _MASK32
    return ((x << r) | (x >> (32 - r))) & _MASK32


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _MASK32
    k1 = _rotl32(k1, 15)
    return (k1 * 0x1B873593) & _MASK32


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = _rotl32(h1, 13)
    return (h1 * 5 + 0xE6546B64) & _MASK32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _MASK32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _MASK32
    h1 ^= h1 >> 16
    return h1


def spark_hash_long(v: int, seed: int = 42) -> int:
    """Spark's `F.hash(long_col)` / HashPartitioning hash: Murmur3_x86_32
    over the 8-byte long as two 32-bit blocks (low then high), seed 42.
    Returns a signed 32-bit int, same as the JVM."""
    v &= _MASK64
    h1 = _mix_h1(seed, _mix_k1(v & _MASK32))
    h1 = _mix_h1(h1, _mix_k1((v >> 32) & _MASK32))
    r = _fmix(h1, 8)
    return r - 0x100000000 if r >= 0x80000000 else r


def partition_of_long(v: int, n_partitions: int) -> int:
    """The partition `repartition(n, col)` sends a long value to:
    ``pmod(murmur3(v), n)``."""
    return spark_hash_long(v) % n_partitions


def lpt_assign(weights: Sequence[float], n_bins: int) -> List[int]:
    """Longest-processing-time greedy bin assignment. Returns the bin index
    for each input weight; max bin weight <= 4/3 of the optimal makespan."""
    heap = [(0.0, b) for b in range(n_bins)]
    heapq.heapify(heap)
    order = sorted(range(len(weights)), key=lambda i: -weights[i])
    out = [0] * len(weights)
    for i in order:
        load, b = heapq.heappop(heap)
        out[i] = b
        heapq.heappush(heap, (load + weights[i], b))
    return out


def balanced_gid_mapping(
    keys: Sequence[Hashable],
    weights: Sequence[float],
    n_partitions: int,
) -> Dict[Hashable, int]:
    """key -> engineered long gid such that hash-partitioning the gids over
    `n_partitions` partitions realizes an LPT-balanced placement of the
    keys' weights. Deterministic (gids minted by scanning 0,1,2,...)."""
    bins = lpt_assign(weights, n_partitions)
    need: Dict[int, int] = {}
    for b in bins:
        need[b] = need.get(b, 0) + 1
    pools: Dict[int, List[int]] = {b: [] for b in need}
    g = 0
    remaining = sum(need.values())
    while remaining > 0:
        p = partition_of_long(g, n_partitions)
        pool = pools.get(p)
        if pool is not None and len(pool) < need[p]:
            pool.append(g)
            remaining -= 1
        g += 1
    out: Dict[Hashable, int] = {}
    fill = {b: 0 for b in need}
    for key, b in zip(keys, bins):
        out[key] = pools[b][fill[b]]
        fill[b] += 1
    return out


def bin_loads(
    keys: Sequence[Hashable],
    weights: Sequence[float],
    mapping: Dict[Hashable, int],
    n_partitions: int,
) -> List[float]:
    """Realized per-partition load under `mapping` (for tests/debugging)."""
    loads = [0.0] * n_partitions
    for key, w in zip(keys, weights):
        loads[partition_of_long(mapping[key], n_partitions)] += w
    return loads
