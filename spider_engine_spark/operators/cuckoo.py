"""Partitioned cuckoo-filter URL-seen set.

north_rule: "a partitioned cuckoo-filter URL-seen set built via vectorized
Arrow UDFs over canonicalized+xxhash64'd URLs". Design:

- URLs are canonicalized then hashed with Spark's native `xxhash64`
  (JVM-side); the 64-bit hash is the only thing the filter ever sees.
- The seen-set is range-partitioned into P shards by `pmod(hash, P)`;
  each shard owns one serialized cuckoo table (numpy uint16 fingerprints,
  4 slots per bucket) stored as a row (shard, nbuckets, count, data).
- Probe and insert run as grouped/cogrouped Arrow UDFs
  (`applyInPandas`): candidates are shuffled to their shard, the shard's
  table is deserialized once per group, membership is a fully vectorized
  numpy lookup. No false negatives; false positives are resolved by an
  exact semi-join against the exact seen table (the at-scale fast path:
  only maybe-seen candidates pay the exact check).

Sizing at the design scale of 10^10 URLs (SURVEY.md §7.3 risk 4): with
P = 16384 shards, each shard holds ~6.1e5 URLs -> 2^18 buckets * 4 slots
* 2 bytes ~= 2 MiB per shard table, ~32 GiB across the cluster, streamed
per-group through Arrow — never materialized on one executor. The same
code runs here at P=8.

The filter replaces the reference's per-table primary-key map + bolt
btree membership check (core/table/table.go:451-454, 721-746).
"""

from __future__ import annotations

import numpy as np

FP_MASK = 0xFFFF
SLOTS = 4
MAX_KICKS = 500


def _next_pow2(n: int) -> int:
    p = 1
    while p < n:
        p <<= 1
    return p


def _group_ranks(keys: np.ndarray) -> np.ndarray:
    """Rank of each element within its equal-key group, counting in array
    order (stable).  [5, 3, 5, 5, 3] -> [0, 0, 1, 2, 1]."""
    n = len(keys)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    order = np.argsort(keys, kind="stable")
    sk = keys[order]
    is_new = np.empty(n, dtype=bool)
    is_new[0] = True
    is_new[1:] = sk[1:] != sk[:-1]
    group_start = np.maximum.accumulate(
        np.where(is_new, np.arange(n), 0)
    )
    ranks = np.empty(n, dtype=np.int64)
    ranks[order] = np.arange(n) - group_start
    return ranks


class CuckooFilter:
    """Vectorized cuckoo filter over uint64 hashes (numpy table)."""

    def __init__(self, capacity: int, table: np.ndarray | None = None):
        if table is not None:
            self.table = table
        else:
            nb = _next_pow2(max(16, int(capacity / (SLOTS * 0.84)) + 1))
            self.table = np.zeros((nb, SLOTS), dtype=np.uint16)
        self.nbuckets = self.table.shape[0]

    # -- serialization ------------------------------------------------
    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "CuckooFilter":
        arr = np.frombuffer(data, dtype=np.uint16).reshape(-1, SLOTS).copy()
        return cls(0, table=arr)

    # -- hashing ------------------------------------------------------
    def _fp_idx(self, hashes: np.ndarray):
        h = hashes.astype(np.uint64)
        fp = ((h >> np.uint64(48)) & np.uint64(FP_MASK)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)  # 0 marks empty slots
        mask = np.uint64(self.nbuckets - 1)
        i1 = (h & mask).astype(np.int64)
        alt = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & mask
        i2 = (np.uint64(0) + i1.astype(np.uint64) ^ alt) & mask
        return fp, i1, i2.astype(np.int64)

    # -- ops ----------------------------------------------------------
    def contains(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership probe (no false negatives)."""
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        fp, i1, i2 = self._fp_idx(np.asarray(hashes))
        t = self.table
        hit1 = (t[i1] == fp[:, None]).any(axis=1)
        hit2 = (t[i2] == fp[:, None]).any(axis=1)
        return hit1 | hit2

    def insert(self, hashes: np.ndarray) -> int:
        """Insert hashes; returns #inserted.  Raises if the table is
        over-full — callers size capacity up front.

        Two-pass vectorized bulk placement (round-4 verdict #3): the
        collision-free majority is placed with numpy scatters (one pass
        for each candidate bucket, respecting per-bucket empty-slot
        capacity and first-empty-slot order); only the residue whose both
        buckets fill up — <10% even at the 0.84 design load — pays the
        per-item eviction walk.  Deterministic: placement depends only on
        (table state, input array order); the eviction walk keeps the
        original fixed-seed LCG chain over the residue in array order.
        seenset.insert sorts each shard's hashes before calling this, so
        persisted filter bytes depend only on the table and the hash set.

        Byte-format note: this law places ALL first-choice winners before
        ANY second-choice placements, so for the same (table, input
        order) the table bytes differ from the old per-item sequential
        algorithm (which interleaved the choices).  Membership semantics
        are identical; persisted filter bytes are only comparable within
        one code version (see CrawlJob.migrate_layout's
        byte-reproducibility docstring)."""
        if len(hashes) == 0:
            return 0
        fp_all, i1_all, i2_all = self._fp_idx(np.asarray(hashes))
        t = self.table
        # occupancy bookkeeping over the TARGET buckets only — O(batch
        # log batch), never O(table): a trickle insert (few admits into a
        # large shard) must not pay a full-table argsort per call.
        # tb = sorted unique target buckets; pN = each item's compact
        # index into tb (searchsorted on a sorted unique array is exact).
        tb = np.unique(np.concatenate((i1_all, i2_all)))
        sub_occ = t[tb] != 0
        # empty slots per target bucket, and the column index of the k-th
        # empty slot (stable argsort puts False=empty columns first,
        # preserving left-to-right order = the sequential first-empty rule)
        empties = (SLOTS - sub_occ.sum(axis=1)).astype(np.int64)
        slot_of_rank = np.argsort(sub_occ, axis=1, kind="stable")

        # pass 1: bucket i1 — item j wins a slot iff its in-order rank
        # among items targeting the same bucket fits the bucket's empties
        p1 = np.searchsorted(tb, i1_all)
        r1 = _group_ranks(p1)
        placed1 = r1 < empties[p1]
        c1 = p1[placed1]
        t[i1_all[placed1], slot_of_rank[c1, r1[placed1]]] = fp_all[placed1]
        consumed = np.bincount(c1, minlength=len(tb))

        # pass 2: bucket i2 for the rest, offset by pass-1 consumption
        rest = ~placed1
        p2 = np.searchsorted(tb, i2_all[rest])
        fill2 = consumed[p2] + _group_ranks(p2)
        placed2 = fill2 < empties[p2]
        c2 = p2[placed2]
        t[i2_all[rest][placed2], slot_of_rank[c2, fill2[placed2]]] = (
            fp_all[rest][placed2]
        )

        n = int(placed1.sum()) + int(placed2.sum())
        residue = np.flatnonzero(rest)[~placed2]
        if len(residue) == 0:
            return n

        # residue: per-item eviction walk (deterministic LCG)
        rng_state = 0x9E3779B97F4A7C15
        mask = self.nbuckets - 1
        for j in residue:
            i1 = int(i1_all[j])
            fp = int(fp_all[j])
            placed = False
            for idx in (i1, int(i2_all[j])):
                row = t[idx]
                empty = np.where(row == 0)[0]
                if len(empty):
                    row[empty[0]] = fp
                    placed = True
                    break
            if placed:
                n += 1
                continue
            idx = i1
            cur = fp
            for _kick in range(MAX_KICKS):
                rng_state = (
                    rng_state * 6364136223846793005 + 1442695040888963407
                ) % (1 << 64)
                slot = rng_state % SLOTS
                cur, t[idx, slot] = int(t[idx, slot]), cur
                idx = idx ^ ((cur * 0x5BD1E995) & mask)
                row = t[idx]
                empty = np.where(row == 0)[0]
                if len(empty):
                    row[empty[0]] = cur
                    break
            else:
                raise RuntimeError(
                    f"cuckoo filter over-full (nbuckets={self.nbuckets})"
                )
            n += 1
        return n

    @property
    def count_nonzero(self) -> int:
        return int((self.table != 0).sum())
