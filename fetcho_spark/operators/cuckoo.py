"""Partial-key cuckoo filter (Fan et al., CoNEXT'14 public design) with
16-bit fingerprints and 4-way buckets: the operator behind the
``seen_route_cuckoo`` query (north star: "partitioned bloom/cuckoo-filter
URL-seen set"), which routes probe keys through per-bucket cuckoo blobs
before an exact anti-join. The crawl engine's own seen set is the bloom in
operators/seen.py; it never deletes keys, so the cuckoo's one advantage
(per-key deletion) would buy it nothing, and TTL expiry is meant to drop
whole filter generations instead.

Correctness contract (same as the bloom): the filter is ONLY a router —
"maybe seen" rows pay the exact join, "definitely unseen" rows skip it —
so false positives never change results, and no inserted key is ever
reported absent.

Layout: ``buf = [1-byte saturation flag] + uint16[n_entries * 4]``. A
filter that cannot place a key after ``MAX_KICKS`` evictions flips the
flag and answers "maybe" for everything from then on — graceful
degradation to the exact join, never an aborted job.
"""

from __future__ import annotations

import numpy as np

from ..functions.hashing import splitmix64

SLOTS = 4
MAX_KICKS = 500
_HEADER = 1  # saturation flag byte


def _fingerprints(keys: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprints from signed-int64 keys (0 marks empty)."""
    u = keys.astype(np.int64).view(np.uint64)
    fp = (splitmix64(u) & np.uint64(0xFFFF)).astype(np.uint16)
    return np.where(fp == 0, np.uint16(1), fp)


def _index1(keys: np.ndarray, n_entries: int) -> np.ndarray:
    u = keys.astype(np.int64).view(np.uint64)
    return (splitmix64(splitmix64(u)) & np.uint64(n_entries - 1)).astype(
        np.int64)


def _alt_index(idx: np.ndarray, fp: np.ndarray, n_entries: int) -> np.ndarray:
    """Partial-key alternate bucket: i2 = i1 XOR hash(fp) — involutive, so
    either index recovers the other from the stored fingerprint alone."""
    h = splitmix64(fp.astype(np.uint64)) & np.uint64(n_entries - 1)
    return (idx.astype(np.uint64) ^ h).astype(np.int64)


class CuckooCore:
    """Empty / insert / contains over one cuckoo blob.

    ``size_bits`` maps to the largest power-of-two entry count whose table
    fits in ``size_bits`` bits: ``n_entries * SLOTS * 16 <= size_bits``. At
    ``1 << 20`` that is 16384 entries = 64k slots ≈ 62k keys at the 0.95
    load factor 4-way cuckoo sustains.
    """

    @staticmethod
    def n_entries(size_bits: int) -> int:
        n = 1
        while n * 2 * SLOTS * 16 <= size_bits:
            n *= 2
        return n

    def empty(self, size_bits: int) -> np.ndarray:
        n = self.n_entries(size_bits)
        return np.zeros(_HEADER + n * SLOTS * 2, dtype=np.uint8)

    @staticmethod
    def _table(buf: np.ndarray) -> np.ndarray:
        t = buf[_HEADER:].view(np.uint16)
        return t.reshape(len(t) // SLOTS, SLOTS)

    @staticmethod
    def is_saturated(buf: np.ndarray) -> bool:
        return bool(buf[0])

    # ------------------------------------------------------------------ ops
    def insert(self, buf: np.ndarray, size_bits: int,
               keys: np.ndarray) -> np.ndarray:
        """Insert keys; one fingerprint copy per distinct key (an already-
        present fp in either candidate bucket is not duplicated). Mutates and
        returns ``buf``; flips the saturation flag instead of failing when a
        key cannot be placed."""
        if buf[0]:
            return buf
        table = self._table(buf)
        n = len(table)
        fps = _fingerprints(keys)
        i1s = _index1(keys, n)
        for j in range(len(keys)):
            fp, i1 = fps[j], i1s[j]
            i2 = int(_alt_index(np.array([i1]), np.array([fp]), n)[0])
            row1, row2 = table[i1], table[i2]
            if (row1 == fp).any() or (row2 == fp).any():
                continue
            placed = False
            for row in (row1, row2):
                empty = np.flatnonzero(row == 0)
                if len(empty):
                    row[empty[0]] = fp
                    placed = True
                    break
            if placed:
                continue
            # evict: deterministic kick path (crawl state must be a pure
            # function of data — no RNG)
            cur_fp, cur_i = int(fp), int(i1)
            for kick in range(MAX_KICKS):
                slot = (kick + cur_fp) % SLOTS
                victim = int(table[cur_i, slot])
                table[cur_i, slot] = cur_fp
                cur_fp = victim
                cur_i = int(_alt_index(np.array([cur_i]),
                                       np.array([np.uint16(cur_fp)]), n)[0])
                row = table[cur_i]
                empty = np.flatnonzero(row == 0)
                if len(empty):
                    row[empty[0]] = cur_fp
                    placed = True
                    break
            if not placed:
                # park the homeless victim anywhere correct is impossible —
                # saturate: every probe answers "maybe" (exact join decides)
                buf[0] = 1
                return buf
        return buf

    def contains(self, buf: np.ndarray, size_bits: int,
                 keys: np.ndarray) -> np.ndarray:
        if buf[0]:
            return np.ones(len(keys), dtype=bool)
        table = self._table(buf)
        n = len(table)
        fps = _fingerprints(keys)
        i1 = _index1(keys, n)
        i2 = _alt_index(i1, fps, n)
        col = fps[:, None]
        return ((table[i1] == col).any(axis=1)
                | (table[i2] == col).any(axis=1))
