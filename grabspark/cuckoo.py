"""J2-alt — partitioned cuckoo URL-seen filter (north-rule extension).

The north rule names a "partitioned Bloom/cuckoo URL-seen filter";
``bloom.PartitionedBloom`` covers the Bloom half.  The cuckoo filter
(Fan, Andersen, Kaminsky, Mitzenmacher, "Cuckoo Filter: Practically
Better Than Bloom", CoNEXT 2014 — public paper) buys the one capability
Bloom fundamentally lacks: **deletion**.  A crawl that re-crawls on TTL
must remove expired URLs from the seen side; with Bloom that means
rebuilding the filter, with cuckoo it is a per-key delete that mirrors
the snapshot table's ``delete_where``.

Shape (standard cuckoo, sharded by ``bloom.PartitionedFilter``):

* each key routes to exactly one shard (``bloom.shard_of`` — the same
  routing as the Bloom shards; the two kinds share one manifest, update
  job and probe, so they are drop-in replacements for each other in
  ``partitioned_prefilter`` and the engine's prefilter slot);
* a shard is a ``(n_buckets, bucket_size)`` uint16 table of 16-bit
  fingerprints (0 = empty). fp and both candidate buckets derive from
  the key's stable siphashes; ``i2 = i1 XOR h(fp)`` (partial-key
  cuckooing — the alternate bucket is computable from (bucket, fp)
  alone, which is what makes eviction and deletion possible);
* insert: place in a free slot of i1/i2, else displace a resident
  fingerprint to ITS alternate bucket (bounded kick chain).  Build is
  sequential per shard — the price of deletability vs Bloom's
  commutative OR — but shards build in parallel executor-side;
* delete: remove ONE matching fingerprint from i1/i2.  Safe for any
  key that was actually inserted: two distinct keys colliding in both
  fingerprint and bucket pair occupy two slots, so deleting one leaves
  the other's membership intact (multiset semantics);
* contains: fingerprint present in bucket i1 or i2 — fully vectorized
  numpy (no per-key loop on the probe path).

Membership is insertion-order independent (eviction only ever moves a
fingerprint between its two legal buckets), so query results are
deterministic even though shard file bytes may differ run-to-run.
False-positive rate ~ 2*bucket_size / 2^16 (~0.012% at bucket_size 4);
false negatives are impossible for inserted-and-not-deleted keys.

The driver only ever sees shard ids and filenames.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .bloom import PartitionedFilter, key_hashes

BUCKET_SIZE = 4
MAX_KICKS = 500
_FP_MULT = np.uint64(0x5BD1E995)  # small odd multiplier for the fp hash


def _fp_and_buckets(keys: pd.Series, n_buckets: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(fingerprint, bucket1, bucket2) per key; n_buckets must be a
    power of two so i1 ^ h(fp) is an involution (i1 <-> i2)."""
    h1, h2 = key_hashes(keys)
    fp = (h2 & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1  # 0 is the empty-slot sentinel
    mask = np.uint64(n_buckets - 1)
    i1 = (h1 & mask).astype(np.int64)
    i2 = (i1.astype(np.uint64) ^ ((fp.astype(np.uint64) * _FP_MULT) & mask)).astype(np.int64)
    return fp, i1, i2


def _alt_bucket(bucket: int, fp: int, n_buckets: int) -> int:
    return int(np.uint64(bucket) ^ ((np.uint64(fp) * _FP_MULT) & np.uint64(n_buckets - 1)))


def _insert_into(table: np.ndarray, fp: np.ndarray, i1: np.ndarray, i2: np.ndarray) -> int:
    """Sequential cuckoo insertion of all keys into one shard table
    (mutates ``table``); returns the number of failed insertions (shard
    over capacity — size shards with headroom so this stays 0)."""
    n_buckets = table.shape[0]
    failed = 0
    for k in range(len(fp)):
        f, b1, b2 = int(fp[k]), int(i1[k]), int(i2[k])
        placed = False
        for b in (b1, b2):
            row = table[b]
            empties = np.flatnonzero(row == 0)
            if len(empties):
                row[empties[0]] = f
                placed = True
                break
        if placed:
            continue
        # kick chain: displace a resident fp to its alternate bucket
        b, cur = b1, f
        for kick in range(MAX_KICKS):
            # victim slot varies with the in-flight fingerprint, not just
            # the kick counter: a pure kick%4 policy revisits buckets with
            # a period-4 slot pattern and can walk short cycles to
            # exhaustion at high load; mixing cur decorrelates the walk
            # (deterministic, so task retries replay identically)
            slot = (cur + kick) % BUCKET_SIZE
            victim = int(table[b, slot])
            table[b, slot] = cur
            cur = victim
            b = _alt_bucket(b, cur, n_buckets)
            row = table[b]
            empties = np.flatnonzero(row == 0)
            if len(empties):
                row[empties[0]] = cur
                placed = True
                break
        if not placed:
            failed += 1
    return failed


def _delete_from(table: np.ndarray, fp: np.ndarray, i1: np.ndarray, i2: np.ndarray) -> int:
    """Remove ONE copy of each key's fingerprint from its bucket pair;
    returns the number of keys with no matching fingerprint (deleting a
    never-inserted key — a caller bug, reported not silently ignored)."""
    missing = 0
    for k in range(len(fp)):
        f = int(fp[k])
        for b in (int(i1[k]), int(i2[k])):
            slots = np.flatnonzero(table[b] == f)
            if len(slots):
                table[b, slots[0]] = 0
                break
        else:
            missing += 1
    return missing


def _contains_in(table: np.ndarray, fp: np.ndarray, i1: np.ndarray, i2: np.ndarray) -> np.ndarray:
    """Vectorized membership: fp present in bucket i1 or i2."""
    f = fp[:, None]
    return (table[i1] == f).any(axis=1) | (table[i2] == f).any(axis=1)


class PartitionedCuckoo(PartitionedFilter):
    """Cuckoo kind: a shard is an ``(n_buckets, BUCKET_SIZE)`` uint16
    fingerprint table.  Capacity per shard is ``n_buckets * BUCKET_SIZE``
    slots; keep load under ~0.95."""

    _PARAMS = ("n_buckets",)

    def __init__(self, dirpath: str, n_buckets: int = 1 << 12, n_shards: int = 16):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of two"
        super().__init__(dirpath, n_shards)
        self.n_buckets = int(n_buckets)

    def _empty(self) -> np.ndarray:
        return np.zeros((self.n_buckets, BUCKET_SIZE), dtype=np.uint16)

    def _hash(self, keys: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        return _fp_and_buckets(keys, self.n_buckets)

    def _insert(self, table: np.ndarray, h) -> int:
        return _insert_into(table, *h)

    def _delete(self, table: np.ndarray, h) -> int:
        return _delete_from(table, *h)

    def _contains(self, table: np.ndarray, h) -> np.ndarray:
        return _contains_in(table, *h)

    def delete(self, keys_df, key_col: str) -> int:
        """Remove one copy of each key, executor-side; returns the new
        version."""
        return self._apply(keys_df, key_col, "_delete", -1)

    @classmethod
    def sized_for_bits(cls, dirpath: str, n_bits: int, n_shards: int) -> "PartitionedCuckoo":
        """Size from a BloomConfig-style bit budget: 16-bit slots, so
        n_bits/16 total slots, rounded up to power-of-two buckets per
        shard (target load stays under ~0.95 when keys ~ n_bits/9.6·0.6
        — comfortably below slot capacity for any Bloom-sized budget)."""
        slots = max(n_bits // 16, BUCKET_SIZE * n_shards)
        per_shard_buckets = max(-(-slots // (BUCKET_SIZE * n_shards)), 1)
        n_buckets = 1 << (per_shard_buckets - 1).bit_length()
        return cls(dirpath, n_buckets=n_buckets, n_shards=n_shards)

    def load_factor(self) -> float:
        used = total = 0
        for path in self.shard_files().values():
            t = np.load(path)
            used += int((t != 0).sum())
            total += t.size
        return used / total if total else 0.0
