"""J2 — sharded Bloom URL-seen prefilter (north-rule extension).

Advisory prefilter in front of the exact seen anti-join (J1): rows whose
key is definitely-not-seen skip the anti-join entirely (at scale: skip
the shuffle of the certain-new majority); "maybe seen" rows still flow
through the exact anti-join, so false positives can never drop URLs and
false negatives are impossible for inserted keys (SURVEY.md §2.7 J2).

Representation: the bit space is split into ``n_shards`` independent
numpy bit arrays.  Build is distributed — each partition emits its
partial per-shard bitmaps via mapInPandas, the driver ORs them (bitmap
OR is associative/commutative, so merge order is irrelevant) — and
membership runs map-side from a broadcast.  At 10^10-frontier scale the
filter becomes per-shard files instead (``PartitionedFilter``: one
manifest, update job and probe for its two kinds, ``PartitionedBloom``
and ``cuckoo.PartitionedCuckoo``), probed co-partitioned with the keys,
so no single node ever holds the whole filter; broadcast mode is used
while the filter fits (config BloomConfig.n_bits).

Hashing: pandas' stable siphash (``pandas.util.hash_array``) with two
fixed hash keys, combined by double hashing — vectorized, deterministic
across processes/runs, no per-row Python.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Iterator

import numpy as np
import pandas as pd
from pandas.util import hash_array
from pyspark.sql import functions as F

from .snapshots import commit_manifest, read_current

_HK1 = "grabspark-hash-1"  # hash_key must be exactly 16 bytes
_HK2 = "grabspark-hash-2"


def key_hashes(keys: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    arr = keys.astype(str).to_numpy(dtype=object)
    h1 = hash_array(arr, hash_key=_HK1, categorize=False)
    h2 = hash_array(arr, hash_key=_HK2, categorize=False)
    return h1, h2 | np.uint64(1)  # odd step so double-hash cycles the space


class ShardedBloom:
    """Flat bitmap internally (vectorized O(n*k) membership with direct
    byte indexing — no per-shard loop); ``shards`` exposes equal-sized
    contiguous views for distributed build / merge / persistence."""

    def __init__(self, n_bits: int = 1 << 20, n_hashes: int = 7, n_shards: int = 16):
        assert n_bits % (8 * n_shards) == 0
        self.n_bits = int(n_bits)
        self.n_hashes = int(n_hashes)
        self.n_shards = int(n_shards)
        self.shard_bits = self.n_bits // self.n_shards
        self._bits = np.zeros(self.n_bits // 8, dtype=np.uint8)
        # insertions-so-far (upper bound of distinct keys: re-inserted keys
        # count again), maintained across add/merge/save/load so est_fpp()
        # is O(1) — the saturation signal a fixed-size filter needs at
        # scale (an overfull Bloom silently degrades to fpp ~1.0: every
        # probe then costs hash work and prunes nothing)
        self.n_inserted = 0

    @property
    def shards(self) -> list[np.ndarray]:
        sb = self.shard_bits // 8
        return [self._bits[i * sb : (i + 1) * sb] for i in range(self.n_shards)]

    @shards.setter
    def shards(self, arrays: list[np.ndarray]) -> None:
        self._bits = np.concatenate([np.asarray(a, dtype=np.uint8) for a in arrays])
        assert self._bits.size == self.n_bits // 8

    # -- positions -----------------------------------------------------------

    def _positions(self, keys: pd.Series) -> np.ndarray:
        """(n_hashes, n_keys) flat bit positions via double hashing —
        per-hash in-place ops, no large broadcast temporaries."""
        h1, h2 = key_hashes(keys)
        out = np.empty((self.n_hashes, len(h1)), dtype=np.uint64)
        nb = np.uint64(self.n_bits)
        for i in range(self.n_hashes):
            np.multiply(h2, np.uint64(i), out=out[i])
            out[i] += h1
            out[i] %= nb
        return out

    # -- local ops -----------------------------------------------------------

    def add(self, keys: pd.Series) -> None:
        if len(keys) == 0:
            return
        self.n_inserted += int(len(keys))
        pos = self._positions(keys).ravel()
        np.bitwise_or.at(
            self._bits, (pos >> np.uint64(3)).astype(np.int64), (1 << (pos & np.uint64(7))).astype(np.uint8)
        )

    def contains(self, keys: pd.Series) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)  # (k, n)
        hit = np.ones(pos.shape[1], dtype=bool)
        for i in range(self.n_hashes):
            p = pos[i]
            hit &= (
                self._bits[(p >> np.uint64(3)).astype(np.int64)]
                & (1 << (p & np.uint64(7))).astype(np.uint8)
            ) != 0
        return hit

    def or_merge(self, other: "ShardedBloom") -> None:
        assert (other.n_bits, other.n_shards) == (self.n_bits, self.n_shards)
        self.n_inserted += other.n_inserted
        np.bitwise_or(self._bits, other._bits, out=self._bits)

    def est_fpp(self) -> float:
        """Analytic false-positive estimate from the insertion count:
        (1 - e^{-k n / m})^k.  n counts insertions, not distinct keys, so
        the estimate is conservative (>= the true fpp) — the right bias
        for a bypass decision.  O(1): no bit scan."""
        return est_bloom_fpp(self.n_inserted, self.n_bits, self.n_hashes)

    # -- persistence (resume) ------------------------------------------------

    def save(self, dirpath: str) -> None:
        os.makedirs(dirpath, exist_ok=True)
        np.savez_compressed(
            os.path.join(dirpath, "bloom.npz"),
            meta=np.array(
                [self.n_bits, self.n_hashes, self.n_shards, self.n_inserted], dtype=np.int64
            ),
            **{f"s{i}": sh for i, sh in enumerate(self.shards)},
        )

    @classmethod
    def load(cls, dirpath: str) -> "ShardedBloom":
        z = np.load(os.path.join(dirpath, "bloom.npz"))
        meta = [int(x) for x in z["meta"]]
        n_bits, n_hashes, n_shards = meta[:3]
        b = cls(n_bits, n_hashes, n_shards)
        b.n_inserted = meta[3] if len(meta) > 3 else 0  # pre-count snapshots
        b.shards = [z[f"s{i}"].copy() for i in range(n_shards)]
        return b


def est_bloom_fpp(n_inserted: int, n_bits: int, n_hashes: int) -> float:
    """Standard Bloom fpp model (1 - e^{-kn/m})^k."""
    return (1.0 - float(np.exp(-n_hashes * n_inserted / n_bits))) ** n_hashes


def bloom_bits_for(n_keys: int, bits_per_key: float = 10.0, floor_bits: int = 1 << 20) -> int:
    """Filter size for an expected key count: next power of two >=
    bits_per_key * n_keys (~1% fpp at 10 bits/key with k=7).  Sizing by
    key count is not optional at scale — a filter built for 2^26 bits
    saturates at ~10^7 keys and every probe beyond that is pure overhead
    (measured: a 64M-key round against a 2^26-bit filter spent ~45% of
    its wall time on a probe that pruned nothing)."""
    want = max(int(bits_per_key * max(n_keys, 1)), floor_bits)
    return 1 << (want - 1).bit_length()


# -- broadcast membership ----------------------------------------------------

def broadcast_might_contain(spark, bl: "ShardedBloom"):
    """Broadcast the filter once and return an Arrow-batched membership
    UDF.  Reconstruction on the worker is zero-copy (frombuffer over the
    broadcast bytes)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import BooleanType

    payload = {"meta": (bl.n_bits, bl.n_hashes, bl.n_shards), "bits": bl._bits.tobytes()}
    bc = spark.sparkContext.broadcast(payload)

    @F.pandas_udf(BooleanType())
    def might(keys: pd.Series) -> pd.Series:
        import numpy as np

        p = bc.value
        b = ShardedBloom(*p["meta"])
        b._bits = np.frombuffer(p["bits"], dtype=np.uint8)
        return pd.Series(b.contains(keys))

    might._bc = bc  # exposed so long-lived callers can destroy stale rounds
    return might


# -- distributed build -------------------------------------------------------

def build_partials(keys_df, key_col: str, n_bits: int, n_hashes: int, n_shards: int):
    """mapInPandas stage: per input partition, emit (shard, bits) partial
    bitmaps.  Driver ORs them into the cumulative filter."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = ShardedBloom(n_bits, n_hashes, n_shards)
        any_rows = False
        for pdf in it:
            if len(pdf):
                any_rows = True
                local.add(pdf[key_col])
        if any_rows:
            yield pd.DataFrame(
                {
                    "shard": list(range(n_shards)),
                    "bits": [sh.tobytes() for sh in local.shards],
                    # key count rides the first shard row only (the merge
                    # sums n_keys across partials)
                    "n_keys": [local.n_inserted] + [0] * (n_shards - 1),
                }
            )

    return keys_df.select(key_col).mapInPandas(
        gen, schema="shard int, bits binary, n_keys long"
    )


def merge_partials_into(bloom: ShardedBloom, partial_rows: list) -> None:
    for row in partial_rows:
        arr = np.frombuffer(row["bits"], dtype=np.uint8)
        np.bitwise_or(bloom.shards[row["shard"]], arr, out=bloom.shards[row["shard"]])
        bloom.n_inserted += int(getattr(row, "n_keys", 0) or 0)


def reduce_partials(partials_df):
    """Executor-side OR-merge of build_partials output: one row per
    shard, so a driver collect receives exactly n_bits/8 bytes TOTAL
    regardless of how many input partitions built partials.  Without
    this, collecting raw partials ships (n_partitions x n_bits/8) bytes
    to the driver — at 64M keys x 256 partitions that is ~20 GB and
    trips spark.driver.maxResultSize.  Use for large one-shot builds
    (bench prepare); per-round engine updates keep the direct collect
    (their new-key partials are small and the extra shuffle would sit on
    the measured path)."""
    import pandas as pd

    def _or_group(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = None
        for b in pdf["bits"]:
            arr = np.frombuffer(b, dtype=np.uint8)
            acc = arr.copy() if acc is None else np.bitwise_or(acc, arr, out=acc)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "bits": [acc.tobytes()],
                "n_keys": [int(pdf["n_keys"].sum())],
            }
        )

    return partials_df.groupBy("shard").applyInPandas(
        _or_group, schema="shard int, bits binary, n_keys long"
    )


# ---------------------------------------------------------------------------
# Partitioned mode — the 10^10-key scale path (SURVEY.md §2.7 J2;
# BloomConfig.mode "partitioned" and "cuckoo")
# ---------------------------------------------------------------------------

_HKS = "grabspark-shard0"  # 16-byte hash key for shard routing


def shard_of(keys: pd.Series, n_shards: int) -> np.ndarray:
    """Key -> owning shard (independent hash from the bit-position pair,
    so shard routing doesn't bias in-shard positions)."""
    arr = keys.astype(str).to_numpy(dtype=object)
    return (hash_array(arr, hash_key=_HKS, categorize=False) % np.uint64(n_shards)).astype(
        np.int64
    )


def _shard_positions(keys: pd.Series, n_hashes: int, shard_bits: int) -> np.ndarray:
    """(n_hashes, n_keys) bit positions WITHIN a shard's bit space."""
    h1, h2 = key_hashes(keys)
    out = np.empty((n_hashes, len(h1)), dtype=np.uint64)
    sb = np.uint64(shard_bits)
    for i in range(n_hashes):
        np.multiply(h2, np.uint64(i), out=out[i])
        out[i] += h1
        out[i] %= sb
    return out


def _by_shard(df, key_col: str, n_shards: int):
    """Add each key's shard as ``_shard`` and repartition on it, so all
    rows of one shard land in one task (update job and probe alike)."""
    shard_udf = F.pandas_udf(lambda s: pd.Series(shard_of(s, n_shards)), "long")
    return df.withColumn("_shard", shard_udf(F.col(key_col))).repartition(n_shards, "_shard")


class PartitionedFilter:
    """A seen filter split into ``n_shards`` INDEPENDENT per-shard files:
    each key routes to exactly one shard (``shard_of``), so both update
    and probe touch one shard per key.  Nothing ever holds (or
    broadcasts, or ships to the driver) the whole filter:

    * update — keys are repartitioned by shard; each task loads its
      shards' parent files, applies the kind's kernel and writes new
      immutable files executor-side; the driver commits only a manifest
      of {shard: filename} (Iceberg-style data/metadata split).
    * probe — candidates are repartitioned by the same shard key
      (co-partitioned with the filter), and an Arrow UDF loads just the
      shard files its partition touches, with a per-process cache.

    Versioned manifests give the same exact-resume and second-writer
    semantics as SnapshotTable (``snapshots.commit_manifest``; rollback =
    a new version repointing CURRENT).  A filter kind supplies
    ``_PARAMS`` (its constructor parameters, recorded in the manifest)
    and the per-shard kernels ``_empty()``, ``_hash(keys)`` (a tuple of
    arrays whose last axis is the key), ``_insert(shard, h)`` (returns
    the number of keys it could not insert) and ``_contains(shard, h)``.
    """

    _PARAMS: tuple[str, ...] = ()

    def __init__(self, dirpath: str, n_shards: int):
        self.dirpath = dirpath
        self.n_shards = int(n_shards)

    # -- manifest plumbing ---------------------------------------------------

    def _manifest_path(self, v: int) -> str:
        return os.path.join(self.dirpath, f"manifest-v{v}.json")

    def current_version(self) -> int | None:
        return read_current(os.path.join(self.dirpath, "CURRENT"))

    def manifest(self, version: int | None = None) -> dict | None:
        v = self.current_version() if version is None else version
        if v is None:
            return None
        with open(self._manifest_path(v)) as f:
            return json.load(f)

    def shard_files(self, version: int | None = None) -> dict[int, str]:
        m = self.manifest(version)
        if m is None:
            return {}
        return {int(s): os.path.join(self.dirpath, "files", f) for s, f in m["shards"].items()}

    @property
    def n_inserted(self) -> int:
        """Keys inserted minus keys deleted, over every committed update."""
        m = self.manifest()
        return int(m.get("n_inserted", 0)) if m else 0

    def _params(self) -> dict:
        return {k: getattr(self, k) for k in self._PARAMS}

    def _commit(self, shards: dict[int, str], parent: int | None, n_inserted: int) -> int:
        v = 0 if parent is None else parent + 1
        m = {
            "version": v,
            "parent": parent,
            **self._params(),
            "n_shards": self.n_shards,
            "n_inserted": int(n_inserted),
            "shards": {str(s): f for s, f in sorted(shards.items())},
        }
        return commit_manifest(self._manifest_path(v), os.path.join(self.dirpath, "CURRENT"), m)

    def create(self) -> int:
        os.makedirs(os.path.join(self.dirpath, "files"), exist_ok=True)
        v = self.current_version()
        return self._commit({}, None, 0) if v is None else v

    def rollback(self, version: int) -> int:
        """Exact resume: repoint CURRENT at ``version`` (files are
        immutable, so older manifests stay valid forever)."""
        m = self.manifest(version)
        if m is None:
            raise ValueError(f"no {type(self).__name__} manifest v{version} in {self.dirpath}")
        cur = self.current_version()
        if cur == version:
            return cur
        shards = {int(s): f for s, f in m["shards"].items()}
        return self._commit(shards, cur, m.get("n_inserted", 0))

    @classmethod
    def load(cls, dirpath: str):
        m = PartitionedFilter(dirpath, 1).manifest()
        return cls(dirpath, n_shards=m["n_shards"], **{k: m[k] for k in cls._PARAMS})

    def _plain_copy(self):
        """A plain copy of this filter for task closures and broadcasts:
        it carries the constructor parameters only, never a wrapper set
        on this instance."""
        return type(self)(self.dirpath, n_shards=self.n_shards, **self._params())

    # -- distributed update --------------------------------------------------

    def update(self, keys_df, key_col: str) -> int:
        """Insert the keys, executor-side; returns the new version."""
        return self._apply(keys_df, key_col, "_insert", 1)

    def _apply(self, keys_df, key_col: str, kernel: str, sign: int) -> int:
        """One shuffle (repartition by shard); each task applies
        ``kernel`` to its keys, shard by shard in ascending shard order,
        on a copy of the parent version's shard file, and writes a new
        immutable file; the driver commits the {shard: filename}
        manifest and the key count (``sign`` per key)."""
        parent = self.current_version()
        if parent is None:
            parent = self.create()
        pm = self.manifest(parent)
        files_dir = os.path.join(self.dirpath, "files")
        pf = {int(s): f for s, f in pm["shards"].items()}
        flt = self._plain_copy()

        def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            apply = getattr(flt, kernel)
            arrays: dict[int, np.ndarray] = {}
            n_keys: dict[int, int] = {}
            n_failed: dict[int, int] = {}
            for pdf in it:
                if not len(pdf):
                    continue
                shards = pdf["_shard"].to_numpy()
                h = flt._hash(pdf[key_col])
                for s in np.unique(shards):
                    s = int(s)
                    arr = arrays.get(s)
                    if arr is None:
                        prev = pf.get(s)
                        arr = np.load(os.path.join(files_dir, prev)) if prev else flt._empty()
                        arrays[s] = arr
                    mask = shards == s
                    n_failed[s] = n_failed.get(s, 0) + apply(arr, tuple(a[..., mask] for a in h))
                    n_keys[s] = n_keys.get(s, 0) + int(mask.sum())
            rows = []
            for s, arr in arrays.items():
                fname = f"s{s}-{uuid.uuid4().hex}.npy"
                np.save(os.path.join(files_dir, fname), arr)
                rows.append((s, fname, n_keys[s], n_failed[s]))
            if rows:
                yield pd.DataFrame(rows, columns=["shard", "file", "n_keys", "n_failed"])

        touched = (
            _by_shard(keys_df.select(F.col(key_col)), key_col, self.n_shards)
            .mapInPandas(gen, schema="shard long, file string, n_keys long, n_failed long")
            .collect()  # tiny: (shard id, filename) rows only — no shard bytes
        )
        failed = sum(int(r["n_failed"]) for r in touched)
        if failed:
            raise RuntimeError(
                f"{type(self).__name__}.{kernel[1:]} failed for {failed} keys "
                f"(shard over capacity or delete of a never-inserted key)"
            )
        for r in touched:
            pf[int(r["shard"])] = r["file"]
        n = int(pm.get("n_inserted", 0)) + sign * sum(int(r["n_keys"]) for r in touched)
        return self._commit(pf, parent, n)

    # -- map-side probe ------------------------------------------------------

    def make_might_contain(self, spark):
        """Arrow membership UDF reading per-shard files lazily with a
        process-level cache.  Pair with a repartition on the shard column
        (``partitioned_prefilter``) so each worker loads only the shards
        co-partitioned with its rows."""
        from pyspark.sql.types import BooleanType

        bc = spark.sparkContext.broadcast({"flt": self._plain_copy(), "files": self.shard_files()})

        @F.pandas_udf(BooleanType())
        def might(keys: pd.Series) -> pd.Series:
            flt, files = bc.value["flt"], bc.value["files"]
            cache = _shard_cache()
            shards = shard_of(keys, flt.n_shards)
            h = flt._hash(keys)
            hit = np.zeros(len(keys), dtype=bool)
            for s in np.unique(shards):
                path = files.get(int(s))
                if path is None:
                    continue  # empty shard: definitely not seen
                arr = cache.get(path)
                if arr is None:
                    arr = cache[path] = np.load(path)
                mask = shards == s
                hit[mask] = flt._contains(arr, tuple(a[..., mask] for a in h))
            return pd.Series(hit)

        might._bc = bc
        return might


_SHARD_CACHE: dict = {}


def _shard_cache(max_entries: int = 256) -> dict:
    """Per-Python-worker cache of immutable shard files (worker reuse
    keeps it warm across batches/rounds)."""
    if len(_SHARD_CACHE) > max_entries:
        _SHARD_CACHE.clear()
    return _SHARD_CACHE


class PartitionedBloom(PartitionedFilter):
    """Bloom kind: a shard is ``shard_bits / 8`` bytes of bitmap, insert
    ORs the keys' ``n_hashes`` bit positions into it.  At 10^10 keys x
    9.6 bits (~12 GB), 1024 shards of ~12 MB mean any executor holds
    only the shards of its partitions.  Cannot delete (TTL re-crawl needs
    ``cuckoo.PartitionedCuckoo``)."""

    _PARAMS = ("n_bits", "n_hashes")

    def __init__(self, dirpath: str, n_bits: int = 1 << 20, n_hashes: int = 7, n_shards: int = 16):
        assert n_bits % (8 * n_shards) == 0
        super().__init__(dirpath, n_shards)
        self.n_bits = int(n_bits)
        self.n_hashes = int(n_hashes)
        self.shard_bits = self.n_bits // self.n_shards

    def _empty(self) -> np.ndarray:
        return np.zeros(self.shard_bits // 8, dtype=np.uint8)

    def _hash(self, keys: pd.Series) -> tuple[np.ndarray]:
        return (_shard_positions(keys, self.n_hashes, self.shard_bits),)

    def _insert(self, bits: np.ndarray, h: tuple[np.ndarray]) -> int:
        p = h[0].ravel()
        np.bitwise_or.at(
            bits, (p >> np.uint64(3)).astype(np.int64), (1 << (p & np.uint64(7))).astype(np.uint8)
        )
        return 0

    def _contains(self, bits: np.ndarray, h: tuple[np.ndarray]) -> np.ndarray:
        pos = h[0]
        hit = np.ones(pos.shape[1], dtype=bool)
        for q in pos:
            hit &= (
                bits[(q >> np.uint64(3)).astype(np.int64)]
                & (1 << (q & np.uint64(7))).astype(np.uint8)
            ) != 0
        return hit

    def est_fpp(self) -> float:
        """Same O(1) saturation estimate as ShardedBloom.est_fpp: keys
        route uniformly to one shard each, so per-shard load matches the
        global n/m ratio and the flat-filter formula carries over."""
        return est_bloom_fpp(self.n_inserted, self.n_bits, self.n_hashes)


def partitioned_prefilter(df, key_expr, pb: PartitionedFilter, spark, out_col: str = "_maybe_seen"):
    """Tag rows with filter membership, co-partitioned with the filter:
    repartition on the shard of the key (the same routing the update
    used), so each task probes only its own shards (map-side, no
    broadcast of the filter)."""
    might = pb.make_might_contain(spark)
    return (
        _by_shard(df.withColumn("_bloom_key", key_expr), "_bloom_key", pb.n_shards)
        .withColumn(out_col, might(F.col("_bloom_key")))
        .drop("_bloom_key", "_shard")
    )
