#!/usr/bin/env python
"""Partitioned seen-filter scale bench: build each kind of the sharded
filter core (``bloom.PartitionedFilter``) over a multi-million-key seen
set, entirely executor-side, then measure the shard-co-partitioned probe
throughput.  Both kinds get the same 2^30-bit budget (128 MiB of shard
files — the regime where broadcasting the whole filter to every probe
task stops being free), the same keys and the same probe:

* bloom  — ``PartitionedBloom`` (2^30 bits, 7 hashes, 64 shards);
* cuckoo — ``PartitionedCuckoo.sized_for_bits(2^30, 64 shards)``.

The probe covers every inserted key plus as many never-inserted keys;
the script fails on any false negative.  Writes
BENCH/bloom_partitioned.json (one row per kind).

Run: python bench_bloom_partitioned.py   (env: SPARK_GRAFT_CPUS,
SPARK_GRAFT_DRIVER_MEM, GRABSPARK_PBLOOM_KEYS)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(os.path.abspath(__file__))

N_KEYS = int(os.environ.get("GRABSPARK_PBLOOM_KEYS", "4000000"))
N_BITS = 1 << 30
N_SHARDS = 64


def _make(kind: str, n_bits: int):
    from grabspark.bloom import PartitionedBloom
    from grabspark.cuckoo import PartitionedCuckoo

    d = tempfile.mkdtemp(prefix=f"grabspark-{kind}-bench-")
    if kind == "bloom":
        flt = PartitionedBloom(d, n_bits=n_bits, n_hashes=7, n_shards=N_SHARDS)
    else:
        flt = PartitionedCuckoo.sized_for_bits(d, n_bits, N_SHARDS)
    flt.create()
    return flt


def _bench(spark, kind: str, keys, probe) -> dict:
    from pyspark.sql import functions as F

    from grabspark.bloom import partitioned_prefilter

    # warm-up (JIT + python workers + CPU ramp) on a small filter
    _make(kind, 1 << 24).update(keys.limit(200_000), "k")

    flt = _make(kind, N_BITS)
    t0 = time.time()
    flt.update(keys, "k")
    t_build = time.time() - t0

    t0 = time.time()
    tagged = partitioned_prefilter(probe, F.col("k"), flt, spark, out_col="m")
    counts = {
        (r["inserted"], r["m"]): r["count"]
        for r in tagged.groupBy("inserted", "m").count().collect()
    }
    t_probe = time.time() - t0

    false_neg = counts.get((True, False), 0)
    if false_neg:
        raise RuntimeError(f"{kind}: {false_neg} inserted keys probed false")
    files = flt.shard_files()
    row = {
        "kind": kind,
        "n_bits": N_BITS,
        "n_shards": N_SHARDS,
        "n_keys": N_KEYS,
        "build_sec": round(t_build, 3),
        "build_keys_per_sec": round(N_KEYS / t_build),
        "probe_rows": 2 * N_KEYS,
        "probe_sec": round(t_probe, 3),
        "probe_keys_per_sec": round(2 * N_KEYS / t_probe),
        "false_negatives": false_neg,
        "fp_rate": round(counts.get((False, True), 0) / N_KEYS, 6),
        "shard_files": len(files),
        "filter_mib": round(sum(os.path.getsize(p) for p in files.values()) / 2**20, 1),
    }
    if kind == "cuckoo":
        row["n_buckets"] = flt.n_buckets
        row["load_factor"] = round(flt.load_factor(), 4)
    return row


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("grabspark-pfilter-bench")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", driver_mem)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from grabspark.session import attach_package

    attach_package(spark)

    def url_keys(n: int):
        return spark.range(n).select(
            F.concat(F.lit("http://h"), (F.col("id") % 1024).cast("string"),
                     F.lit(".test/p"), F.col("id").cast("string")).alias("k"),
            (F.col("id") < N_KEYS).alias("inserted"),
        )

    keys = url_keys(N_KEYS).select("k")
    probe = url_keys(2 * N_KEYS)
    rows = [_bench(spark, kind, keys, probe) for kind in ("bloom", "cuckoo")]
    bloom, cuckoo = rows
    out = {
        "machine": {"local_cpus": int(cpus), "driver_memory": driver_mem},
        "rows": rows,
        # the cuckoo (which can also delete) replaces PartitionedBloom once
        # both ratios are within ~10% of 1
        "cuckoo_over_bloom": {
            "build_keys_per_sec": round(cuckoo["build_keys_per_sec"] / bloom["build_keys_per_sec"], 3),
            "probe_keys_per_sec": round(cuckoo["probe_keys_per_sec"] / bloom["probe_keys_per_sec"], 3),
        },
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "bloom_partitioned.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
