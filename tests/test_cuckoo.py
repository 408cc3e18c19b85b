"""PartitionedCuckoo: membership (no false negatives), deletion
exactness, fp-collision safety (multiset semantics), eviction at high
load, versioned manifest rollback, and the graded TTL anti-join's
advisory-filter invariant."""

import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from grabspark import cuckoo as ck
from grabspark.cuckoo import BUCKET_SIZE, PartitionedCuckoo, _contains_in, _fp_and_buckets, _insert_into


def _keys(prefix: str, n: int) -> list[str]:
    return [f"http://h{i % 37}.test/{prefix}/{i}" for i in range(n)]


def test_kernel_no_false_negatives_at_high_load():
    """Pure-kernel check: 0.9-load insertion into one shard table; every
    inserted key must still be found (eviction chains preserve
    membership)."""
    n_buckets = 1 << 8
    cap = n_buckets * BUCKET_SIZE
    keys = pd.Series(_keys("load", int(cap * 0.9)))
    fp, i1, i2 = _fp_and_buckets(keys, n_buckets)
    table = np.zeros((n_buckets, BUCKET_SIZE), dtype=np.uint16)
    failed = _insert_into(table, fp, i1, i2)
    assert failed == 0
    assert _contains_in(table, fp, i1, i2).all()


def test_update_delete_contains(spark, tmp_path):
    """Insert A∪B distributed, delete B: all of A contained, B mostly
    not (only fp-rate false positives), C (never inserted) mostly not."""
    pc = PartitionedCuckoo(str(tmp_path / "ck"), n_buckets=1 << 8, n_shards=4)
    pc.create()
    A, B, C = _keys("a", 600), _keys("b", 400), _keys("c", 500)
    df = lambda ks: spark.createDataFrame([(k,) for k in ks], "k string")
    pc.update(df(A + B), "k")
    v_full = pc.current_version()
    pc.delete(df(B), "k")

    contains = pc.make_might_contain(spark)
    res = {
        r["k"]: r["hit"]
        for r in df(A + B + C).withColumn("hit", contains(F.col("k"))).collect()
    }
    assert all(res[k] for k in A), "false negative for an inserted key"
    fp_b = sum(res[k] for k in B)
    fp_c = sum(res[k] for k in C)
    assert fp_b <= 3, f"deleted keys still present: {fp_b}"
    assert fp_c <= 3, f"false-positive rate too high: {fp_c}"

    # rollback to pre-delete: B is contained again (exact resume)
    pc.rollback(v_full)
    contains2 = pc.make_might_contain(spark)
    res2 = df(B).withColumn("hit", contains2(F.col("k"))).collect()
    assert all(r["hit"] for r in res2)


def test_fp_collision_delete_is_safe():
    """Two keys sharing fingerprint AND bucket pair occupy two slots;
    deleting one must leave the other a member (multiset semantics)."""
    n_buckets = 1 << 6
    # mine for a colliding pair
    pool = pd.Series(_keys("mine", 200000))
    fp, i1, i2 = _fp_and_buckets(pool, n_buckets)
    seen: dict[tuple, int] = {}
    pair = None
    for idx in range(len(pool)):
        sig = (int(fp[idx]), min(int(i1[idx]), int(i2[idx])), max(int(i1[idx]), int(i2[idx])))
        if sig in seen:
            pair = (seen[sig], idx)
            break
        seen[sig] = idx
    assert pair is not None, "no fp+bucket collision in pool (widen the pool)"
    ka, kb = pool[pair[0]], pool[pair[1]]
    keys = pd.Series([ka, kb])
    f2, a2, b2 = _fp_and_buckets(keys, n_buckets)
    table = np.zeros((n_buckets, BUCKET_SIZE), dtype=np.uint16)
    assert _insert_into(table, f2, a2, b2) == 0
    from grabspark.cuckoo import _delete_from

    assert _delete_from(table, f2[:1], a2[:1], b2[:1]) == 0
    assert _contains_in(table, f2[1:], a2[1:], b2[1:]).all()


def test_delete_never_inserted_raises(spark, tmp_path):
    pc = PartitionedCuckoo(str(tmp_path / "ck2"), n_buckets=1 << 8, n_shards=2)
    pc.create()
    df = spark.createDataFrame([("http://x.test/1",)], "k string")
    pc.update(df, "k")
    ghost = spark.createDataFrame([("http://never.test/zzz",)], "k string")
    with pytest.raises(Exception, match="never-inserted|failed"):
        pc.delete(ghost, "k")


def test_cuckoo_ttl_antijoin_matches_exact(spark):
    """The graded query's advisory-filter invariant: routed through the
    cuckoo filter (with TTL deletions), the result equals the plain
    exact anti-join against the live seen set."""
    from grabspark.ops.table_ops import _CUCKOO_CUTOFF, cuckoo_ttl_antijoin
    from grabspark.ops.common import T

    sf = "/root/testdata/sf0.001"
    got = cuckoo_ttl_antijoin(spark, sf).toPandas()
    o = T(spark, sf, "orders")
    live = (
        o.groupBy("o_custkey")
        .agg(F.max("o_orderdate").alias("m"))
        .filter(F.col("m") >= F.lit(_CUCKOO_CUTOFF).cast("timestamp"))
    )
    want = (
        T(spark, sf, "customer")
        .join(live, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .toPandas()
    )
    key = lambda p: sorted(map(tuple, p.to_numpy().tolist()))
    assert key(got) == key(want)
    assert len(want) > 0
