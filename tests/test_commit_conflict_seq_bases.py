"""Two robustness guards: a second writer on one snapshot table or
partitioned seen filter gets a clear conflict instead of a lost version,
and fetch_seq numbering holds with hundreds of per-seed bases."""

import pytest

from grabspark import seq as seq_mod
from grabspark.extract import FRONTIER_SCHEMA
from grabspark.snapshots import CommitConflict, SnapshotTable


def test_second_writer_on_same_parent_conflicts(spark, tmp_path):
    """Two drivers on one run_dir: both read parent v0, both commit.
    The first commit lands; the second raises CommitConflict and leaves
    the first writer's version untouched."""
    path = str(tmp_path / "t")
    df = lambda *vals: spark.createDataFrame([(v,) for v in vals], "x int")
    a = SnapshotTable(spark, path)
    v0 = a.overwrite(df(1), meta={"by": "a"})
    b = SnapshotTable(spark, path)
    assert b.current_version() == v0
    # b read CURRENT before a's next commit landed
    b.current_version = lambda: v0

    v1 = a.append(df(2), meta={"by": "a"})
    assert v1 == v0 + 1
    with pytest.raises(CommitConflict, match=f"v{v1}"):
        b.append(df(3), meta={"by": "b"})

    fresh = SnapshotTable(spark, path)
    assert fresh.current_version() == v1
    assert fresh.meta()["by"] == "a"
    assert sorted(r.x for r in fresh.read().collect()) == [1, 2]


def _filter(kind: str, path: str):
    from grabspark.bloom import PartitionedBloom
    from grabspark.cuckoo import PartitionedCuckoo

    if kind == "bloom":
        return PartitionedBloom(path, n_bits=1 << 14, n_hashes=5, n_shards=4)
    return PartitionedCuckoo(path, n_buckets=1 << 8, n_shards=4)


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_second_filter_writer_on_same_parent_conflicts(spark, tmp_path, kind):
    """Two drivers on one partitioned seen-filter directory: both update
    on parent v0.  The first commit lands; the second raises
    CommitConflict, and the landed version's shard files still read
    back (every key of the first writer probes true)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / kind)
    keys = lambda p: spark.createDataFrame([(f"{p}{i}",) for i in range(200)], "k string")
    a, b = _filter(kind, path), _filter(kind, path)
    v0 = a.create()
    assert b.current_version() == v0
    # b read CURRENT before a's update landed
    b.current_version = lambda: v0

    v1 = a.update(keys("a"), "k")
    assert v1 == v0 + 1
    landed = a.shard_files(v1)
    with pytest.raises(CommitConflict, match=f"v{v1}"):
        b.update(keys("b"), "k")

    fresh = type(a).load(path)
    assert fresh.current_version() == v1
    assert fresh.shard_files() == landed
    assert fresh.n_inserted == 200
    might = fresh.make_might_contain(spark)
    assert all(r.hit for r in keys("a").withColumn("hit", might(F.col("k"))).collect())


def test_fetch_seq_with_500_seed_bases(spark):
    """A crawl with hundreds of seeds carries one numbering base per
    seed.  The windowed assignment must number every seed from its own
    base, exactly like the offset-table (distributed) assignment."""
    n_seeds = 500
    bases = {s: 1000 + 7 * s for s in range(n_seeds)}
    rows = [
        (s, f"u{s}-{ps}", f"u{s}-{ps}", "h", ps, 0, 0)
        for s in range(n_seeds)
        for ps in (2, 0, 1)
    ]
    df = spark.createDataFrame(rows, FRONTIER_SCHEMA)

    def seqs(out):
        return {r.url: r.fetch_seq for r in out.select("url", "fetch_seq").collect()}

    windowed, n_sched, per_seed = seq_mod.assign_fetch_seq_counted(df, bases)
    got = seqs(windowed)
    assert n_sched == len(rows)
    assert per_seed == {s: 3 for s in range(n_seeds)}
    assert got == {f"u{s}-{ps}": bases[s] + ps for s in range(n_seeds) for ps in (0, 1, 2)}
    distributed, _, _ = seq_mod.assign_fetch_seq_counted(df, bases, threshold=0, n_partitions=4)
    assert seqs(distributed) == got
