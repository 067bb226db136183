"""VersionedTable's one commit protocol: every write, append included,
publishes a new immutable version, and the current version is read once
per session."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from oasysdb_spark.core.tables import VersionedTable
from oasysdb_spark.sources.tables import memo_stats


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


@pytest.mark.parametrize("verb", ["write", "rewrite_partitions", "append"])
def test_commit_never_publishes_a_crashed_attempt(spark, tmp_path, verb):
    t = VersionedTable(str(tmp_path / "vt"))
    base = spark.range(0, 8).withColumn("p", (F.col("id") % 2).cast("int"))
    t.write(base, partition_by=["p"])
    # a commit that crashed before its pointer swap left a part file
    # under the next version's name
    part_dir = os.path.join(t.current_path(), "p=0")
    part = next(n for n in os.listdir(part_dir) if n.endswith(".parquet"))
    stray_dir = os.path.join(t.root, t._next_version(), "p=0")
    os.makedirs(stray_dir)
    shutil.copy2(
        os.path.join(part_dir, part), os.path.join(stray_dir, "part-stray.parquet")
    )

    new = spark.range(100, 102).withColumn("p", F.lit(0))
    if verb == "write":
        t.write(base.union(new), partition_by=["p"])
    elif verb == "rewrite_partitions":
        t.rewrite_partitions(base.where("p = 0").union(new), "p", [0])
    else:
        t.append(new, partition_by=["p"])
    assert _ids(t.read(spark)) == list(range(8)) + [100, 101]


def test_failed_commit_leaves_no_version(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(spark.range(0, 10))
    before = t.versions()
    # same schema as the table, but the write job fails in its tasks
    bad = spark.range(10, 12).withColumn(
        "id", F.when(F.assert_true(F.col("id") < 0).isNull(), F.col("id"))
    )
    with pytest.raises(Exception):
        t.append(bad)
    assert t.versions() == before
    assert t.read(spark).count() == 10


def test_append_leaves_the_previous_version_unchanged(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(spark.range(0, 10))
    before = t.current_version()
    t.append(spark.range(10, 15))
    assert t.current_version() != before
    assert _ids(t.read_version(spark, before)) == list(range(10))
    assert _ids(t.read(spark)) == list(range(15))


def test_gc_removed_version_is_never_served(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(spark.range(0, 10))
    first = t.current_version()
    assert t.read(spark).count() == 10  # a memo entry for the first version
    t.append(spark.range(10, 12))
    t.append(spark.range(12, 14))  # keep_versions=2: the first version goes
    assert first not in t.versions()
    with pytest.raises(FileNotFoundError):
        t.read_version(spark, first)
    assert t.read(spark).count() == 14


def test_read_is_memoized_per_version(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    t.write(spark.range(0, 10))
    t.read(spark)

    def stats():
        return memo_stats().get("table", {"hits": 0, "misses": 0})

    s0 = stats()
    t.read(spark)
    s1 = stats()
    assert (s1["hits"], s1["misses"]) == (s0["hits"] + 1, s0["misses"])
    t.append(spark.range(10, 12))  # its schema check reads the current version
    s2 = stats()
    assert (s2["hits"], s2["misses"]) == (s1["hits"] + 1, s1["misses"])
    assert t.read(spark).count() == 12  # the commit moved the pointer: a miss
    s3 = stats()
    assert (s3["hits"], s3["misses"]) == (s2["hits"], s2["misses"] + 1)
