"""Versioned parquet tables with atomic pointer swap.

A table is a directory of immutable version subdirectories plus a
``_LATEST`` pointer file; writers produce ``v{n+1}`` and atomically swap
the pointer (os.replace). Readers resolve the pointer once and then only
ever see that immutable version — the distributed analog of the
reference's whole-state snapshot + rename persistence
(/root/reference/src/cores/database.rs:147-187) and of its coarse RwLock
isolation (/root/reference/src/cores/database.rs:74-75): readers never
observe a half-written table, with zero locks.

On a real cluster this role is played by a transactional table format
(Delta/Iceberg); the pointer-file scheme keeps the same semantics with
plain Parquet and no extra dependencies.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from oasysdb_spark.core.config import atomic_write_text
from oasysdb_spark.sources.tables import memo

_LATEST = "_LATEST"


class VersionedTable:
    def __init__(self, root: str):
        self.root = root

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.root, _LATEST))

    def current_version(self) -> str | None:
        try:
            with open(os.path.join(self.root, _LATEST), encoding="utf-8") as f:
                return f.read().strip()
        except FileNotFoundError:
            return None

    def current_path(self) -> str:
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        return os.path.join(self.root, v)

    def read(self, spark: SparkSession) -> DataFrame:
        """The current version, resolved once per session and version: the
        memo entry is keyed by the table root and signed by the version
        directory, so a commit (which moves the pointer) replaces it and a
        directory removed by GC never hits."""
        path = self.current_path()
        return memo(
            spark, "table", os.path.abspath(self.root), (path,),
            lambda: spark.read.parquet(path),
        )

    def versions(self) -> list[str]:
        """All retained version names, oldest first (bounded by the
        ``keep_versions`` GC of the write paths)."""
        try:
            return sorted(
                d for d in os.listdir(self.root) if d.startswith("v") and d[1:].isdigit()
            )
        except FileNotFoundError:
            return []

    def read_version(self, spark: SparkSession, version: str) -> DataFrame:
        """Time travel: read a specific retained version. Versions are
        immutable directories, so this is the same snapshot-isolation
        guarantee readers of the current pointer get, pointed at history
        (what Delta/Iceberg call ``VERSION AS OF``)."""
        path = os.path.join(self.root, version)
        if not os.path.isdir(path):
            raise FileNotFoundError(
                f"version {version!r} not retained in {self.root} "
                f"(have: {self.versions()})"
            )
        return spark.read.parquet(path)

    def compact(
        self,
        spark: SparkSession,
        partition_by: list[str] | None = None,
        target_partitions: int | None = None,
        keep_versions: int = 2,
    ) -> str:
        """Rewrite the current version with healthy file sizes — the
        maintenance job for micro-batch append small-file buildup (every
        streaming epoch appends >=1 file; thousands of tiny files destroy
        scan throughput long before data size matters at 100 TB).

        Partitioned layouts repartition on the partition columns so each
        partition directory lands as few large files; unpartitioned
        tables coalesce to ``target_partitions`` (default: the session's
        shuffle parallelism). Readers are untouched: the compacted copy
        is a NEW version behind the atomic pointer swap."""
        df = self.read(spark)
        if partition_by:
            df = df.repartition(*[df[c] for c in partition_by])
        else:
            n = target_partitions or spark.sparkContext.defaultParallelism
            df = df.coalesce(n)
        return self.write(df, partition_by=partition_by, keep_versions=keep_versions)

    def _next_version(self) -> str:
        cur = self.current_version()
        n = int(cur[1:]) + 1 if cur else 1
        return f"v{n:06d}"

    def write(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        keep_versions: int = 2,
    ) -> str:
        """Write df as the whole next version and swap the pointer."""
        return self._commit(df, partition_by, lambda entry: False, keep_versions)

    def rewrite_partitions(
        self,
        df: DataFrame,
        partition_col: str,
        affected_values: list,
        keep_versions: int = 2,
    ) -> str:
        """Copy-on-write at partition granularity: produce the next version
        with only the ``affected_values`` partitions rewritten from ``df``
        (which must hold exactly those partitions' new contents — possibly
        none, for partitions that become empty) and every other partition
        HARDLINKED from the current version. Untouched data costs zero IO
        and zero extra disk; the pointer swap stays atomic, so readers of
        the old version are unaffected.

        This is what a transactional table format (Delta/Iceberg) does at
        file granularity; partition granularity is the natural unit for the
        cluster-partitioned records layout, where a single-id delete should
        not rewrite a 100 TB table.
        """
        prefix = f"{partition_col}="
        affected_dirs = {f"{prefix}{v}" for v in affected_values}
        return self._commit(
            df,
            [partition_col],
            lambda entry: entry.startswith(prefix) and entry not in affected_dirs,
            keep_versions,
        )

    def append(self, df: DataFrame, partition_by: list[str] | None = None) -> None:
        """Commit the current rows plus ``df`` as the next version: the
        current files are hardlinked, so an append writes only its own
        rows. Used for micro-batch inserts.

        Appends are schema-checked against the current version: a
        mismatched frame would otherwise write incompatible parquet files
        and poison every future read — the failure mode transactional
        formats reject at commit time, rejected here before any file lands.
        """
        current = self.read(df.sparkSession)
        want = {f.name: f.dataType.simpleString() for f in current.schema.fields}
        got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        if want != got:
            raise ValueError(
                f"append schema mismatch for {self.root}: table has {want}, "
                f"frame has {got}"
            )
        self._commit(df, partition_by, lambda entry: True)

    def _commit(self, df, partition_by, keep, keep_versions: int = 2) -> str:
        """The one commit protocol: build ``v{n+1}`` from the current
        version's top-level entries that ``keep(name)`` retains (hardlinked)
        plus ``df``, then swap the pointer and GC. A failed commit removes
        its directory and never moves the pointer; a directory that a
        crashed process left under the new name is deleted first. So no
        version changes after it is published."""
        cur = self.current_version()
        version = self._next_version()
        path = os.path.join(self.root, version)
        shutil.rmtree(path, ignore_errors=True)
        try:
            if cur is not None:
                src = os.path.join(self.root, cur)

                def skip(d, names):  # the job commit writes its own _SUCCESS
                    if d != src:
                        return []
                    return [n for n in names if n.startswith(("_", "._")) or not keep(n)]

                shutil.copytree(src, path, ignore=skip, copy_function=_link)
            writer = df.write.mode("append")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(path)
        except BaseException:
            shutil.rmtree(path, ignore_errors=True)  # never list it in versions()
            raise
        atomic_write_text(os.path.join(self.root, _LATEST), version)
        self._gc(keep_versions)
        return version

    def _gc(self, keep: int) -> None:
        current = self.current_version()
        for v in self.versions()[:-keep]:
            if v != current:
                shutil.rmtree(os.path.join(self.root, v), ignore_errors=True)


def _link(src: str, dst: str) -> None:
    """Hardlink a file; copy where the filesystem cannot link."""
    try:
        os.link(src, dst)
    except OSError:  # pragma: no cover - non-hardlink filesystem
        shutil.copy2(src, dst)
