"""The Database: a Spark-native re-expression of the reference's
vector-collection service (/root/reference/src/cores/database.rs).

Layout on disk (all under ``dir``):

- ``params.json`` — :class:`Parameters` (dimension/metric/density), written
  once by :meth:`configure` like the reference CLI
  (/root/reference/src/main.rs:72-102).
- ``records/`` — versioned parquet table (see core/tables.py) with schema
  ``id string, embedding array<float>, m_text map<string,string>,
  m_num map<string,double>, m_bool map<string,boolean>`` and — once an IVF
  index is built — a ``cluster_id int`` column, with the table
  **physically partitioned by cluster_id** so query probing becomes
  partition pruning (the Spark analog of scanning only the probed clusters,
  /root/reference/src/cores/index.rs:176-182).
- ``centroids/`` — versioned parquet table ``cluster_id int,
  centroid array<double>, size bigint``; tiny (≈ N/density rows), always
  broadcast / driver-collected.

Entry-point semantics mirrored from the reference (SURVEY.md §2.1):
dimension validation on insert & query (/root/reference/src/cores/database.rs:189-199),
k == 0 → invalid argument (:321-325), Get/Update on missing id → not-found
(/root/reference/src/cores/storage.rs:33-41,60-66), Delete on missing id is
a silent no-op (index side: /root/reference/src/cores/index.rs:149,160 —
the storage-side count underflow at /root/reference/src/cores/storage.rs:44-48
is a reference bug we do NOT reproduce; our count is always ``df.count()``),
Update replaces the whole metadata map and the vector is immutable
(/root/reference/src/cores/storage.rs:50-70), query results exclude the
vector (/root/reference/src/cores/index.rs:8-18).
"""

from __future__ import annotations

import json
import math
import os
import uuid
import warnings
from contextlib import contextmanager
from typing import Any, Iterable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oasysdb_spark import errors
from oasysdb_spark.core.config import Parameters, QueryParameters, atomic_write_text
from oasysdb_spark.core.tables import VersionedTable
from oasysdb_spark.filters import MapLayout, compile_filter
from oasysdb_spark.functions.vectors import const_distance, distance_expr, to_f32
from oasysdb_spark.session import tiny_df
from oasysdb_spark.sources.jdbc import (
    quote_sql_ident,
    read_jdbc_raw,
    read_jdbc_records,
    records_from_df,
    watermark_bounds,
    watermark_literal,
    watermark_range_predicates,
    watermark_state,
)
from oasysdb_spark.sources.tables import memo

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType(), False), False),
        T.StructField("m_text", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("m_num", T.MapType(T.StringType(), T.DoubleType()), True),
        T.StructField("m_bool", T.MapType(T.StringType(), T.BooleanType()), True),
    ]
)

_UPDATE_SCHEMA = T.StructType([RECORD_SCHEMA["id"], *RECORD_SCHEMA.fields[2:]])

_PARAMS_FILE = "params.json"
_JDBC_SYNC_FILE = "jdbc_sync.json"


def _load_sync_state(directory: str) -> dict:
    """The JDBC sync-stream state persisted in ``jdbc_sync.json`` under
    ``directory`` (``{}`` when there is none). State files that recorded
    only a timestamp bit get their ``high_kind`` mapped onto the kind
    enum here (non-timestamp marks persisted as native JSON, so the JSON
    type disambiguates)."""
    path = os.path.join(directory, _JDBC_SYNC_FILE)
    if not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as f:
        state = json.load(f)
    high = state.get("high")
    if high is not None and state.get("high_kind") is None:
        state["high_kind"] = (
            "ts" if state.get("high_is_timestamp")
            else ("str" if isinstance(high, str) else "num")
        )
    return state


def _save_sync_state(directory: str, state: dict | None) -> None:
    """Atomically replace ``jdbc_sync.json`` with ``state``; ``None``
    deletes it."""
    path = os.path.join(directory, _JDBC_SYNC_FILE)
    if state is not None:
        atomic_write_text(path, json.dumps(state, sort_keys=True))
    elif os.path.exists(path):
        os.remove(path)


def _require_watermark_col(df: DataFrame, table: str, watermark_col: str) -> None:
    """Fail a misspelled watermark column on the cheap schema read
    instead of after an hours-long build (or, worse, via the
    metadata-enum error when the real mark column falls into the default
    metadata set)."""
    if watermark_col not in df.columns:
        raise errors.InvalidArgumentError(
            f"JDBC table {table!r} has no watermark column {watermark_col!r}"
        )


def _max_mark(df: DataFrame, watermark_col: str):
    """The largest watermark value in ``df`` (``None`` when empty)."""
    return df.agg(F.max(watermark_col)).first()[0]


def _bound_at_mark(df: DataFrame, watermark_col: str, high):
    """Bound a pinned JDBC frame at the watermark mark ``high``
    (``watermark_col <= mark``) and return ``(bounded frame, kind,
    persisted mark)``. Without the bound, a cache eviction re-executes
    the JDBC pull and can ingest rows committed after the mark was
    fixed — rows the persisted mark says are still ahead."""
    kind, out = watermark_state(high)
    bounded = df.where(f"{watermark_col} <= {watermark_literal(out, kind)}")
    return bounded, kind, out


def _content_fingerprint(df: DataFrame) -> DataFrame:
    """Row-local md5 content fingerprint over the canonical record
    payload (embedding + each metadata map canonicalized via
    ``array_sort(map_entries(...))`` — Spark cannot compare map columns
    directly). Shared by :meth:`Database.diff` (snapshot deltas) and
    :meth:`Database.reconcile_jdbc` (source-of-record reconciliation):
    downstream joins shuffle only ``(id, 16-byte fp)`` pairs, never
    vectors or metadata payloads."""
    canon = F.struct(
        F.col("embedding"),
        F.array_sort(F.map_entries("m_text")),
        F.array_sort(F.map_entries("m_num")),
        F.array_sort(F.map_entries("m_bool")),
    )
    return df.select("id", F.md5(F.to_json(canon)).alias("__fp"))

# literals per IN group in the large-source changed-set re-read: Oracle
# hard-caps a single IN list at 1000 expressions (ORA-01795), so chunks
# of 900 OR'd together stay portable while keeping the statement short
_IN_CHUNK = 900


def _raw_id_literals(dt, ids):
    """Canonical string ids → raw-typed Python literals for a pushable
    ``In`` filter on the remote id column (reconcile's large-source
    changed-set re-read). The canonical id is ``CAST(id_col AS STRING)``
    (``records_from_df``), so the inverse is exact for strings and
    integral types; returns ``None`` when the raw type's string cast is
    not losslessly invertible (float/temporal/scaled-decimal ids) — the
    caller then falls back to the full-scan semi-join rather than risk
    a literal that misses its own row."""
    if isinstance(dt, T.StringType):
        return list(ids)
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return [int(s) for s in ids]
    if isinstance(dt, T.DecimalType) and dt.scale == 0:
        return [int(s) for s in ids]
    return None


# embedded in insert_batch's in-task dimension guard; the API-boundary
# translator keys on it (same mechanism as similarity_join's d=2 guard)
_BATCH_DIM_GUARD_MARK = "insert_batch: every vector must have dimension {dim}"


def split_metadata(metadata: dict[str, Any] | None):
    """Split a python metadata dict into the three typed maps.

    Value typing follows the reference's closed enum text|number|boolean
    (/root/reference/src/types/record.rs:42-47): bool before number because
    ``bool`` is an ``int`` subclass in Python.
    """
    m_text: dict[str, str] = {}
    m_num: dict[str, float] = {}
    m_bool: dict[str, bool] = {}
    for k, v in (metadata or {}).items():
        if isinstance(v, bool):
            m_bool[k] = v
        elif isinstance(v, (int, float)):
            m_num[k] = float(v)
        elif isinstance(v, str):
            m_text[k] = v
        else:
            raise errors.InvalidArgumentError(
                f"metadata value for {k!r} must be text, number, or boolean "
                f"(got {type(v).__name__}) — nested values are unsupported, "
                "matching /root/reference/src/types/record.rs:38-41"
            )
    return m_text, m_num, m_bool


def normalize_records(df) -> "DataFrame":
    """Coerce a caller DataFrame to the canonical record schema (missing
    metadata maps become nulls; embedding cast to array<float> — the
    reference stores f32 vectors, /root/reference/src/types/record.rs:8)."""
    missing = [f.name for f in RECORD_SCHEMA.fields[:2] if f.name not in df.columns]
    if missing:
        raise errors.InvalidArgumentError(f"insert batch missing columns {missing}")
    for name in ("m_text", "m_num", "m_bool"):
        if name not in df.columns:
            df = df.withColumn(name, F.lit(None).cast(RECORD_SCHEMA[name].dataType))
    return df.select(
        F.col("id").cast("string"),
        F.col("embedding").cast("array<float>").alias("embedding"),
        "m_text",
        "m_num",
        "m_bool",
    )


def merge_metadata(row) -> dict[str, Any]:
    """Rebuild the flat metadata dict from the three typed maps."""
    out: dict[str, Any] = {}
    for field in ("m_text", "m_num", "m_bool"):
        m = row[field]
        if m:
            out.update(m)
    return out


class Database:
    """One database = one vector collection (like the reference —
    /root/reference/src/cores/database.rs:70-76; no multi-table concept)."""

    def __init__(self, spark: SparkSession, directory: str, params: Parameters):
        self.spark = spark
        self.dir = directory
        self.params = params
        self.records = VersionedTable(os.path.join(directory, "records"))
        self.centroids = VersionedTable(os.path.join(directory, "centroids"))

    # ------------------------------------------------------------------
    # lifecycle: configure / open / heartbeat / snapshot
    # ------------------------------------------------------------------

    @classmethod
    def configure(
        cls,
        spark: SparkSession,
        directory: str,
        dimension: int,
        metric: str = "euclidean",
        density: int = 256,
        relevancy: float = -1.0,
        overwrite: bool = False,
    ) -> "Database":
        """Create a fresh database directory (reference `configure` CLI,
        /root/reference/src/cores/database.rs:79-109). Refuses to clobber an
        existing one unless ``overwrite`` (the CLI prompts interactively).
        ``relevancy`` is the v0.4-lineage per-collection default distance
        cutoff (≤0 disables — see :class:`Parameters`)."""
        params_path = os.path.join(directory, _PARAMS_FILE)
        if os.path.exists(params_path) and not overwrite:
            raise errors.InvalidArgumentError(
                f"database already configured at {directory}; pass overwrite=True"
            )
        params = Parameters(dimension=dimension, metric=metric,
                            density=density, relevancy=relevancy)
        os.makedirs(directory, exist_ok=True)
        # a rebuild re-baselines: jdbc_sync.json is sync-STREAM state,
        # not table state, and params/records overwrites never touched
        # it — a stale mark surviving an overwrite would silently resume
        # the old stream mid-table on the next sync_jdbc (double-ingest
        # under dedup_ids=False, permanent gaps against a re-baselined
        # source). from_jdbc(watermark_col=...) writes its fresh seed
        # AFTER this, so the load-then-sync composition is unaffected.
        _save_sync_state(directory, None)
        db = cls(spark, directory, params)
        empty = spark.createDataFrame([], RECORD_SCHEMA)
        db.records.write(empty)
        atomic_write_text(params_path, params.to_json())
        return db

    @classmethod
    def open(cls, spark: SparkSession, directory: str) -> "Database":
        """Open an existing database (reference `Database::open`,
        /root/reference/src/cores/database.rs:111-126)."""
        with open(os.path.join(directory, _PARAMS_FILE), encoding="utf-8") as f:
            params = Parameters.from_json(f.read())
        return cls(spark, directory, params)

    @classmethod
    def from_jdbc(
        cls,
        spark: SparkSession,
        directory: str,
        url: str,
        table: str,
        *,
        dimension: int | None = None,
        id_col: str = "id",
        vector_col: str = "embedding",
        metadata_cols: list[str] | None = None,
        metric: str = "euclidean",
        density: int = 256,
        relevancy: float = -1.0,
        properties: dict | None = None,
        predicates: list[str] | None = None,
        where: str | None = None,
        partition_column: str | None = None,
        lower_bound=None,
        upper_bound=None,
        num_partitions: int | None = None,
        watermark_col: str | None = None,
        build_index: bool = True,
        seed: int = 42,
        overwrite: bool = False,
    ) -> "Database":
        """Configure + bulk-load a database from a SQL table via JDBC —
        the reference family's v0.7 SQL storage lineage (records sourced
        from SQLite/PostgreSQL with metadata pre-filtering before the
        index build, /root/reference/docs/changelog.md:41-64) in its
        Spark shape: the SQL database stays the durable system of
        record; this engine reads it through the JDBC connector,
        validates every vector's dimension in-task, and builds its
        serving tiers.

        ``dimension=None`` infers it from one probed row (the probe
        reads the first partition of the same pinned one-pull frame
        the load uses, so it costs no extra transfer; passing the
        dimension explicitly just skips the early materialization).
        ``where`` is the v0.7 metadata pre-filter — it compiles into the
        connector's WHERE clause, so excluded rows never leave the
        database. ``partition_column``/bounds/``num_partitions`` (or
        ``predicates``) issue the read as parallel range queries — the
        bulk-load scale path. With ``build_index`` the records table is
        written exactly ONCE, already clustered (the ``build_index``
        source fast path — no unpartitioned write + read-back +
        rewrite); otherwise the load is a plain validated append.

        ``watermark_col`` declares the column a later :meth:`sync_jdbc`
        will watermark on, making the documented load-then-sync
        composition work out of the box: the column is excluded from
        the DEFAULT metadata set under the same rule sync uses (it is
        the sync mechanism, and temporal marks are outside the
        text|number|boolean metadata enum — so both ingest paths
        produce the same metadata schema), and the sync state file is
        SEEDED safely for the pull shape, and the LOAD IS BOUNDED at
        the seeded mark (``wm <= mark`` on the pinned frame) so a
        cache-eviction re-pull can never ingest rows above the
        persisted mark — the same determinism discipline as
        :meth:`sync_jdbc`'s windows. Single-statement pulls (no
        ``partition_column``) seed from the max of the rows ACTUALLY
        LOADED, derived from the same pinned frame — zero extra scans,
        and safe because one JDBC statement is one snapshot: anything
        absent committed after it, hence at or above the mark under
        the monotonic-watermark contract, where the first sync's
        inclusive bound plus id dedup pick it up. PARTITIONED pulls
        are N independent range queries at different instants (a
        ragged snapshot: a row can commit into an already-scanned
        range while a later range observes newer rows), so their seed
        scans BEFORE any load read — the one-row remote MIN/MAX
        pushdown when there is no ``where`` (no filter text, no
        dialect hazard), else a column-pruned client-side max over the
        Spark-parsed range scans (one watermark-column transfer; the
        SPARK-dialect filter must not ship verbatim to a remote whose
        dialect could silently misread it). The first sync then reads
        only rows newer than the bulk load instead of re-pulling (and
        re-deduplicating) the whole table."""
        if watermark_col is not None and predicates is not None:
            # predicates DROP rows matching none of them (unlike
            # partition bounds, which only shape the ranges); seeding
            # the mark at the table max would then permanently skip the
            # dropped rows — they sit at or below the mark but never
            # loaded. Refuse the combination instead of gapping.
            raise errors.InvalidArgumentError(
                "watermark_col cannot combine with explicit predicates: "
                "rows the predicates exclude would sit below the seeded "
                "mark and never sync — bulk-load with "
                "partition_column/bounds (range-shaping, not filtering) "
                "or a where pre-filter instead"
            )

        # ONE-PULL: the whole load — dimension probe, seed-mark
        # derivation, the indexed build's k-sizing count, the k-means
        # fit sample, and the clustered write — runs over ONE pinned
        # raw frame, so the source table crosses the wire exactly once
        # however many actions the build takes (un-persisted, a huge
        # table crossed it twice in full plus a whole-table count and
        # a separate seed scan). The pin also makes every stage see the
        # SAME snapshot of a table that keeps receiving writes mid-load.
        raw = read_jdbc_raw(
            spark, url, table, properties=properties,
            predicates=predicates, where=where,
            partition_column=partition_column, lower_bound=lower_bound,
            upper_bound=upper_bound, num_partitions=num_partitions,
        )
        high = None
        if watermark_col is not None:
            _require_watermark_col(raw, table, watermark_col)
            if partition_column is not None:
                # RAGGED-SNAPSHOT guard: a loaded-frame max could exceed
                # the mark of a row that committed into an
                # already-scanned range, and the first sync would never
                # read that row. Scanned BEFORE any load read, every row
                # missing from the load committed after this scan, so
                # its mark is >= the seed by the monotonic contract and
                # the first sync's window covers it. A `where` is
                # SPARK-dialect text that must not ship verbatim to the
                # remote, so a filtered seed skips the pushdown.
                _, high = watermark_bounds(
                    spark, url, table, watermark_col, raw,
                    properties=properties, pushdown=where is None,
                )
        pinned = raw.persist()
        loaded, kind, mark = pinned, None, None
        try:
            if watermark_col is not None and partition_column is None:
                # single-statement pull: one JDBC snapshot, so the max of
                # the rows actually loaded IS a safe seed and costs zero
                # extra scans — this agg is the action that fills the
                # cache.
                high = _max_mark(pinned, watermark_col)
            if high is not None:
                # rows past the bound are the first sync's window; late
                # TIED commits (== the mark) are the boundary class sync
                # documents: re-read inclusively and collapsed by the id
                # dedup
                loaded, kind, mark = _bound_at_mark(pinned, watermark_col, high)
            records = records_from_df(
                loaded, table,
                id_col=id_col, vector_col=vector_col,
                metadata_cols=metadata_cols,
                exclude_cols=(watermark_col,) if watermark_col else (),
            )
            if dimension is None:
                probe = records.select(F.size("embedding").alias("d")).first()
                # size(NULL) is -1 under Spark's legacy sizeOfNull
                # default, so a corrupt first vector must hit THIS
                # message, not Parameters' generic 'dimension must be
                # positive'
                if probe is None or probe["d"] is None or probe["d"] <= 0:
                    raise errors.InvalidArgumentError(
                        f"cannot infer dimension from JDBC table {table!r}: "
                        "no rows, or the first vector failed to parse or "
                        "is empty — pass dimension explicitly"
                    )
                dimension = int(probe["d"])
            db = cls.configure(
                spark, directory, dimension=int(dimension), metric=metric,
                density=density, relevancy=relevancy, overwrite=overwrite,
            )
            guarded = db._with_dim_guard(normalize_records(records))
            with db._dim_guard_boundary():
                if build_index:
                    from oasysdb_spark.index.ivf import build_index as _build

                    _build(db, seed=seed, source=guarded)
                else:
                    db._insert_batch_body(guarded)
        finally:
            pinned.unpersist()
        if watermark_col is not None:
            _save_sync_state(db.dir, {
                "url": url, "table": table, "watermark_col": watermark_col,
                "where": where, "high": mark, "high_kind": kind,
            })
        return db

    def sync_jdbc(
        self,
        url: str,
        table: str,
        *,
        watermark_col: str,
        id_col: str = "id",
        vector_col: str = "embedding",
        metadata_cols: list[str] | None = None,
        properties: dict | None = None,
        where: str | None = None,
        dedup_ids: bool = True,
        dedup_broadcast_limit: int = 100_000,
        num_partitions: int | None = None,
    ) -> int:
        """Incremental pull from the SQL system of record (the
        operational half of the v0.7 lineage :meth:`from_jdbc` opens,
        /root/reference/docs/changelog.md:41-64): ingest rows whose
        ``watermark_col`` lies past the persisted mark (see below for
        the exact bound), then advance the mark. Returns the number of
        rows ingested.

        The watermark window compiles into the connector's WHERE clause
        — already-synced rows never leave the database, and the UPPER
        bound (the max read before the batch) makes the ingested set
        and the persisted mark agree even while the SQL table keeps
        receiving inserts (rows landing mid-sync are simply the next
        sync's window). The mark persists in ``jdbc_sync.json`` AFTER
        the append commits — a crash between the two re-surfaces the
        tail on the next sync (at-least-once), which ``dedup_ids``
        (default on) collapses to exactly-once: when the incoming batch
        is small (``dedup_broadcast_limit`` rows or fewer) collision
        ids are found by broadcasting the incoming id set against the
        records table (one broadcast semi-join — per-sync cost stays
        O(batch) + one records scan); a LARGER batch (a first sync or a
        long-gap backfill can be the whole table) falls back to a plain
        shuffled left-anti join instead of shipping an unbounded id set
        to every executor — the same count-guarded pattern as the
        decontamination twins' ``eval_broadcast_limit``. Rows DELETED
        or UPDATED in the SQL table do not propagate — watermark sync
        is append-only by contract; route mutations through
        :meth:`delete` / :meth:`update_metadata`, reconcile
        periodically via :meth:`reconcile_jdbc`, or rebuild via
        :meth:`from_jdbc` (blue-green through a catalog swap).

        The watermark column must be monotonically non-decreasing for
        new rows — an autoincrement id, an inserted_at timestamp, a
        DATE, or a NUMERIC/DECIMAL sequence (temporal and decimal marks
        persist as ISO/decimal text and re-enter the predicate as typed
        ``TIMESTAMP``/``DATE``/bare-numeric literals; Spark pushes the
        typed filter through the connector — verified against Derby).
        String marks work too (quoted-literal ordering). An
        unrecognized watermark type refuses loudly rather than guessing
        a literal form. TIED marks are safe under ``dedup_ids``: the
        scan re-reads the boundary INCLUSIVELY (``>= mark``), so a row
        that commits under the current max AFTER a sync read it is
        picked up next time and the id anti-join collapses the
        re-read; with ``dedup_ids=False`` the bound stays strict
        (``> mark``) and the contract hardens to a strictly INCREASING
        watermark — tied late arrivals are invisible, the standard
        late-data caveat. The sync stream is keyed to (url, table,
        watermark_col, where): changing any of them against existing
        state refuses — a different source or a loosened pre-filter
        under an advanced mark silently gaps the stream (delete the
        state file to re-baseline deliberately).

        The window transfers from the SQL database exactly ONCE either
        way: one raw read, pinned, bounded at the new mark and mapped
        to records off the cache. Steady state (no ``num_partitions``):
        the window reads through one connection and the next mark
        derives from that SAME pinned frame (max(batch) — no separate
        max-only scan). ``num_partitions`` issues the read as that many
        parallel range queries over the watermark window itself (exact
        typed cut literals — numeric/date/timestamp marks only), so a
        backfill window doesn't pull through one socket; its bounds
        come from a one-row MIN/MAX aggregate subquery pushed to the
        remote database (falling back to a client-side aggregate when
        the remote can't parse the filter). Steady-state increments
        don't need partitioning."""
        state_path = os.path.join(self.dir, _JDBC_SYNC_FILE)
        stream_key = {"url": url, "table": table,
                      "watermark_col": watermark_col, "where": where}
        state = _load_sync_state(self.dir)
        recorded = {k: state.get(k) for k in stream_key}
        if state and recorded != stream_key:
            raise errors.InvalidArgumentError(
                f"jdbc sync state at {state_path} tracks {recorded!r}; "
                f"refusing to mix with {stream_key!r} — one sync stream "
                "per database (a different url/table/watermark/filter "
                "under an advanced mark gaps or merges streams "
                "silently); delete the state file to re-baseline"
            )
        if not dedup_ids and state.get("reconciled"):
            raise errors.InvalidArgumentError(
                f"jdbc sync state at {state_path} records a reconcile on "
                "this stream: reconcile inserts rows PAST the sync mark, "
                "and without the id anti-join the next sync would "
                "re-ingest every one of them as a duplicate (the "
                "strict-mark contract assumes sync is the only writer "
                "ahead of the mark) — keep dedup_ids=True on a stream "
                "that reconciles, or delete the state file to "
                "re-baseline deliberately"
            )
        high, high_kind = state.get("high"), state.get("high_kind")

        # tied-mark discipline: under dedup_ids the lower bound is
        # INCLUSIVE, so rows committing late under the current max are
        # re-scanned and the id anti-join collapses the boundary
        # re-read; without dedup the bound stays strict and the
        # contract requires a strictly increasing mark (docstring)
        low_op = ">=" if dedup_ids else ">"

        def window(col: str, remote: bool) -> str | None:
            # the pre-filter AND the mark bound, as Spark-parsed text or
            # as text that ships verbatim to the remote
            mark = (
                f"{col} {low_op} "
                f"{watermark_literal(high, high_kind, remote=remote)}"
                if high is not None
                else None
            )
            return f"({where}) AND ({mark})" if where and mark else (where or mark)

        raw = read_jdbc_raw(self.spark, url, table, properties=properties)
        _require_watermark_col(raw, table, watermark_col)
        scan_where = window(watermark_col, remote=False)
        if scan_where:
            raw = raw.where(scan_where)

        pins: list = []  # persisted frames; released in the one finally
        try:
            new_high = None
            if num_partitions is not None and int(num_partitions) > 1:
                # parallel-range backfill: the range bounds must exist
                # BEFORE the read, so the window's min/max is scanned
                # first (v1 JDBC never pushes aggregates, so the naive
                # df.agg(max) would pull the whole backfill window
                # through one socket just to find its edge)
                lo_scan, new_high = watermark_bounds(
                    self.spark, url, table, watermark_col, raw,
                    properties=properties,
                    where_remote=window(
                        quote_sql_ident(watermark_col), remote=True
                    ),
                )
                if new_high is None:
                    return 0  # nothing past the mark
                new_kind, high_out = watermark_state(new_high)
                # split [window low, new_high] into exact typed cut
                # predicates; the first cut is the persisted mark when
                # one exists (honouring the dedup-inclusive bound), else
                # the window min from the scan above. Rows committing
                # during the partitioned read land beyond new_high and
                # belong to the next window (the monotonic-mark
                # contract).
                window_low = high if high is not None else lo_scan
                low_kind = high_kind if high is not None else new_kind
                if low_kind != new_kind:
                    raise errors.InvalidArgumentError(
                        "watermark kind changed mid-stream: persisted "
                        f"mark is {low_kind}, the scanned max is "
                        f"{new_kind}"
                    )
                raw = read_jdbc_raw(
                    self.spark, url, table, properties=properties,
                    where=where,
                    predicates=watermark_range_predicates(
                        watermark_col, window_low, high_out, new_kind,
                        int(num_partitions),
                        include_low=(high is None) or dedup_ids,
                    ),
                )
            # ONE-PULL: the window is read once into the executor cache.
            # Rows committing mid-read are either in the cache (covered
            # by the mark) or re-read by the next sync's window under the
            # monotonic-mark contract.
            raw = raw.persist()
            pins.append(raw)
            if new_high is None:
                # steady state: the next mark derives from the SAME
                # pinned window — this agg is the action that fills it
                new_high = _max_mark(raw, watermark_col)
                if new_high is None:
                    return 0  # nothing past the mark
            # the explicit upper bound makes the batch DETERMINISTIC
            # under a cache eviction/recompute: a re-pull from JDBC
            # could otherwise pick up rows committed after the mark was
            # fixed, which dedup_ids would absorb next sync but
            # dedup_ids=False would ingest twice. The row-local mapping
            # is not persisted again; each downstream action recomputes
            # the cheap map off the cache.
            bounded, new_kind, high_out = _bound_at_mark(
                raw, watermark_col, new_high
            )
            batch = normalize_records(
                records_from_df(
                    bounded, table,
                    id_col=id_col, vector_col=vector_col,
                    metadata_cols=metadata_cols,
                    exclude_cols=(watermark_col,),
                )
            )
            if dedup_ids:
                # crash-replay collapse: broadcast the incoming id set
                # only while it is provably small; a backfill-sized
                # batch anti-joins shuffled instead (both paths pinned
                # output-equal in tests/test_sources.py)
                n_incoming = batch.count()
                record_ids = self.records_df().select("id")
                if n_incoming <= int(dedup_broadcast_limit):
                    incoming_ids = batch.select("id")
                    collisions = record_ids.join(
                        F.broadcast(incoming_ids), "id", "left_semi"
                    )
                    final = batch.join(
                        F.broadcast(collisions), "id", "left_anti"
                    ).persist()
                else:
                    final = batch.join(
                        record_ids, "id", "left_anti"
                    ).persist()
                pins.append(final)
            else:
                final = batch
            n_ingested = final.count()
            if n_ingested > 0:
                self.insert_batch(final)
        finally:
            for df in pins:
                df.unpersist()
        # the mark advances even when the batch deduped to nothing
        # (crash replay fully collapsed): the window is consumed. The
        # reconciled marker is STICKY across mark advances: rows a past
        # reconcile added ahead of the mark stay ahead until the mark
        # passes them, so the dedup_ids=False hazard never expires
        _save_sync_state(self.dir, {
            **stream_key,
            "high": high_out,
            "high_kind": new_kind,
            **({"reconciled": True} if state.get("reconciled") else {}),
        })
        return int(n_ingested)

    def reconcile_jdbc(
        self,
        url: str,
        table: str,
        *,
        id_col: str = "id",
        vector_col: str = "embedding",
        metadata_cols: list[str] | None = None,
        properties: dict | None = None,
        where: str | None = None,
        partition_column: str | None = None,
        lower_bound=None,
        upper_bound=None,
        num_partitions: int | None = None,
        apply_broadcast_limit: int = 100_000,
        large_source: bool = False,
        apply_pushdown_limit: int = 10_000,
    ) -> dict:
        """Full reconciliation against the SQL system of record — the
        CDC-shaped complement of :meth:`sync_jdbc`'s append-only
        watermark pull (the v0.7 lineage treated the SQL database as
        the COMPLETE system of record, /root/reference/docs/
        changelog.md:57-64, so UPDATEs and DELETEs there must be able
        to propagate): make the records table content-equal to the
        (``where``-filtered) source table. Rows only in the source are
        inserted, rows only in the records table are deleted, rows
        whose content fingerprint differs (a changed vector OR changed
        metadata) are replaced (delete + re-insert through the
        validated ingest path, cluster assignment included). Returns
        ``{"added": n, "deleted": n, "updated": n}``.

        Scale shape: the source table crosses the wire exactly ONCE
        per reconcile — the read pins into the executor cache, the
        fingerprint-classify pass scans the pinned copy, and the apply
        side's semi-join re-reads the cache instead of re-executing
        the JDBC pull (the same one-pull discipline as
        :meth:`sync_jdbc`'s window). Both sides reduce to
        row-local ``(id, 16-byte md5)`` content fingerprints
        (:func:`_content_fingerprint`, the same machinery :meth:`diff`
        uses), so the classifying full-outer join shuffles only id/fp
        pairs — never vectors or metadata payloads. The changed-id
        sets then drive the writes:
        deletes go through :meth:`delete`'s partition-scoped
        copy-on-write, and the insert side semi-joins the source
        against the changed ids (broadcast while the set is under
        ``apply_broadcast_limit``, shuffled past it — the sync path's
        count-guard pattern). Pass ``partition_column``/bounds/
        ``num_partitions`` to issue the source reads as parallel range
        queries. Explicit ``predicates`` are deliberately NOT accepted:
        a predicate list DROPS rows matching none of its entries, and
        every dropped row would classify as ``deleted`` and be
        destructively removed — partition bounds only shape the ranges
        and never filter, so they are the one safe parallelism knob
        here.

        ``large_source=True`` trades the one-pull pin's cache footprint
        for a second TARGETED remote scan: the default path persists the
        whole normalized source (vectors + metadata — a table-sized
        MEMORY_AND_DISK footprint on the executors per reconcile, fine
        until the source is itself huge), while the large-source path
        persists only the ``(id, 16-byte fp)`` classify projection and
        re-reads JUST the changed rows for the apply through
        pushed-down ``id IN (...)`` predicates on the raw remote column
        (typed literals via the exact string-cast inverse,
        :func:`_raw_id_literals`, chunked into OR'd groups of 900 —
        under Oracle's 1000-expression IN cap; falls back to a full
        re-scan + broadcast semi-join when the changed set exceeds
        ``apply_pushdown_limit`` — sized for SQL statement length, NOT
        the Spark-side ``apply_broadcast_limit`` — or the id type's
        cast is not invertible). Wire cost: one full
        scan (the fingerprint classify — irreducible, fingerprints are
        computed Spark-side) plus one changed-set scan; a
        nothing-changed reconcile still reads the table exactly once.
        The consistency trade: the apply re-read is a SECOND snapshot,
        so a row mutated remotely between classify and apply lands with
        its newer content (the returned counts describe the classify
        snapshot; the next reconcile self-heals) — the default path's
        single pinned pull has no such window. Both paths are Derby
        statement-log gated in tests/test_sources.py.

        Coherence with a live sync stream: when ``jdbc_sync.json``
        tracks this (url, table), its watermark column is auto-excluded
        from the DEFAULT metadata set — otherwise every synced row
        would fingerprint-mismatch (or a temporal mark would fail the
        metadata enum) and the reconcile would churn the whole table —
        and the reconcile's ``where`` must MATCH the stream's recorded
        pre-filter (a looser filter would mass-insert rows the stream
        deliberately excludes; a tighter one would mass-delete
        everything outside it — the same mixed-stream hazard
        :meth:`sync_jdbc` refuses). The sync mark itself does not move:
        rows past the mark that reconcile adds are re-read by the next
        sync and collapse in its id dedup — which means a sync stream
        run with ``dedup_ids=False`` must NOT be mixed with periodic
        reconciles: without the id anti-join, the next sync re-ingests
        every reconcile-added row past the mark as a duplicate (the
        strict-mark contract assumes sync is the ONLY writer ahead of
        the mark). Keep ``dedup_ids=True`` (the default) on any stream
        that reconciles; the mix is REFUSED: a reconcile on a
        tracked stream writes a sticky
        ``reconciled`` marker into ``jdbc_sync.json`` (preserved across
        later mark advances), and :meth:`sync_jdbc` raises on
        ``dedup_ids=False`` when the marker is present.

        NOT atomic across the two writes: a crash between the delete
        and the insert leaves updated/added rows missing until the next
        reconcile, which self-heals (they classify as added). The
        blue-green alternative — :meth:`from_jdbc` into a staging
        collection + catalog swap — stays the zero-downtime path; this
        verb is the cheap periodic one (the WRITE cost scales with the
        changed set, not the table; the wire cost is the one full
        source transfer the fingerprint comparison inherently needs)."""
        state = _load_sync_state(self.dir)
        tracked = state.get("url") == url and state.get("table") == table
        if tracked and state.get("where") != where:
            raise errors.InvalidArgumentError(
                f"jdbc sync state at {os.path.join(self.dir, _JDBC_SYNC_FILE)} "
                f"tracks where={state.get('where')!r}; reconciling with "
                f"where={where!r} would mass-insert or mass-delete "
                "rows the sync stream's pre-filter scopes out — "
                "pass the stream's filter (or delete the state "
                "file to re-baseline deliberately)"
            )
        exclude = (
            (state["watermark_col"],)
            if tracked and state.get("watermark_col") else ()
        )

        # ONE-PULL: the source crosses the wire exactly once per
        # reconcile. Without the pin, the lazy JDBC frame would execute
        # TWICE — once for the fingerprint-classify pass and again when
        # the apply side's semi-join re-evaluates it — so a large table
        # paid two full transfers even when nothing changed. The pin
        # also makes the classify and apply passes see the SAME rows:
        # an uncached re-pull could observe source mutations committed
        # mid-reconcile and insert a row the classify pass never counted
        # (the next reconcile would still self-heal, but the returned
        # counts would lie about what was applied).
        def _read_source() -> DataFrame:
            return normalize_records(
                read_jdbc_records(
                    self.spark, url, table,
                    id_col=id_col, vector_col=vector_col,
                    metadata_cols=metadata_cols, properties=properties,
                    where=where,
                    partition_column=partition_column,
                    lower_bound=lower_bound, upper_bound=upper_bound,
                    num_partitions=num_partitions,
                    exclude_cols=exclude,
                )
            )

        pins: list = []  # persisted frames; released in the one finally
        try:
            if large_source:
                # pin ONLY the (id, 16-byte fp) classify projection —
                # the full pull still happens once (fingerprints are
                # computed Spark-side), but the executor cache holds
                # pairs, not vectors + metadata; the apply side
                # re-reads just the changed rows below
                source = None
                s_fp = _content_fingerprint(_read_source()).persist()
                pins.append(s_fp)
                s = s_fp.alias("s")
            else:
                source = _read_source().persist()
                pins.append(source)
                s = _content_fingerprint(source).alias("s")
            r = _content_fingerprint(self.records_df()).alias("r")
            change = (
                F.when(F.col("r.id").isNull(), F.lit("added"))
                .when(F.col("s.id").isNull(), F.lit("deleted"))
                .when(F.col("s.__fp") != F.col("r.__fp"), F.lit("updated"))
            )
            delta = (
                s.join(r, F.col("s.id") == F.col("r.id"), "full_outer")
                .withColumn("change", change)
                .where(F.col("change").isNotNull())
                .select(
                    "change",
                    F.coalesce(F.col("s.id"), F.col("r.id")).alias("id"),
                )
                .persist()
            )
            pins.append(delta)
            counts = {
                row["change"]: row["n"]
                for row in delta.groupBy("change")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            result = {k: int(counts.get(k, 0))
                      for k in ("added", "deleted", "updated")}
            if result["deleted"] or result["updated"]:
                self.delete(
                    delta.where(F.col("change") != "added").select("id")
                )
            n_incoming = result["added"] + result["updated"]
            if n_incoming:
                ins_ids = delta.where(F.col("change") != "deleted").select(
                    "id"
                )
                batch = None
                if large_source and n_incoming <= int(apply_pushdown_limit):
                    raw = read_jdbc_raw(
                        self.spark, url, table,
                        properties=properties, where=where,
                    )
                    typed = _raw_id_literals(
                        raw.schema[id_col].dataType,
                        [row["id"] for row in ins_ids.collect()],
                    )
                    if typed is not None:
                        # changed-set re-read: the In filters sit
                        # directly on the raw relation, so they compile
                        # into the remote WHERE and only changed rows
                        # cross the wire (Derby-gated). Chunked into
                        # OR'd IN groups of 900 literals: Oracle
                        # hard-caps one IN list at 1000 (ORA-01795)
                        # and other remotes have statement-size limits
                        # a single 10k-literal list would court
                        pred = F.col(id_col).isin(typed[:_IN_CHUNK])
                        for i in range(_IN_CHUNK, len(typed), _IN_CHUNK):
                            pred = pred | F.col(id_col).isin(
                                typed[i:i + _IN_CHUNK]
                            )
                        batch = records_from_df(
                            raw.where(pred),
                            table,
                            id_col=id_col, vector_col=vector_col,
                            metadata_cols=metadata_cols,
                            exclude_cols=exclude,
                        ).persist()
                        pins.append(batch)
                        # force the remote READ here, before any write:
                        # some remotes refuse the compiled literal
                        # comparison only at EXECUTION time (e.g. Derby
                        # cannot compare a CLOB id column against CHAR
                        # literals), and without this split the retry
                        # would also swallow APPLY-side failures (disk
                        # full, schema mismatch) and pointlessly re-pull
                        # the whole table into the same wall. The
                        # persist means the wire still sees exactly one
                        # changed-set scan — the insert reads the cache.
                        try:
                            batch.count()
                        except Exception as exc:  # noqa: BLE001
                            warnings.warn(
                                "pushed-down changed-set re-read failed;"
                                " retrying via a full re-scan + "
                                "semi-join: "
                                f"{type(exc).__name__}: {str(exc)[:200]}",
                                stacklevel=2,
                            )
                            # the failed read wrote nothing, so the
                            # fallback is a clean first attempt — no
                            # partially-committed rows to collide with
                            batch = None
                if batch is None:
                    # the count-guarded semi-join of the source against
                    # the changed ids. A large-source reconcile (mass
                    # change, non-invertible id type, or a remote that
                    # refused the pushed predicate) re-pays the full
                    # transfer once; the footprint win (no table-sized
                    # pin) still holds. Broadcast the id set when it
                    # fits — a full re-read must never shuffle just to
                    # meet 50 ids
                    right = (
                        F.broadcast(ins_ids)
                        if n_incoming <= int(apply_broadcast_limit)
                        else ins_ids
                    )
                    batch = (
                        source if source is not None else _read_source()
                    ).join(right, "id", "left_semi")
                self.insert_batch(batch)
        finally:
            for p in pins:
                p.unpersist()
        if tracked:
            # sticky reconciled marker: reconcile inserts rows PAST the
            # sync mark, so a later sync_jdbc with dedup_ids=False would
            # silently re-ingest them as duplicates — the marker lets
            # sync refuse that mix instead of documenting it away.
            # RE-READ the state file rather than rewriting the
            # pre-reconcile snapshot: a scheduled sync finishing
            # mid-reconcile has advanced the mark, and writing the
            # stale snapshot back would silently revert it
            current = _load_sync_state(self.dir)
            if (
                current.get("url") == url
                and current.get("table") == table
                and not current.get("reconciled")
            ):
                _save_sync_state(self.dir, {**current, "reconciled": True})
        return result

    def _default_radius(self) -> float:
        """The radius applied when a query passes none: the collection's
        v0.4-lineage ``relevancy`` threshold if enabled, else ∞
        (/root/reference/docs/changelog.md:322-331)."""
        return self.params.relevancy if self.params.relevancy > 0 else math.inf

    def heartbeat(self) -> str:
        """Version string (/root/reference/src/cores/database.rs:204-213)."""
        from oasysdb_spark import __version__

        return __version__

    def snapshot(self) -> int:
        """Force-persist and return the record count. Tables are already
        durable per commit (every write IS a snapshot — SURVEY.md §3.3), so
        this is just the count, like SnapshotResponse.count
        (/root/reference/src/cores/database.rs:215-225)."""
        return self.count()

    def count(self) -> int:
        return self.records_df().count()

    def versions(self) -> list[str]:
        """Retained records-table versions, oldest first (time travel)."""
        return self.records.versions()

    def records_df_at(self, version: str) -> DataFrame:
        """Read the records table AS OF a retained version — e.g. count
        or re-run a query against the pre-delete snapshot."""
        return self.records.read_version(self.spark, version)

    def diff(self, version: str, to_version: str | None = None) -> DataFrame:
        """Snapshot delta — the CDC/audit read the reference's whole-state
        bincode snapshots can't answer without full deserialization
        (/root/reference/src/cores/database.rs:147-187): ``(change, id)``
        rows describing how the records table moved from ``version`` to
        ``to_version`` (default: the current version), with ``change`` ∈
        ``{'added', 'deleted', 'updated'}``; unchanged records don't
        appear.

        Scale shape: ONE full-outer equi-join on ``id`` between the two
        snapshot scans; change detection hashes a row-local md5 content
        fingerprint (embedding + each metadata map canonicalized via
        ``array_sort(map_entries(...))`` — Spark cannot compare map
        columns directly), so only ``(id, 16-byte fp)`` pairs shuffle,
        never vectors or metadata payloads."""
        old = self.records_df_at(version)
        new = (
            self.records_df_at(to_version)
            if to_version is not None
            else self.records_df()
        )

        o = _content_fingerprint(old).alias("o")
        n = _content_fingerprint(new).alias("n")
        change = (
            F.when(F.col("o.id").isNull(), F.lit("added"))
            .when(F.col("n.id").isNull(), F.lit("deleted"))
            .when(F.col("o.__fp") != F.col("n.__fp"), F.lit("updated"))
        )
        return (
            o.join(n, F.col("o.id") == F.col("n.id"), "full_outer")
            .withColumn("change", change)
            .where(F.col("change").isNotNull())
            .select(
                "change",
                F.coalesce(F.col("n.id"), F.col("o.id")).alias("id"),
            )
        )

    def compact(self) -> str:
        """Maintenance job: rewrite the records table with healthy file
        sizes (micro-batch ingest appends >=1 file per epoch; see
        VersionedTable.compact). Preserves the clustered layout when
        indexed. Run on the same schedule as ``split_oversized_clusters``
        — off the ingest hot path."""
        partition = ["cluster_id"] if self.is_indexed() else None
        return self.records.compact(self.spark, partition_by=partition)

    # ------------------------------------------------------------------
    # reads
    # ------------------------------------------------------------------

    def records_df(self) -> DataFrame:
        return self.records.read(self.spark)

    def is_indexed(self) -> bool:
        return self.centroids.exists() and "cluster_id" in self.records_df().columns

    def _indexed(self, recs: DataFrame) -> bool:
        """:meth:`is_indexed` for a records frame the caller already read."""
        return "cluster_id" in recs.columns and self.centroids.exists()

    def get(self, record_id: str) -> dict[str, Any]:
        """Point lookup returning the full record including the vector
        (/root/reference/src/cores/database.rs:256-268)."""
        rows = self.records_df().where(F.col("id") == F.lit(record_id)).take(1)
        if not rows:
            raise errors.NotFoundError(f"record {record_id!r} not found")
        row = rows[0]
        return {
            "id": row["id"],
            "vector": list(row["embedding"]),
            "metadata": merge_metadata(row),
        }

    # ------------------------------------------------------------------
    # writes
    # ------------------------------------------------------------------

    def _validate_dim(self, vector: Iterable[float]) -> list[float]:
        vec = [float(x) for x in vector]
        if len(vec) != self.params.dimension:
            raise errors.InvalidArgumentError(
                f"vector dimension {len(vec)} != configured {self.params.dimension} "
                "(/root/reference/src/cores/database.rs:189-199)"
            )
        return vec

    def insert(
        self,
        vector: Iterable[float],
        metadata: dict[str, Any] | None = None,
        record_id: str | None = None,
    ) -> str:
        """Insert one record; mints a UUIDv4 id when none is given
        (/root/reference/src/cores/database.rs:227-254). A single-row insert
        is a degenerate batch — see :meth:`insert_batch`."""
        vec = self._validate_dim(vector)
        rid = record_id or str(uuid.uuid4())
        m_text, m_num, m_bool = split_metadata(metadata)
        df = tiny_df(self.spark, [(rid, vec, m_text, m_num, m_bool)], RECORD_SCHEMA)
        self.insert_batch(df)
        return rid

    def insert_batch(self, df: DataFrame) -> None:
        """Append a batch of records. Storage commit precedes index
        assignment visibility, mirroring the reference's storage-before-index
        ordering invariant (/root/reference/src/cores/database.rs:243-247).

        When an index exists, new rows are assigned to their nearest
        centroid via a broadcast argmin (SURVEY.md §3.2) and appended into
        the matching cluster partitions; density-triggered splits are a
        separate maintenance job (index/ivf.py) — at scale you never want
        index surgery on the ingest hot path.

        Dimension validation (reference: EVERY inserted vector,
        /root/reference/src/cores/database.rs:189-199): the single-record
        path checks driver-side (:meth:`_validate_dim`); here the check
        is an ``assert_true`` folded into the ingest projection — zero
        extra scans, the same in-task-guard pattern as
        ``similarity_join.typed_overlength_errors`` — and the job error
        is translated back to the typed :class:`InvalidArgumentError` at
        this API boundary. A refused batch leaves the table unchanged: the
        append builds the next version beside the current one and a
        failed commit never moves the pointer.
        """
        df = self._with_dim_guard(normalize_records(df))
        with self._dim_guard_boundary():
            self._insert_batch_body(df)

    def _with_dim_guard(self, df: DataFrame) -> DataFrame:
        """Fold the per-row dimension check into the projection as an
        ``assert_true`` (zero extra scans). A NULL embedding — e.g. a
        JSON vector that failed to parse on the from_jdbc path — fails
        the guard (assert_true raises on a non-true condition), and so
        does a NULL ELEMENT (r12 review: a PostgreSQL '{1.0,NULL}'
        array or a '[1.0, null]' JSON vector keeps the declared size,
        but a None inside the float array would crash or NaN-poison
        every downstream distance kernel — refuse at the boundary
        instead)."""
        dim = int(self.params.dimension)
        ok = (F.size("embedding") == F.lit(dim)) & (
            ~F.exists("embedding", lambda x: x.isNull())
        )
        return df.withColumn(
            "embedding",
            F.when(
                F.assert_true(
                    ok, F.lit(_BATCH_DIM_GUARD_MARK.format(dim=dim))
                ).isNull(),
                F.col("embedding"),
            ),
        )

    @contextmanager
    def _dim_guard_boundary(self):
        """Translate an in-task dim-guard failure raised while the
        wrapped jobs run into the typed :class:`InvalidArgumentError`
        at this API boundary.

        Gate on the error condition where available: plan-dump errors
        (e.g. AnalysisException) can embed the guard literal in their
        operator tree without any row failing the check (r11 review) —
        translate only when assert_true's USER_RAISED_EXCEPTION appears
        somewhere in the exception CHAIN (wrappers may re-class the
        outer error), or when no link exposes a condition at all
        (opaque wrappers)."""
        dim = int(self.params.dimension)
        try:
            yield
        except errors.OasysError:
            raise
        except Exception as exc:
            conditions = []
            link, seen = exc, 0
            while link is not None and seen < 8:
                get_class = getattr(link, "getCondition", None) or getattr(
                    link, "getErrorClass", None  # pre-4.0 name
                )
                if callable(get_class):
                    try:
                        cond = get_class()
                    except Exception:
                        cond = None
                    if cond is not None:
                        conditions.append(cond)
                link = link.__cause__ or link.__context__
                seen += 1
            if _BATCH_DIM_GUARD_MARK.format(dim=dim) in str(exc) and (
                not conditions or "USER_RAISED_EXCEPTION" in conditions
            ):
                raise errors.InvalidArgumentError(
                    _BATCH_DIM_GUARD_MARK.format(dim=dim)
                ) from exc
            raise

    def _insert_batch_body(self, df: DataFrame) -> None:
        from oasysdb_spark.index.pq import (
            encode,
            encode_residual,
            load_codebooks_meta,
        )

        indexed = self._indexed(self.records_df())
        if indexed:
            from oasysdb_spark.index.ivf import assign_clusters

            # assignment BEFORE encoding: a residual PQ layout quantizes
            # embedding − centroid[cluster_id], so codes need the cluster
            df = assign_clusters(self, df)
        meta = load_codebooks_meta(self)
        if meta is not None:
            # PQ tier built: encode at ingest (codes are part of the row,
            # exactly like cluster assignment — never a separate backfill)
            books, residual, pq_rot = meta
            if residual:
                df = encode_residual(
                    df, books, self.centroid_rows(), rotation=pq_rot
                )
            else:
                df = encode(df, books, rotation=pq_rot)
        if indexed:
            self.records.append(df, partition_by=["cluster_id"])
        else:
            self.records.append(df)

    def delete(self, record_ids: str | list[str] | DataFrame) -> None:
        """Delete by id; missing ids are a silent no-op (matching the index
        side /root/reference/src/cores/index.rs:149,160 and *not* the
        storage-side count bug — SURVEY.md §2.6.2). Empty clusters lose
        their centroid (/root/reference/src/cores/index.rs:150-157).

        Accepts a single id, a list, or a DataFrame with an ``id`` column.
        All paths anti-/semi-join against an ids DataFrame (small lists are
        auto-broadcast by Catalyst), so delete-batch size is unbounded —
        never a driver-side ``isin`` literal list."""
        if isinstance(record_ids, DataFrame):
            ids_df = record_ids.select(F.col("id").cast("string")).distinct()
        else:
            ids = [record_ids] if isinstance(record_ids, str) else list(record_ids)
            if not ids:
                return
            ids_df = tiny_df(self.spark, [(i,) for i in ids], "id string")
        current = self.records_df()
        if self._indexed(current):
            # IO is scoped to the clusters that actually hold the ids: find
            # them (semi-join over a column-pruned scan of id+cluster_id),
            # rewrite ONLY those partitions copy-on-write, hardlink the
            # rest. A one-id delete against a 100 TB table touches one
            # partition directory.
            affected = [
                r["cluster_id"]
                for r in current.join(ids_df, "id", "left_semi")
                .select("cluster_id")
                .distinct()
                .collect()
            ]
            if not affected:
                return  # missing ids are a silent no-op — nothing to rewrite
            remaining = current.where(F.col("cluster_id").isin(affected)).join(
                ids_df, "id", "left_anti"
            )
            surviving = {
                r["cluster_id"]
                for r in remaining.select("cluster_id").distinct().collect()
            }
            self.records.rewrite_partitions(remaining, "cluster_id", affected)
            emptied = [c for c in affected if c not in surviving]
            if emptied:
                self._drop_centroids(emptied)
        else:
            self.records.write(current.join(ids_df, "id", "left_anti"))

    def update_metadata(self, record_id: str, metadata: dict[str, Any]) -> None:
        """Replace a record's **entire** metadata map (not a merge); the
        vector is immutable (/root/reference/src/cores/storage.rs:50-70)."""
        m_text, m_num, m_bool = split_metadata(metadata)
        self.update_metadata_batch(
            tiny_df(self.spark, [(record_id, m_text, m_num, m_bool)], _UPDATE_SCHEMA)
        )

    def update_metadata_batch(self, updates: DataFrame) -> None:
        """Bulk whole-map metadata replace: ``updates`` carries ``(id,
        m_text, m_num, m_bool)`` — the same typed-map encoding the record
        store uses (``split_metadata`` produces it from a dict). Every map
        column must be non-null (pass an empty map to clear); the vector
        stays immutable, matching the single-record
        :meth:`update_metadata`.

        Scale shape mirrors the bulk delete: ONE probe pass (a left join
        + aggregate over the cached update set) validates the batch —
        empty batch → no-op without version churn, duplicate ids →
        InvalidArgumentError (a duplicated id would fan out its record
        row through the apply join), any missing id → NotFoundError (the
        strict single-record semantics, checked set-wide) — and collects
        the affected clusters in the same job; only those partitions
        rewrite copy-on-write (the rest hardlink), and the update set
        joins in as an ordinary broadcast-able DataFrame — no driver-side
        literal lists."""
        upd = updates.select(
            F.col("id").cast("string").alias("_uid"),
            F.col("m_text").alias("_ut"),
            F.col("m_num").alias("_un"),
            F.col("m_bool").alias("_ub"),
        ).cache()
        current = self.records_df()
        indexed = self._indexed(current)
        probe_cols = ["id", "cluster_id"] if indexed else ["id"]
        aggs = [
            F.count("*").alias("n_rows"),
            F.count_distinct("_uid").alias("n_ids"),
            # count_distinct skips NULLs, so a null-id row would otherwise
            # misreport as "duplicate ids" — surface it as its own error
            F.sum(F.when(F.col("_uid").isNull(), 1).otherwise(0)).alias("n_null_ids"),
            F.sum(F.when(F.col("id").isNull(), 1).otherwise(0)).alias("n_missing"),
        ]
        if indexed:
            aggs.append(F.collect_set("cluster_id").alias("affected"))
        try:
            stats = (
                upd.join(
                    current.select(*probe_cols),
                    upd["_uid"] == F.col("id"),
                    "left",
                )
                .agg(*aggs)
                .first()
            )
            if stats["n_rows"] == 0:
                return  # empty batch: no-op, no new version
            if stats["n_null_ids"]:
                raise errors.InvalidArgumentError(
                    f"{stats['n_null_ids']} update row(s) have a null id"
                )
            if stats["n_rows"] != stats["n_ids"]:
                raise errors.InvalidArgumentError(
                    "duplicate ids in update batch: each id may appear at most once"
                )
            if stats["n_missing"]:
                raise errors.NotFoundError(
                    f"{stats['n_missing']} update id(s) not found in the record store"
                )

            def _apply(df: DataFrame) -> DataFrame:
                j = df.join(upd, df["id"] == upd["_uid"], "left")
                cols = []
                for c in df.columns:
                    if c == "m_text":
                        cols.append(F.coalesce("_ut", "m_text").alias("m_text"))
                    elif c == "m_num":
                        cols.append(F.coalesce("_un", "m_num").alias("m_num"))
                    elif c == "m_bool":
                        cols.append(F.coalesce("_ub", "m_bool").alias("m_bool"))
                    else:
                        cols.append(df[c])
                return j.select(*cols)

            if indexed:
                affected = sorted(stats["affected"])
                touched = _apply(current.where(F.col("cluster_id").isin(affected)))
                self.records.rewrite_partitions(touched, "cluster_id", affected)
            else:
                self.records.write(_apply(current))
        finally:
            upd.unpersist()

    def _drop_centroids(self, cluster_ids: list) -> None:
        """Drop the named centroids — clusters that lost their last member
        (/root/reference/src/cores/index.rs:150-157). Delete computes the
        emptied set from the affected partitions only, so this never needs
        the full-table liveness scan."""
        if not self.centroids.exists():
            return
        cents = self.centroids.read(self.spark)
        self.centroids.write(cents.where(~F.col("cluster_id").isin(cluster_ids)))

    # ------------------------------------------------------------------
    # query
    # ------------------------------------------------------------------

    def _track_serving_broadcast(self, bc) -> None:
        """Retain the newest HNSW query-batch broadcast and unpersist
        the previous one: a long-lived serving session otherwise grows
        executor broadcast memory without bound (one batch per query).
        ``unpersist`` — never ``destroy`` — so a caller
        still holding an earlier query's lazy DataFrame re-fetches from
        the driver on re-execution instead of failing."""
        prev = getattr(self, "_serving_bcs", None)
        if prev:
            for old in prev:
                try:
                    old.unpersist()
                except Exception:
                    pass  # already released / context gone
        self._serving_bcs = [bc] if bc is not None else []

    def release_serving_broadcasts(self) -> None:
        """Unpersist any retained HNSW query-batch broadcast (call at
        the end of a serving session; the next query re-creates its
        own)."""
        self._track_serving_broadcast(None)

    def _plan(self, queries, k, filter, probes, radius, approx, rerank) -> DataFrame:
        """The one serving plan behind :meth:`query_df` and
        :meth:`query_many_df`: each query's candidates as ``(query_id,
        id, m_text, m_num, m_bool, distance, ...)`` rows, with the exact
        double ``distance``, the radius and the metadata pre-filter
        applied. The wrappers add only the final top-k, so a batch's
        list for a vector equals that vector's standalone query.

        ``queries`` is a list of vectors (numbered 0..n-1) or a
        ``(query_id, qvec)`` DataFrame, collected once: batches are
        broadcast-sized by contract. Every vector passes
        :meth:`_validate_dim`, so a wrong-dimension or null ``qvec``
        raises instead of silently matching nothing.

        Plan shape. The records table is read once. When it is IVF
        indexed (``cluster_id`` partitions plus centroids),
        :meth:`_probe_cluster_ids` ranks each query's ``probes`` nearest
        centroids driver-side and the scan keeps ``cluster_id IN (union
        of probed ids)``, a static PartitionFilter, so unprobed
        partitions are never read (reference ``src/cores/index.rs:176-182``).
        Batch size changes only how the query attaches:

        - one query attaches as plan literals (``const_distance``,
          ``adc_score_expr``) with no join, and its top-k cuts are
          ``ORDER BY … LIMIT`` (TakeOrderedAndProject, the distributed
          bounded max-heap of reference ``src/cores/index.rs:201-213``);
        - several queries attach as a broadcast frame with one
          ``(query_id, qvec[, cluster_id][, qtable])`` row per query and
          probed cluster, equi-joined on ``cluster_id`` (crossed when
          unindexed), and their cuts are per-``query_id`` ``row_number``
          windows.

        The filter applies before any top-k cut (pre-filtering,
        reference ``src/cores/index.rs:195-199``); the radius bounds
        the exact distance.

        Tiers (``approx``):

        - ``None``: exact distance over the probed scan.
        - ``"pq"`` (after ``index.pq.build_pq``; euclidean only): the
          candidate scan reads the ``pq_code`` column and the filter's
          maps, never raw vectors. ADC scores it against one lookup table
          per query, or per query and probed cluster for a residual
          layout (codes quantize ``embedding − centroid``, so those
          tables always ride the frame). The best ``max(rerank, k)`` per
          query survive, and a second, equally pruned scan fetches the
          embeddings of only those rows for the exact distance.
        - ``"hnsw"`` (after ``index.hnsw.build_hnsw``; euclidean or
          cosine): the batch is broadcast into the resident shard tasks
          (decoded graphs are memoized per worker by graph version).
          Each query beams ``max(rerank, k)`` plus the tombstone count
          candidates; cosine beams the unit-normalized query through the
          unit-vector graph. Only those ids re-rank exactly, so shared
          ids bit-match the exact tier. ``probes`` is moot. A graph
          cannot apply a predicate mid-beam, so a filtered query starts
          at ``4k``, post-filters, and quadruples ef until every query
          has k matches or ef covers the graph (live plus tombstoned
          nodes), where the answer is exact: a selective filter degrades
          toward brute force instead of under-filling k. A graph older
          than the records is refused as stale
          (``index.hnsw.hnsw_serving_state``)."""
        if k <= 0:
            raise errors.InvalidArgumentError(
                "k must be > 0 (/root/reference/src/cores/database.rs:321-325)"
            )
        metric = self.params.metric
        if approx not in (None, "pq", "hnsw"):
            raise errors.InvalidArgumentError(
                f"unknown approx mode {approx!r}; supported: 'pq', 'hnsw'"
            )
        if approx == "pq" and metric != "euclidean":
            raise errors.InvalidArgumentError(
                "approx='pq' supports the euclidean metric only"
            )
        if approx == "hnsw" and metric not in ("euclidean", "cosine"):
            raise errors.InvalidArgumentError(
                "approx='hnsw' supports the euclidean and cosine metrics only"
            )
        if isinstance(queries, DataFrame):
            queries = queries.select(
                F.col("query_id").cast("bigint"), F.col("qvec").cast("array<double>")
            ).collect()
        else:
            queries = enumerate(queries)
        qs = [
            (qid, self._validate_dim(() if vec is None else vec))
            for qid, vec in queries
        ]
        qp = QueryParameters(
            probes=probes if probes is not None else 32,
            radius=radius if radius is not None else self._default_radius(),
        )
        pred = compile_filter(filter, MapLayout())
        recs = self.records_df()
        indexed = self._indexed(recs)
        single = len(qs) == 1

        # the broadcast frame's rows, built only when something attaches it;
        # qvec stays double so frame distances bit-match the literal path's
        fields, rows = ["query_id bigint", "qvec array<double>"], list(qs)
        pruned = indexed and approx != "hnsw"
        if pruned:
            probed = self._probe_cluster_ids([v for _, v in qs], qp.probes)
            recs = recs.where(
                F.col("cluster_id").isin(sorted({c for p in probed for c in p}))
            )
            fields.append("cluster_id int")
            rows = [(q, v, c) for (q, v), cids in zip(qs, probed) for c in cids]
        key = "cluster_id" if pruned else None

        def attach(df: DataFrame, on: str | None) -> DataFrame:
            frame = F.broadcast(tiny_df(self.spark, rows, ", ".join(fields)))
            return df.join(frame, on) if on else df.crossJoin(frame)

        if approx == "pq":
            from oasysdb_spark.index.pq import (
                adc_score_col,
                adc_score_expr,
                adc_table,
                load_codebooks_meta,
            )

            meta = load_codebooks_meta(self)
            if meta is None or "pq_code" not in recs.columns:
                raise errors.InvalidArgumentError(
                    "PQ tier not built: call oasysdb_spark.index.pq.build_pq first"
                )
            books, residual, rot = meta
            if residual and not indexed:
                raise errors.InvalidArgumentError(
                    "residual PQ layout requires the IVF index it was "
                    "built with: build_index before querying"
                )
            cents = dict(self.centroid_rows()) if residual else {}

            def table(vec, cluster):
                q = np.asarray(vec, dtype=np.float64)
                if residual:
                    q = q - np.asarray(cents[cluster], dtype=np.float64)
                return adc_table(q if rot is None else q @ rot, books)

            codes = recs.drop("embedding").where(pred)
            if single and not residual:
                cand = codes.withColumn("__adc", adc_score_expr(table(qs[0][1], None)))
            else:
                fields.append("qtable array<double>")
                rows = [
                    (*r, [float(x) for x in table(r[1], r[2] if residual else None).ravel()])
                    for r in rows
                ]
                cand = attach(codes, key).withColumn(
                    "__adc", adc_score_col(F.col("qtable"), int(books.shape[1]))
                )
            cand = _top(cand, "__adc", max(rerank, k), per_query=not single)
            keys = ["cluster_id", "id"] if pruned else ["id"]
            pairs = recs.select(*keys, "embedding").join(
                F.broadcast(cand.drop("__adc", "qtable")), keys
            )
        elif approx == "hnsw":
            from oasysdb_spark.index.hnsw import (
                broadcast_queries,
                hnsw_serving_state,
                resident_candidates,
            )

            gpath, gshards, gtoken, gmeta = hnsw_serving_state(self)
            if gmeta.get("metric", "euclidean") != metric:
                raise errors.InvalidArgumentError(
                    "HNSW graph was built for metric "
                    f"{gmeta.get('metric', 'euclidean')!r}; run build_hnsw "
                    f"to rebuild it for {metric!r}"
                )
            beam = []
            for qid, vec in qs:
                norm = math.sqrt(sum(x * x for x in vec)) if metric == "cosine" else 0.0
                beam.append((qid, [x / norm for x in vec] if norm > 0 else vec))
            # tombstoned ids drop at the records join: widen ef by their
            # count so a beam full of dead ids cannot under-fill k
            n_tomb = len(gmeta.get("tombstones", []))
            ef = max(rerank, k) + n_tomb
            if filter is not None:
                ef = max(ef, 4 * k)
                n_graph = recs.count() + n_tomb
            # one broadcast shared by every ladder rung; the previous
            # call's broadcast is unpersisted
            qb = broadcast_queries(self.spark, beam)
            self._track_serving_broadcast(qb)
            while True:
                cand = resident_candidates(
                    self.spark, gpath, gshards, gtoken,
                    ef_search=ef, id_type="string", qb=qb,
                ).select("query_id", F.col("vec_id").alias("id"))
                if not single:
                    cand = attach(cand, "query_id")
                pairs = recs.join(F.broadcast(cand), "id")
                if filter is None or ef >= n_graph:
                    break
                got = dict(pairs.where(pred).groupBy("query_id").count().collect())
                if all(got.get(qid, 0) >= k for qid, _ in qs):
                    break
                ef = min(n_graph, ef * 4)
        else:
            pairs = recs if single else attach(recs, key)

        if single:
            dist = const_distance(metric, qs[0][1])
        else:
            dist = distance_expr(metric, F.col("qvec"), F.col("embedding"))
        out = pairs.where(pred).withColumn("distance", dist)
        if math.isfinite(qp.radius):
            out = out.where(F.col("distance") <= F.lit(qp.radius))
        else:
            out = out.where(F.col("distance").isNotNull())
        if single:
            out = out.withColumn("query_id", F.lit(qs[0][0]).cast("bigint"))
        return out

    def query_df(
        self,
        vector: Iterable[float],
        k: int,
        filter: str | None = None,
        probes: int | None = None,
        radius: float | None = None,
        approx: str | None = None,
        rerank: int = 128,
    ) -> DataFrame:
        """ANN top-k as a DataFrame ``(id, m_text, m_num, m_bool,
        distance)`` in ascending distance; the vector is excluded, like
        QueryResult (reference ``src/cores/index.rs:8-18``). Plan shape
        and the ``approx`` tiers are described in :meth:`_plan`."""
        out = self._plan([vector], k, filter, probes, radius, approx, rerank)
        return _top(out, "distance", k, per_query=False).select(
            "id", "m_text", "m_num", "m_bool", to_f32(F.col("distance")).alias("distance")
        )

    def query(
        self,
        vector: Iterable[float],
        k: int,
        filter: str | None = None,
        probes: int | None = None,
        radius: float | None = None,
        approx: str | None = None,
        rerank: int = 128,
    ) -> list[dict[str, Any]]:
        """Collect form of :meth:`query_df`: ascending-distance list of
        ``{id, metadata, distance}`` dicts."""
        rows = self.query_df(
            vector, k, filter=filter, probes=probes, radius=radius,
            approx=approx, rerank=rerank,
        ).collect()
        return [
            {"id": r["id"], "metadata": merge_metadata(r), "distance": r["distance"]}
            for r in rows
        ]

    def query_many_df(
        self,
        queries: "DataFrame | Iterable[Iterable[float]]",
        k: int,
        filter: str | None = None,
        probes: int | None = None,
        radius: float | None = None,
        approx: str | None = None,
        rerank: int = 128,
    ) -> DataFrame:
        """Batched ANN as one plan: the whole batch shares one scan
        instead of one per query (the reference RPC is single-vector,
        reference ``protos/database.proto:27``).

        ``queries`` is either a ``(query_id bigint, qvec array<float>)``
        DataFrame or a plain list of vectors (numbered 0..n-1). Returns
        ``(query_id, id, m_text, m_num, m_bool, distance)`` rows, the
        top-``k`` per query by ascending distance; each query's rows equal
        its standalone :meth:`query_df`. Plan shape and the ``approx``
        tiers are described in :meth:`_plan`."""
        out = self._plan(queries, k, filter, probes, radius, approx, rerank)
        return _top(out, "distance", k, per_query=True).select(
            "query_id", "id", "m_text", "m_num", "m_bool",
            to_f32(F.col("distance")).alias("distance"),
        )

    def query_many(
        self,
        queries: "DataFrame | Iterable[Iterable[float]]",
        k: int,
        filter: str | None = None,
        probes: int | None = None,
        radius: float | None = None,
        approx: str | None = None,
        rerank: int = 128,
    ) -> dict[int, list[dict[str, Any]]]:
        """Collect form of :meth:`query_many_df`: ``{query_id: ascending
        [{id, metadata, distance}, ...]}`` — each list identical to what
        :meth:`query` returns for that vector alone."""
        rows = self.query_many_df(
            queries, k, filter=filter, probes=probes, radius=radius,
            approx=approx, rerank=rerank,
        ).collect()
        out: dict[int, list[dict[str, Any]]] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["distance"], r["id"])):
            out.setdefault(r["query_id"], []).append(
                {"id": r["id"], "metadata": merge_metadata(r), "distance": r["distance"]}
            )
        return out

    # ------------------------------------------------------------------
    # centroid helpers (driver-side: the centroids table is tiny by design)
    # ------------------------------------------------------------------

    def centroid_rows(self) -> list[tuple[int, list[float]]]:
        """``(cluster_id, centroid)`` pairs sorted by ``cluster_id`` — the
        one centroid order, so position ties rank the same everywhere.
        Held in the session memo (kind ``centroids``, keyed by the table
        root, signed by its current version directory), so every handle
        on this directory sees a centroid rewrite by any other."""
        path = self.centroids.current_path()

        def compute():
            rows = self.centroids.read(self.spark).select("cluster_id", "centroid").collect()
            return sorted((r["cluster_id"], list(r["centroid"])) for r in rows)

        return memo(self.spark, "centroids", os.path.abspath(self.centroids.root), (path,), compute)

    def _probe_cluster_ids(self, vecs: list[list[float]], probes: int) -> list[list[int]]:
        """For each query vector, the ids of its ``min(probes,
        #centroids)`` nearest clusters, nearest first (reference
        ``src/cores/index.rs:176-177, 255-275``). Every serving tier
        probes through this one function, and it ranks with the same
        :func:`~oasysdb_spark.index.ivf.nearest_centroids` that assigned
        each record its cluster."""
        from oasysdb_spark.index.ivf import nearest_centroids

        rows = self.centroid_rows()
        if not rows:
            return [[] for _ in vecs]
        ids = np.array([c for c, _ in rows])
        pos = nearest_centroids(vecs, [v for _, v in rows], self.params.metric, probes)
        return ids[pos].tolist()


def _top(df: DataFrame, col: str, n: int, per_query: bool) -> DataFrame:
    """The ``n`` rows with the smallest ``col`` (ties broken by id):
    overall as ``ORDER BY … LIMIT``, or per ``query_id`` through a
    ``row_number`` window."""
    order = [F.col(col).asc_nulls_last(), F.col("id")]
    if not per_query:
        return df.orderBy(*order).limit(n)
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )
