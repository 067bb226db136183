"""SQL-database record sourcing via Spark's JDBC connector.

Restores the reference family's v0.7 lineage — vector records sourced
from a SQL database such as SQLite/PostgreSQL with metadata
pre-filtering before indexing (/root/reference/docs/changelog.md:41-64)
— in its Spark shape: ``spark.read.jdbc`` is the battle-tested
connector (DriverManager, dialect mapping, predicate pushdown), and the
engine's job is only to map a relational row onto the canonical record
schema (id, embedding, typed metadata maps).

Scale notes: pass ``partition_column``/``lower_bound``/``upper_bound``/
``num_partitions`` (or explicit ``predicates``) so the read is issued
as N parallel range queries instead of one connection pulling the whole
table through a single task — the difference between a bulk load that
saturates the cluster and one that saturates a socket. The ``where``
pre-filter compiles into the JDBC WHERE clause (Catalyst pushes simple
predicates through the connector), so filtered loads never transfer the
excluded rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oasysdb_spark import errors

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


# ---------------------------------------------------------------------------
# watermark typing (shared by Database.from_jdbc / sync_jdbc)
# ---------------------------------------------------------------------------

def watermark_kind(value) -> str:
    """Classify a watermark value into the literal family its SQL
    predicate must render as: ``num`` (int/float/Decimal — NUMERIC
    watermarks such as Oracle NUMBER or Derby/Postgres NUMERIC render
    as bare digits, never as a guessed TIMESTAMP), ``str`` (quoted),
    ``ts`` (datetime → typed TIMESTAMP literal) or ``date`` (date →
    typed DATE literal). Anything else refuses loudly instead of
    guessing — a mis-typed literal would crash the NEXT sync's
    predicate parse, one failure later than the cause."""
    import datetime
    import decimal

    if isinstance(value, bool):
        raise errors.InvalidArgumentError(
            "a boolean column cannot be a sync watermark (two values "
            "never advance monotonically)"
        )
    if isinstance(value, (int, float, decimal.Decimal)):
        return "num"
    if isinstance(value, str):
        return "str"
    # datetime before date: datetime.datetime subclasses datetime.date
    if isinstance(value, datetime.datetime):
        return "ts"
    if isinstance(value, datetime.date):
        return "date"
    raise errors.InvalidArgumentError(
        f"unsupported watermark type {type(value).__name__}: supported "
        "marks are numeric (int/float/decimal), string, date and "
        "timestamp columns"
    )


def watermark_literal(value, kind: str, *, remote: bool = False) -> str:
    """Render a watermark value as a SQL literal of its ``kind`` (see
    :func:`watermark_kind`). Values reloaded from persisted sync state
    may arrive as strings for the temporal/decimal kinds — the kind,
    not the Python type, decides the rendering.

    ``remote`` selects the audience: the default renders Spark-SQL
    datetime literals (``TIMESTAMP '...'``) for fragments Spark parses
    and pushes itself; ``remote=True`` renders the JDBC escape forms
    (``{ts '...'}`` / ``{d '...'}``) for predicate text that ships
    VERBATIM to the remote database — every JDBC driver translates the
    escapes into its own dialect, where the ANSI keyword-literal form
    is not universal (Derby rejects it)."""
    if kind == "num":
        return str(value)
    if kind == "str":
        s = str(value).replace("'", "''")
        if not remote:
            # Spark parses its SQL fragments with C-style backslash
            # escapes active (spark.sql.parser.escapedStringLiterals
            # defaults to false), so an unescaped backslash in the mark
            # would parse to a DIFFERENT bound than the value actually
            # persisted and silently shift the Spark-side filter. The
            # remote form stays verbatim: ANSI string literals have no
            # backslash escapes, and a doubled backslash would shift
            # the bound on the remote instead.
            s = s.replace("\\", "\\\\")
        return "'" + s + "'"
    if kind == "ts":
        return "{ts '%s'}" % value if remote else f"TIMESTAMP '{value}'"
    if kind == "date":
        return "{d '%s'}" % value if remote else f"DATE '{value}'"
    raise errors.InvalidArgumentError(f"unknown watermark kind {kind!r}")


def watermark_state(value) -> tuple[str, object]:
    """Classify a scanned watermark value and coerce it to its
    JSON-persistable state form in one step: ``(kind, state_value)``
    where temporal/decimal values become their string renderings (the
    kind, not the Python type, drives literal rendering on reload).
    The single home for this pairing — sync's mark and from_jdbc's seed
    both persist through it, so the state format cannot silently
    diverge between them."""
    kind = watermark_kind(value)  # typed refusal on exotics
    out = value if isinstance(value, (int, float, str)) else str(value)
    return kind, out


def quote_sql_ident(name: str) -> str:
    """ANSI-double-quote an identifier for SQL text that ships VERBATIM
    to the remote database (matching the case-preserved identifiers
    Spark's own JDBC writer creates). Embedded quotes double."""
    return '"' + name.replace('"', '""') + '"'


def remote_watermark_minmax(
    spark: SparkSession,
    url: str,
    table: str,
    column: str,
    *,
    properties: dict | None = None,
    where_remote: str | None = None,
):
    """Push MIN/MAX of the watermark column down to the remote database
    as a one-row aggregate subquery. The v1 JDBC source pushes filters
    but never aggregates, so a client-side ``df.agg(max)`` pulls the
    whole filtered window through one socket just to find its edge —
    for a backfill window that is the entire table. ``where_remote``
    must be REMOTE-dialect SQL (render marks with
    ``watermark_literal(..., remote=True)``); :func:`watermark_bounds`
    catches remote parse failures and falls back to the client-side
    aggregate. Returns ``(min, max)`` Python values (``(None, None)`` on
    an empty window).

    Dialect-safety note: sync's backfill passes the user's (Spark-
    dialect) pre-filter through here, which is safe FOR BOUNDS even if
    an exotic remote parses the text to a different row set — the
    bounds only SHAPE the range predicates (the batch read re-applies
    the Spark-parsed filter), a too-low max just defers rows to the
    next window, and a too-high max is still a real watermark value
    present in the table at scan time, so the monotonic contract keeps
    every later-committed row at or above it. Do NOT reuse this
    tolerance for marks that GATE data (a bulk-load seed must not come
    through a remote-shipped Spark-dialect filter — see
    ``Database.from_jdbc``'s partitioned seed path)."""
    qcol = quote_sql_ident(column)
    pred = f" WHERE {where_remote}" if where_remote else ""
    sub = (
        f'(SELECT MIN({qcol}) AS "wm_l", MAX({qcol}) AS "wm_h" '
        f"FROM {table}{pred}) oasys_wm_scan"
    )
    row = spark.read.jdbc(url, sub, properties=dict(properties or {})).first()
    if row is None:
        return None, None
    return row["wm_l"], row["wm_h"]


def watermark_bounds(
    spark: SparkSession,
    url: str,
    table: str,
    column: str,
    scan: DataFrame,
    *,
    properties: dict | None = None,
    where_remote: str | None = None,
    pushdown: bool = True,
):
    """``(min, max)`` of the watermark ``column`` over ``scan`` — the
    source frame with its Spark-parsed filter — read BEFORE any load
    read. With ``pushdown`` the one-row remote aggregate
    (:func:`remote_watermark_minmax`, filtered by the REMOTE-dialect
    ``where_remote``) runs first; when the remote refuses it, a warning
    names the cause (the fallback transfers the watermark column an
    extra time) and a column-pruned client-side aggregate over ``scan``
    answers instead. A genuine connectivity/auth failure fails both:
    the remote error is then chained as the cause, so its pointed
    message survives the fallback's generic scan failure. Pass
    ``pushdown=False`` when the filter exists only as Spark-dialect
    text, which must not ship verbatim to a remote whose dialect could
    silently misread it."""
    remote_exc = None
    if pushdown:
        try:
            return remote_watermark_minmax(
                spark, url, table, column,
                properties=properties, where_remote=where_remote,
            )
        except Exception as exc:  # noqa: BLE001 — dialect refusal
            import warnings

            warnings.warn(
                "remote MIN/MAX pushdown failed; falling back to a "
                "client-side aggregate (the watermark column transfers "
                f"an extra time): {type(exc).__name__}: {str(exc)[:200]}",
                stacklevel=3,
            )
            remote_exc = exc
    try:
        row = scan.agg(
            F.min(column).alias("l"), F.max(column).alias("h")
        ).first()
    except Exception as fb_exc:
        if remote_exc is not None:
            raise fb_exc from remote_exc
        raise
    return row["l"], row["h"]


def watermark_range_predicates(
    column: str,
    low,
    high,
    kind: str,
    num_partitions: int,
    *,
    include_low: bool,
) -> list[str]:
    """Split the closed watermark window (low, high] (or [low, high]
    when ``include_low``) into ``num_partitions`` contiguous range
    predicates for a parallel JDBC read — the sync-path twin of
    ``spark.read.jdbc``'s partitionColumn contract, built here so the
    bounds can be exact typed literals (Decimal, DATE, TIMESTAMP)
    instead of the long-only classic API. Coverage is exact by
    construction: each interior cut renders ONCE and the adjacent
    predicates reuse the identical literal (``> c_i`` / ``<= c_i``),
    so no row can fall between partitions however the cut arithmetic
    rounds. String watermarks refuse — there is no portable way to
    interpolate an evenly-spaced string range.

    Unlike the window's WHERE fragments (which Spark parses and pushes
    with dialect quoting), these predicates ship VERBATIM to the remote
    database — so the column renders ANSI-double-quoted, matching the
    case-preserved identifiers Spark's own JDBC writer creates (and
    Spark's dialect quoting for Derby/Postgres/Oracle). Pass the exact
    stored identifier."""
    import datetime
    import decimal

    if kind == "str":
        raise errors.InvalidArgumentError(
            "cannot range-partition a string watermark: pass "
            "num_partitions only for numeric/date/timestamp marks "
            "(or backfill through Database.from_jdbc with explicit "
            "predicates)"
        )
    n = int(num_partitions)
    if n < 1:
        raise errors.InvalidArgumentError("num_partitions must be >= 1")

    def _parse(v):
        if kind == "num":
            return v if isinstance(v, (int, float, decimal.Decimal)) else decimal.Decimal(str(v))
        if kind == "ts":
            return v if isinstance(v, datetime.datetime) else datetime.datetime.fromisoformat(str(v))
        return v if isinstance(v, datetime.date) else datetime.date.fromisoformat(str(v))

    lo, hi = _parse(low), _parse(high)
    cuts = [watermark_literal(low, kind, remote=True)]
    for i in range(1, n):
        if kind == "num":
            c = lo + (hi - lo) * i / n
            cut_val = c
        elif kind == "ts":
            c = lo + (hi - lo) * i / n
            cut_val = c.isoformat(sep=" ")
        else:  # date: interpolate on ordinals
            c = datetime.date.fromordinal(
                lo.toordinal() + (hi.toordinal() - lo.toordinal()) * i // n
            )
            cut_val = c.isoformat()
        cuts.append(watermark_literal(cut_val, kind, remote=True))
    cuts.append(watermark_literal(high, kind, remote=True))
    qcol = quote_sql_ident(column)
    preds = []
    for i in range(n):
        lo_op = (">=" if include_low else ">") if i == 0 else ">"
        preds.append(
            f"{qcol} {lo_op} {cuts[i]} AND {qcol} <= {cuts[i + 1]}"
        )
    return preds


def read_jdbc_records(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    id_col: str = "id",
    vector_col: str = "embedding",
    metadata_cols: list[str] | None = None,
    properties: dict | None = None,
    predicates: list[str] | None = None,
    where: str | None = None,
    partition_column: str | None = None,
    lower_bound=None,
    upper_bound=None,
    num_partitions: int | None = None,
    exclude_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Read a SQL table as canonical vector records.

    The vector column may be a native SQL array (PostgreSQL) or a
    JSON-array text column (SQLite/Derby/MySQL — databases without an
    array type store ``[0.1, 0.2, ...]`` text; the reference's v0.7 SQL
    layer serialized vectors the same way). Text vectors parse with
    ``from_json``; a row whose text does not parse yields a NULL
    embedding, which the dimension guard downstream refuses loudly.

    Metadata columns (default: every column that is not id/vector and
    not in ``exclude_cols`` — the hook that keeps a sync watermark out
    of the metadata maps on BOTH ingest paths, so a bulk load and the
    incremental syncs that follow produce the same metadata schema) map
    onto the closed text|number|boolean enum by their SQL type —
    strings to m_text, numerics to m_num (cast double), booleans to
    m_bool — mirroring the reference's metadata typing
    (/root/reference/src/types/record.rs:42-47). NULL values are
    dropped from the maps (an absent key, not a null entry).
    """
    return records_from_df(
        read_jdbc_raw(
            spark, url, table, properties=properties,
            predicates=predicates, where=where,
            partition_column=partition_column, lower_bound=lower_bound,
            upper_bound=upper_bound, num_partitions=num_partitions,
        ),
        table,
        id_col=id_col, vector_col=vector_col,
        metadata_cols=metadata_cols, exclude_cols=exclude_cols,
    )


def read_jdbc_raw(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    properties: dict | None = None,
    predicates: list[str] | None = None,
    where: str | None = None,
    partition_column: str | None = None,
    lower_bound=None,
    upper_bound=None,
    num_partitions: int | None = None,
) -> DataFrame:
    """The raw-reading half of :func:`read_jdbc_records`: the JDBC scan
    with its parallelism shape (predicates / partition-column ranges /
    single connection) and the Spark-parsed ``where`` pre-filter, BEFORE
    the record mapping. Split out so a caller can pin the raw frame and
    derive extra facts from the SAME one pull (from_jdbc seeds its sync
    mark from the loaded frame's own max — no separate scan, no
    dialect-translation hazard) the way sync's cached window does."""
    props = dict(properties or {})
    if predicates is not None:
        df = spark.read.jdbc(url, table, predicates=predicates,
                             properties=props)
    elif partition_column is not None:
        if lower_bound is None or upper_bound is None or not num_partitions:
            raise errors.InvalidArgumentError(
                "partition_column needs lower_bound, upper_bound and "
                "num_partitions (the JDBC parallel-range contract)"
            )
        df = spark.read.jdbc(
            url, table, column=partition_column,
            lowerBound=lower_bound, upperBound=upper_bound,
            numPartitions=int(num_partitions), properties=props,
        )
    else:
        df = spark.read.jdbc(url, table, properties=props)
    if where:
        # metadata pre-filter (v0.7 lineage): simple predicates compile
        # into the JDBC WHERE clause, so excluded rows never transfer
        df = df.where(where)
    return df


def records_from_df(
    df: DataFrame,
    table: str,
    *,
    id_col: str = "id",
    vector_col: str = "embedding",
    metadata_cols: list[str] | None = None,
    exclude_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Map an already-read relational frame onto the canonical record
    schema — the row-mapping half of :func:`read_jdbc_records`, split
    out so a caller that must keep the RAW frame (e.g. ``sync_jdbc``'s
    one-pull path, which derives the next watermark from the same
    cached window it ingests) doesn't re-pull the table to map it.
    Same typing rules and errors; ``table`` is only for messages."""
    names = {f.name for f in df.schema.fields}
    for need in (id_col, vector_col):
        if need not in names:
            raise errors.InvalidArgumentError(
                f"JDBC table {table!r} has no column {need!r} "
                f"(columns: {sorted(names)})"
            )

    vec_type = df.schema[vector_col].dataType
    vec = F.col(vector_col)
    if isinstance(vec_type, T.ArrayType):
        embedding = vec.cast("array<float>")
    elif isinstance(vec_type, T.StringType):
        embedding = F.from_json(vec, "array<float>")
    else:
        raise errors.InvalidArgumentError(
            f"vector column {vector_col!r} must be an SQL array or a "
            f"JSON-array text column (got {vec_type.simpleString()})"
        )

    if metadata_cols is None:
        metadata_cols = [
            n for n in df.columns
            if n not in (id_col, vector_col) and n not in exclude_cols
        ]
    text_pairs, num_pairs, bool_pairs = [], [], []
    for name in metadata_cols:
        if name not in names:
            raise errors.InvalidArgumentError(
                f"metadata column {name!r} not in JDBC table {table!r}"
            )
        dt = df.schema[name].dataType
        if isinstance(dt, T.StringType):
            text_pairs += [F.lit(name), F.col(name)]
        elif isinstance(dt, T.BooleanType):
            bool_pairs += [F.lit(name), F.col(name)]
        elif isinstance(dt, _NUMERIC):
            num_pairs += [F.lit(name), F.col(name).cast("double")]
        else:
            raise errors.InvalidArgumentError(
                f"metadata column {name!r} has unsupported type "
                f"{dt.simpleString()}: the record metadata enum is "
                "text|number|boolean "
                "(/root/reference/src/types/record.rs:38-47)"
            )

    def _map(pairs, value_type):
        if not pairs:
            return F.lit(None).cast(f"map<string,{value_type}>")
        # drop NULL values: an absent key, not a null map entry
        return F.map_filter(
            F.create_map(*pairs), lambda _, v: v.isNotNull()
        )

    return df.select(
        F.col(id_col).cast("string").alias("id"),
        embedding.alias("embedding"),
        _map(text_pairs, "string").alias("m_text"),
        _map(num_pairs, "double").alias("m_num"),
        _map(bool_pairs, "boolean").alias("m_bool"),
    )
