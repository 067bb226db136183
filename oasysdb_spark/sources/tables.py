"""Fixture-table loaders.

``events.parquet`` stores its timestamp as parquet TIMESTAMP(NANOS), which
Spark's vectorized reader refuses by default. We flip the documented
escape hatch (``spark.sql.legacy.parquet.nanosAsLong``) and rebuild a
microsecond timestamp column with integer division — DuckDB performs the
same nanos→micros truncation when it reads the file, so both engines see
identical values.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NANO_TS_TABLES = {"events": "ts"}


_MEMO: dict = {}  # (session, kind, key) -> (signatures, value), FIFO order
_MEMO_STATS: dict = {}  # kind -> {"hits": n, "misses": n}
_MEMO_MAX = 256


def memo(spark, kind: str, key, sig_paths, compute):
    """The one in-process session memo: ``compute()`` once per
    ``(spark, kind, key)`` while the files under ``sig_paths`` keep their
    signature. Serves repeated calls in one interactive session from state
    the session already holds, with explicit invalidation (the reuse
    contract of "Incremental Based Framework for Efficient Top-K Similarity
    Search in Interactive Data Analysis Sessions", EDBT 2020).

    - It holds plans, file-derived metadata and work dirs only, never data:
      every action over a memoized plan still scans its inputs.
    - Entries are session-scoped: a frame is bound to the session that
      made it, and ``newSession()`` carries its own confs. Conf-sensitive
      callers put those confs in ``key``.
    - The ``_local_files_sig`` signatures are read AFTER ``compute``
      returns, so a compute that writes its own inputs (an index build
      into a work dir) is stored against what it wrote. A ``None``
      signature (non-local or unreadable path) means no memoization.
    - At most ``_MEMO_MAX`` entries across all kinds, evicted FIFO.
    - A session's entries are dropped when that session is positively
      stopped; a session that cannot be probed (Spark Connect) is kept.
    """
    full = (spark, kind, key)
    stats = _MEMO_STATS.setdefault(kind, {"hits": 0, "misses": 0})
    hit = _MEMO.get(full)
    if hit is not None and hit[0] == _sigs(sig_paths):
        stats["hits"] += 1
        return hit[1]
    stats["misses"] += 1
    _purge_stopped_sessions()
    value = compute()
    sigs = _sigs(sig_paths)
    _MEMO.pop(full, None)
    if sigs is not None:
        while len(_MEMO) >= _MEMO_MAX:
            _MEMO.pop(next(iter(_MEMO)), None)
        _MEMO[full] = (sigs, value)
    return value


def memo_stats() -> dict:
    """Per-kind hit/miss counters of :func:`memo`, as a copy."""
    return {kind: dict(c) for kind, c in _MEMO_STATS.items()}


def _sigs(paths):
    sigs = tuple(_local_files_sig(p) for p in paths)
    return None if any(s is None for s in sigs) else sigs


def _purge_stopped_sessions() -> None:
    """Drop the entries of positively stopped sessions (runs on misses)."""
    for s in {k[0] for k in list(_MEMO)}:
        try:
            jsc = s._sc._jsc
        except Exception:  # no classic context to probe (Spark Connect)
            continue
        try:
            stopped = jsc is None or jsc.sc().isStopped()
        except Exception:
            stopped = False
        if stopped:
            for k in [k for k in list(_MEMO) if k[0] is s]:
                _MEMO.pop(k, None)


def read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    """Memoized ``spark.read.parquet``: every call re-infers the schema
    from parquet footers, ~90-115 ms of driver time (r15 gap profiling
    — the q-series queries load 5-6 tables each, so this was the single
    largest per-query driver cost in the bench). The one read-time conf
    a caller flips per table (nanosAsLong for the events fixture) is in
    the key, so whichever caller reads that path first does not pin its
    frame shape for every later caller."""
    try:
        nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    except Exception:
        nanos = None
    return memo(
        spark, "read", (os.path.abspath(path), nanos), (path,),
        lambda: spark.read.parquet(path),
    )


def prepared_plan(spark, name, params, sig_paths, builder):
    """Prepared-statement ledger for PURE-LAZY query plans (r16, judge
    task 3), a :func:`memo` of kind ``plan`` keyed by (name, params). A
    repeat invocation in a long-lived serving session skips the py4j
    Column-construction chatter (~0.25-0.65 s per query at 128-expression
    plan sizes — the dominant per-query driver cost once table loads were
    memoized in r15).

    ONLY register plans with no cache()/localCheckpoint/eager collects
    inside: memoizing a cache-bearing plan would let a second invocation
    reuse blocks the first one populated, which is cross-call result
    caching, not plan preparation.

    What is stored is the ANALYZED LOGICAL plan, and every hit wraps it
    in a FRESH Dataset (~0.5 ms): physical planning re-runs per
    invocation, so session-conf changes between calls (AQE toggles,
    shuffle sizing) are honored exactly as with a fresh build — only the
    py4j expression-construction chatter is skipped. (A first cut
    memoized the DataFrame object itself; its once-materialized
    QueryExecution then served stale physical-plan snapshots to
    conf-flipping callers — caught by the plan-shape tests.)"""
    # analysis-RESOLVED confs are baked into the stored plan (the
    # analyzer resolves type coercion / timestamp semantics), so the
    # two that could plausibly flip mid-session are part of the key
    # (r16 review); physical-planning confs need no key entry - the
    # fresh wrap below re-plans under them every call.
    try:
        aconf = (
            spark.conf.get("spark.sql.ansi.enabled", None),
            spark.conf.get("spark.sql.session.timeZone", None),
        )
    except Exception:
        aconf = None
    built = []

    def compute():
        built.append(builder())
        return built[0]._jdf.queryExecution().analyzed()

    try:
        jplan = memo(spark, "plan", (name, params, aconf), sig_paths, compute)
    except Exception:
        if not built:  # the builder itself failed
            raise
        return built[0]  # Connect or exotic frames: no ledger
    if built:
        return built[0]
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, jplan
    )
    return DataFrame(jdf, spark)


def prepared(name: str):
    """Decorator form of :func:`prepared_plan` for the standard
    ``fn(spark, sf_dir)`` operator shape: the default-parameter call is
    served from the ledger (signature over the whole fixture directory —
    any table rewrite invalidates), while any parameterized call bypasses
    it and builds fresh. Apply ONLY to pure-lazy bodies (see
    prepared_plan's contract)."""
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(spark, *args, **kwargs):
            # ledger only the exact default-shape call fn(spark, sf_dir);
            # anything else (extra params, keyword forms, frame inputs
            # on sf_dir=None signatures) builds fresh (r16 review: the
            # old wrapper made sf_dir a required positional)
            if len(args) == 1 and not kwargs and isinstance(args[0], str):
                sf_dir = args[0]
                return prepared_plan(
                    spark, name, (sf_dir,), (sf_dir,), lambda: fn(spark, sf_dir)
                )
            return fn(spark, *args, **kwargs)

        return wrapper

    return deco


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Date extraction/rendering must agree with the DuckDB oracle (which is
    # timezone-naive); pin the session to UTC regardless of who built it.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ts_col = NANO_TS_TABLES.get(name)
    if ts_col is None:
        return read_parquet_cached(spark, f"{sf_dir}/{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet_cached(spark, f"{sf_dir}/{name}.parquet")
    if dict(df.dtypes).get(ts_col) == "bigint":
        df = df.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    return df


def _local_files_sig(path: str):
    """mtime_ns+size signature of a local parquet file/dir, or None
    (non-local/unreadable → memoization disabled). Directories are
    walked RECURSIVELY (r15 review: a partitioned layout's leaf rewrite
    updates only the leaf directory's mtime, so a top-level-only scan
    would return a stale signature and serve a memoized frame over a
    changed dataset)."""
    try:
        if os.path.isfile(path):
            # st_ino tightens the bare-file guard (r16, r15 ADVICE): on
            # coarse-mtime filesystems a same-size in-place rewrite
            # within one tick would otherwise serve a stale memo entry;
            # a replace-style rewrite (the normal tool behavior) always
            # changes the inode. Spark's own part files are unique-named
            # so the directory branch never needed this.
            st = os.stat(path)
            return (os.path.abspath(path), st.st_mtime_ns, st.st_size, st.st_ino)
        if os.path.isdir(path):
            entries = []
            for root, _dirs, files in os.walk(path):
                rel = os.path.relpath(root, path)
                for name in files:
                    st = os.stat(os.path.join(root, name))
                    entries.append((rel, name, st.st_mtime_ns, st.st_size))
            return (os.path.abspath(path), tuple(sorted(entries)))
    except OSError:
        return None
    return None


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Read a byte-valued reader conf ('134217728b' / '128m' forms)."""
    try:
        v = spark.conf.get(key)
    except Exception:
        return default
    if v is None:
        return default
    v = str(v).strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if v.endswith(suf):
            v, mult = v[: -len(suf)], m
            break
    try:
        return int(float(v) * mult)
    except ValueError:
        return default


def _estimate_splits(
    sizes: "list[int]", max_part: int, open_cost: int, min_pn: int
) -> int:
    """Replicate Spark's file-split planning (FilePartition's next-fit-
    decreasing packing over maxSplitBytes-sized chunks) from file sizes
    alone — pure driver-side arithmetic, no analysis pass. Validated
    against ``df.rdd.getNumPartitions()`` across the fixture tables and
    reader-conf variants (tests/test_sources.py pins the agreement)."""
    if not sizes:
        return 0
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_part, max(open_cost, total // max(1, min_pn)))
    max_split = max(1, max_split)
    chunks: list[int] = []
    for s in sizes:
        while s > max_split:
            chunks.append(max_split)
            s -= max_split
        if s > 0:
            chunks.append(s)
    chunks.sort(reverse=True)
    n, cur = 0, 0
    for c in chunks:
        if cur + c > max_split and cur > 0:
            n += 1
            cur = 0
        cur += c + open_cost
    if cur > 0:
        n += 1
    return n


def spread_scan(
    spark: SparkSession,
    df: DataFrame,
    key_path: "str | None" = None,
    rescue_only: bool = False,
) -> DataFrame:
    """Scale-adaptive parallelism for compute-heavy row-local stages
    (r15, guide §2.5 "input skew"): when a scan plans FEWER input splits
    than the session's parallelism (the local fixtures are single small
    parquet files → one task → every per-row expression/UDF runs
    serially), round-robin repartition to the default parallelism so the
    expensive per-row work uses every core. On a real corpus the file
    count/split size already provides the parallelism, the condition is
    false, and NO exchange is added — the 100 TB plan is unchanged (an
    unconditional repartition here would be a full shuffle of the raw
    payload, the exact anti-pattern the no-text-exchange plan pins
    exist to catch).

    Only use under a row-local compute stage whose cost dominates one
    extra small-input exchange; never on a path whose plan contract
    forbids payload-bearing exchanges outright.

    ``key_path``: the parquet path ``df`` is a plain scan/projection of.
    When given (and local), the split count is COMPUTED from the file
    sizes with :func:`_estimate_splits` — pure driver arithmetic, no
    analysis pass at all (r16; the r15 shape still paid a full
    analysis+planning ``df.rdd`` probe, ~40-70 ms, on every memo miss).
    Split planning depends only on the files, the reader split confs
    and the parallelism floor, never on the projected columns or pushed
    filters. The count is recomputed per call: the file listing it needs
    is the whole cost, so memoizing the arithmetic would save nothing.
    Paths without ``key_path`` (non-scan frames, e.g. a checkpointed
    hub) keep the ``df.rdd`` probe fallback.

    ``rescue_only``: repartition only when the scan is SEVERELY
    under-split (n < parallelism/4, e.g. the single-file local fixture)
    instead of whenever n < parallelism. The r16 sf1 interleaved A/Bs
    split the spread sites into two empirical classes: embed/verify-class
    stages (per-row cost ≳100 µs — chunk embedding, pairwise cosine)
    win the payload exchange at ANY under-split ratio (sf1: 6.9→3.4 s,
    6.0→2.4 s), but tokenize/hash-class stages (md5 shingles, dhash,
    signature UDFs) LOSE it once the scan already has moderate
    parallelism (sf1, 10 splits on 32 cores: novelty 2.1→2.6 s wall with
    25→192 s summed executor time; components 4.5→5.0; dhash pairs
    15.9→19.3) — the exchange + round-robin pre-sort of the raw payload
    costs more than a 3× parallelism gain returns. Both modes stay
    no-ops at real corpus split counts."""
    par = spark.sparkContext.defaultParallelism
    want = max(1, par // 4) if rescue_only else par
    sig = None if key_path is None else _local_files_sig(key_path)
    n = None
    if sig is not None:
        max_part = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
        open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes", 4 << 20)
        min_pn = _conf_bytes(spark, "spark.sql.files.minPartitionNum", 0)
        if min_pn <= 0:
            min_pn = _conf_bytes(spark, "spark.sql.leafNodeDefaultParallelism", 0)
        if min_pn <= 0:
            min_pn = par
        if isinstance(sig[1], tuple):  # directory listing
            # mirror InMemoryFileIndex: skip a file when ANY path
            # component is _/. -prefixed (staging dirs, _SUCCESS, .crc),
            # keep every other DATA file regardless of suffix (r16
            # review: a suffix filter dropped non-Spark part files and
            # counted files under _temporary/)
            sizes = []
            for e in sig[1]:
                parts = [c for c in (e[0].split(os.sep) + [e[1]]) if c and c != "."]
                if any(c.startswith(("_", ".")) for c in parts):
                    continue
                sizes.append(e[3])
        else:  # bare file: (abspath, mtime_ns, size, ino)
            sizes = [sig[2]]
        # nothing visible to estimate from: fall back to the real probe
        # rather than guessing 0 splits
        if sizes:
            n = _estimate_splits(sizes, max_part, open_cost, min_pn)
    if n is None:
        try:
            n = df.rdd.getNumPartitions()
        except Exception:
            return df
    return df.repartition(par) if n < want else df


FORMATS = ("parquet", "csv", "json", "orc")


def write_table_as(df: DataFrame, path: str, fmt: str) -> None:
    """Write a table copy in another format (connector parity helper)."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    w = df.write.mode("overwrite")
    if fmt in ("csv", "json"):
        # ISO-8601 micros: both text writers default to millisecond
        # precision and would silently truncate event timestamps. NTZ
        # columns (what parquet micros now load as) use the separate
        # timestampNTZFormat option — set both.
        w = w.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        w = w.option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    if fmt == "csv":
        w = w.option("header", "true")
    getattr(w, fmt)(path)


def load_table_format(spark: SparkSession, path: str, fmt: str, schema=None) -> DataFrame:
    """Read a table in any supported format. Text formats (csv/json) take
    the authoritative schema explicitly — inference is both slow (extra
    pass) and lossy (ints vs longs, timestamp parsing), so at scale you
    always pass the schema."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    if fmt in ("csv", "json"):
        r = r.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        r = r.option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    if fmt == "csv":
        r = r.option("header", "true")
    return getattr(r, fmt)(path)


ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def register_tables(
    spark: SparkSession, sf_dir: str, prefix: str = ""
) -> list[str]:
    """Register every fixture table as a temp view so the whole engine
    surface is reachable from ``spark.sql(...)`` — the same declarative
    plans Catalyst builds for the DataFrame API, just SQL-authored.
    Returns the registered view names."""
    names = []
    for t in ALL_TABLES:
        name = f"{prefix}{t}"
        load_table(spark, sf_dir, t).createOrReplaceTempView(name)
        names.append(name)
    return names
