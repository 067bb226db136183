"""Connector parity: the engine is format-agnostic — any table read
through csv/json/orc yields the same rows and the same query results as
the parquet original (SURVEY.md §2.2: Spark's readers come for free; these
tests make the claim concrete)."""

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from oasysdb_spark.sources.tables import load_table, load_table_format, write_table_as


@pytest.mark.parametrize("fmt", ["csv", "json", "orc"])
def test_lineitem_roundtrip(spark, sf_dir, tmp_path, fmt):
    orig = load_table(spark, sf_dir, "lineitem")
    path = str(tmp_path / f"lineitem_{fmt}")
    write_table_as(orig, path, fmt)
    back = load_table_format(spark, path, fmt, schema=orig.schema)
    assert back.schema == orig.schema
    assert back.exceptAll(orig).count() == 0
    assert orig.exceptAll(back).count() == 0


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_events_timestamps_roundtrip(spark, sf_dir, tmp_path, fmt):
    """events has microsecond timestamps — the text formats must not
    truncate them."""
    orig = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    path = str(tmp_path / f"events_{fmt}")
    write_table_as(orig, path, fmt)
    back = load_table_format(spark, path, fmt, schema=orig.schema)
    assert back.exceptAll(orig).count() == 0
    assert orig.exceptAll(back).count() == 0


def test_query_results_format_agnostic(spark, sf_dir, tmp_path):
    """A real aggregation over the CSV copy equals the parquet answer."""
    orig = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_csv")
    write_table_as(orig, path, "csv")
    back = load_table_format(spark, path, "csv", schema=orig.schema)

    def agg(df):
        return sorted(
            (r["o_orderstatus"], r["n"], r["total"])
            for r in df.groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
            .collect()
        )

    assert agg(orig) == agg(back)


def test_unsupported_format_raises(spark, sf_dir, tmp_path):
    orig = load_table(spark, sf_dir, "region")
    with pytest.raises(ValueError, match="unsupported format"):
        write_table_as(orig, str(tmp_path / "x"), "avro")
    with pytest.raises(ValueError, match="unsupported format"):
        load_table_format(spark, str(tmp_path / "x"), "xml")


def test_versioned_table_time_travel_and_compaction(spark, tmp_path):
    """Micro-batch appends pile up small files; compact() rewrites the
    current version into few files behind the atomic pointer swap, and
    retained historical versions stay readable (VERSION AS OF)."""
    import os

    from pyspark.sql import functions as F

    from oasysdb_spark.core.tables import VersionedTable

    t = VersionedTable(str(tmp_path / "vt"))
    t.write(spark.range(0, 100).withColumn("v", F.col("id") * 2))
    for i in range(5):  # five appended micro-batches -> many small files
        t.append(spark.range(100 + i * 10, 110 + i * 10).withColumn("v", F.col("id") * 2))
    files_before = [
        f for f in os.listdir(t.current_path()) if f.endswith(".parquet")
    ]
    assert len(files_before) > 4

    v_pre = t.current_version()
    v2 = t.compact(spark, target_partitions=1)
    assert t.current_version() == v2
    files_after = [
        f for f in os.listdir(t.current_path()) if f.endswith(".parquet")
    ]
    assert len(files_after) == 1
    assert t.read(spark).count() == 150
    # the row multiset survives compaction
    assert t.read(spark).agg(F.sum("v")).first()[0] == sum(2 * i for i in range(150))

    # time travel: the pre-compaction version (incl. the appends) is retained
    assert v_pre in t.versions()
    assert t.read_version(spark, v_pre).count() == 150
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t.read_version(spark, "v999999")


def test_register_tables_sql_surface(spark, sf_dir):
    """spark.sql over the registered views produces the same results as
    the DataFrame-built operator (same Catalyst plans, SQL-authored)."""
    from oasysdb_spark.operators import relational as rel
    from oasysdb_spark.sources.tables import ALL_TABLES, register_tables

    names = register_tables(spark, sf_dir)
    assert names == list(ALL_TABLES)
    assert spark.sql("SELECT count(*) n FROM lineitem").first()["n"] > 0

    got = {
        (r["l_returnflag"], r["l_linestatus"]): r["count_order"]
        for r in spark.sql(
            """SELECT l_returnflag, l_linestatus, count(*) AS count_order
               FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
               GROUP BY l_returnflag, l_linestatus"""
        ).collect()
    }
    want = {
        (r["l_returnflag"], r["l_linestatus"]): r["count_order"]
        for r in rel.q1_pricing_summary(spark, sf_dir).collect()
    }
    assert got == want


def test_append_rejects_schema_mismatch(spark, tmp_path):
    """A wrong-schema append must fail BEFORE any file lands (it would
    silently poison the live version directory otherwise)."""
    from pyspark.sql import functions as F

    from oasysdb_spark.core.tables import VersionedTable

    t = VersionedTable(str(tmp_path / "vt2"))
    t.write(spark.range(5).withColumn("v", F.col("id").cast("double")))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(spark.range(5).withColumn("v", F.lit("oops")))
    # matching schema still appends, in any column order
    t.append(
        spark.range(5, 8)
        .withColumn("v", F.col("id").cast("double"))
        .select("v", "id")
    )
    assert t.read(spark).count() == 8


def _wet_record(rid, uri, text, rtype="conversion"):
    body = text.encode("utf-8")
    head = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {rtype}\r\n"
        f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"WARC-Date: 2026-01-01T00:00:00Z\r\n"
        f"Content-Length: {len(body)}\r\n"
        f"\r\n"
    ).encode("utf-8")
    return head + body + b"\r\n\r\n"


def test_wet_corpus_parses_plain_and_multimember_gzip(spark, tmp_path):
    """WET framing honored exactly (Content-Length, CRLF separators),
    warcinfo records skipped, multi-member gzip (the Common Crawl
    layout) decompressed, and the documents-shaped view composes."""
    import gzip

    from oasysdb_spark.sources import corpus

    recs = (
        _wet_record("w0", "", "robots: classic", rtype="warcinfo")
        + _wet_record("a1", "https://example.com/a", "alpha doc text")
        + _wet_record("b2", "https://other.net/b", "beta doc text\nwith lines")
    )
    (tmp_path / "f1.warc.wet").write_bytes(recs)
    # per-record gzip members concatenated, exactly like CC WET files
    members = b"".join(
        gzip.compress(_wet_record(f"g{i}", f"https://gz.org/{i}", f"gz doc {i}"))
        for i in range(3)
    )
    (tmp_path / "f2.warc.wet.gz").write_bytes(members)

    wet = corpus.read_wet_corpus(spark, str(tmp_path)).collect()
    got = {r["record_id"]: r for r in wet if r["record_id"]}
    assert len(got) == 5  # warcinfo skipped
    assert got["<urn:uuid:a1>"]["text"] == "alpha doc text"
    assert got["<urn:uuid:b2>"]["n_bytes"] == len(b"beta doc text\nwith lines")
    assert all(r["n_malformed"] == 0 for r in wet)

    docs = corpus.wet_to_documents(corpus.read_wet_corpus(spark, str(tmp_path)))
    rows = {r["source"] for r in docs.collect()}
    assert {"example.com", "other.net", "gz.org"} == rows
    assert docs.count() == 5
    assert dict(docs.dtypes)["doc_id"] == "bigint"


def test_wet_corpus_surfaces_malformed_without_failing(spark, tmp_path):
    """Truncated payloads and garbage framing raise the per-file
    malformed count; a wholly-corrupt file still emits its marker row
    instead of disappearing."""
    from oasysdb_spark.sources import corpus

    good = _wet_record("ok", "https://x.org/ok", "fine")
    truncated = _wet_record("cut", "https://x.org/cut", "this body is long")[:-12]
    (tmp_path / "mixed.warc.wet").write_bytes(good + truncated)
    (tmp_path / "garbage.warc.wet").write_bytes(b"not a warc at all")

    rows = corpus.read_wet_corpus(spark, str(tmp_path)).collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r["file"].rsplit("/", 1)[-1], []).append(r)
    mixed = by_file["mixed.warc.wet"]
    assert [r["record_id"] for r in mixed if r["record_id"]] == ["<urn:uuid:ok>"]
    assert all(r["n_malformed"] == 1 for r in mixed)
    garbage = by_file["garbage.warc.wet"]
    assert len(garbage) == 1 and garbage[0]["record_id"] is None
    assert garbage[0]["n_malformed"] == 1


def test_jsonl_corpus_quarantines_corrupt_and_all_null(spark, tmp_path):
    """PERMISSIVE jsonl read: parse failures AND schema-drifted
    (all-null) lines land in quarantine with the raw line; clean rows
    come out typed. Gzipped input reads identically."""
    import gzip
    import json as _json

    from oasysdb_spark.sources import corpus

    lines = [
        _json.dumps({"doc_id": 1, "text": "good one", "lang": "en", "source": "web"}),
        '{"doc_id": 2, "text": "broken',  # parse failure
        _json.dumps({"id": 3, "body": "renamed keys"}),  # schema drift
        _json.dumps({"doc_id": 4, "text": "also good", "lang": "fr", "source": "book"}),
    ]
    (tmp_path / "a.jsonl").write_text("\n".join(lines))
    clean, quar = corpus.read_jsonl_corpus(spark, str(tmp_path / "a.jsonl"))
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 4]
    assert quar.count() == 2
    qr = quar.collect()
    # the parse failure carries its raw line; the schema-drift line
    # parsed fine (so no corrupt column) but is all-null on our schema
    assert sum(1 for r in qr if r["_corrupt_record"] is not None) == 1
    assert sum(1 for r in qr if r["_corrupt_record"] is None) == 1
    # same corpus gzipped parses identically
    (tmp_path / "b.jsonl.gz").write_bytes(
        gzip.compress("\n".join(lines).encode())
    )
    clean_gz, quar_gz = corpus.read_jsonl_corpus(spark, str(tmp_path / "b.jsonl.gz"))
    assert sorted(r["doc_id"] for r in clean_gz.collect()) == [1, 4]
    assert quar_gz.count() == 2


def test_wet_parser_framing_edge_cases(spark, tmp_path):
    """Review-pinned parser hazards: LF-framed records survive alongside
    CRLF-framed ones (earlier-separator rule), negative Content-Length
    routes to malformed instead of looping/wrapping, and a corrupt gzip
    member degrades to the malformed count instead of raising."""
    import gzip

    from oasysdb_spark.sources import corpus

    # LF-framed record followed by a CRLF-framed one: both must emerge
    lf_rec = (
        b"WARC/1.0\n"
        b"WARC-Type: conversion\n"
        b"WARC-Record-ID: <urn:uuid:lf1>\n"
        b"Content-Length: 7\n"
        b"\n"
        b"lf body"
        b"\n\n"
    )
    crlf_rec = _wet_record("cr1", "https://x.org/c", "crlf body")
    recs, bad = corpus.parse_wet_records(lf_rec + crlf_rec)
    assert [r["record_id"] for r in recs] == ["<urn:uuid:lf1>", "<urn:uuid:cr1>"]
    assert recs[0]["text"] == "lf body" and bad == 0

    # negative Content-Length: malformed, parser terminates
    neg = (
        b"WARC/1.0\r\n"
        b"WARC-Type: conversion\r\n"
        b"Content-Length: -47\r\n"
        b"\r\n"
    )
    recs, bad = corpus.parse_wet_records(neg + crlf_rec)
    assert bad == 1 and [r["record_id"] for r in recs] == ["<urn:uuid:cr1>"]

    # corrupt second gzip member: first member's records survive
    good_gz = gzip.compress(_wet_record("g1", "https://x.org/g", "gz body"))
    corrupt = good_gz + b"\x1f\x8b" + b"\xde\xad\xbe\xef" * 4
    (tmp_path / "c.warc.wet.gz").write_bytes(corrupt)
    rows = corpus.read_wet_corpus(spark, str(tmp_path / "c.warc.wet.gz")).collect()
    assert [r["record_id"] for r in rows] == ["<urn:uuid:g1>"]

    # mixed-case scheme still buckets to host
    up = _wet_record("up1", "HTTPS://Example.COM/x", "upper scheme")
    (tmp_path / "u.warc.wet").write_bytes(up)
    docs = corpus.wet_to_documents(
        corpus.read_wet_corpus(spark, str(tmp_path / "u.warc.wet"))
    ).collect()
    assert docs[0]["source"] == "Example.COM"


def test_jdbc_roundtrip_embedded_derby(spark, sf_dir, tmp_path):
    """External-DB sourcing via Spark's JDBC connector (the reference
    family's v0.7 had SQLite/Postgres ingestion,
    /root/reference/docs/changelog.md:41-64): round-trip the region
    table through an embedded Derby database — write with the JDBC
    sink, read back with the JDBC source, values and schema intact.
    Derby runs in-process (no network), but the connector path
    (DriverManager, dialect mapping, predicate-capable reader) is the
    same one a Postgres URL would take on a cluster."""
    db = str(tmp_path / "jdbc_db")
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}

    src = spark.read.parquet(f"{sf_dir}/region.parquet")
    src.write.jdbc(url, "region_rt", mode="overwrite", properties=props)

    back = spark.read.jdbc(url, "region_rt", properties=props)
    assert sorted(back.columns) == sorted(src.columns)
    want = sorted(tuple(r) for r in src.collect())
    got = sorted(tuple(r) for r in back.collect())
    assert got == want

    # predicate pushdown survives the connector: a filtered read returns
    # the filtered subset (the JDBC reader compiles the WHERE clause)
    one = spark.read.jdbc(
        url,
        "region_rt",
        properties=props,
        # quoted: the writer created case-preserved (quoted) identifiers,
        # so an unquoted predicate would resolve to Derby's uppercase
        predicates=['"r_regionkey" = 1'],
    ).collect()
    assert len(one) == 1 and one[0]["r_regionkey"] == 1


def test_from_jdbc_full_lifecycle_embedded_derby(spark, tmp_path, capsys):
    """Database.from_jdbc closes the v0.7 changelog lineage (records
    sourced from a SQL database with metadata pre-filtering,
    /root/reference/docs/changelog.md:41-64): a Derby table with
    JSON-text vectors and typed metadata columns loads through the JDBC
    connector into a configured database — dimension inferred from one
    probed row, WHERE pre-filter applied connector-side, IVF tier built
    in the one-pass source fast path — and serves queries/gets. A
    wrong-dimension row refuses with the typed error; the CLI verb runs
    the same path end to end."""
    import json as _json

    from pyspark.sql import functions as F

    from oasysdb_spark import cli, errors
    from oasysdb_spark.core.database import Database

    dbdir = str(tmp_path / "derby_store")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}

    src = spark.createDataFrame(
        [
            (f"r{i}", [float(i), float(i % 3)], i, f"lang{i % 2}", i % 2 == 0)
            for i in range(40)
        ],
        "id string, vec array<double>, label int, lang string, flag boolean",
    ).select(
        "id", F.to_json("vec").alias("embedding"), "label", "lang", "flag"
    )
    src.write.jdbc(url, "vectors", mode="overwrite", properties=props)

    # library path: pre-filter keeps label < 30, dimension inferred
    d1 = str(tmp_path / "db1")
    db = Database.from_jdbc(
        spark, d1, url, "vectors",
        properties=props, where="label < 30", density=8,
    )
    assert db.count() == 30
    assert db.params.dimension == 2
    assert db.is_indexed()
    hits = db.query_df([5.0, 2.0], k=3).collect()
    assert hits[0]["id"] == "r5"  # exact match is nearest
    rec = db.get("r7")
    assert rec["metadata"] == {"label": 7.0, "lang": "lang1", "flag": False}

    # a wrong-dimension row refuses with the typed error (in-task guard)
    bad = spark.createDataFrame(
        [("b0", "[1.0, 2.0]", 0), ("b1", "[1.0, 2.0, 3.0]", 1)],
        "id string, embedding string, label int",
    )
    bad.write.jdbc(url, "bad_vectors", mode="overwrite", properties=props)
    with pytest.raises(errors.InvalidArgumentError, match="dimension"):
        Database.from_jdbc(
            spark, str(tmp_path / "db2"), url, "bad_vectors",
            dimension=2, properties=props, density=8,
        )
    # unparseable vector text also fails the guard, not silently loads
    ugly = spark.createDataFrame(
        [("u0", "[1.0, 2.0]",), ("u1", "not json",)],
        "id string, embedding string",
    )
    ugly.write.jdbc(url, "ugly_vectors", mode="overwrite", properties=props)
    with pytest.raises(errors.InvalidArgumentError, match="dimension"):
        Database.from_jdbc(
            spark, str(tmp_path / "db3"), url, "ugly_vectors",
            dimension=2, properties=props, density=8,
        )
    # a NULL ELEMENT keeps the declared size but would NaN-poison every
    # distance kernel downstream — the guard refuses it too (r12 review)
    holey = spark.createDataFrame(
        [("h0", "[1.0, 2.0]",), ("h1", "[1.0, null]",)],
        "id string, embedding string",
    )
    holey.write.jdbc(url, "holey_vectors", mode="overwrite", properties=props)
    with pytest.raises(errors.InvalidArgumentError, match="dimension"):
        Database.from_jdbc(
            spark, str(tmp_path / "db3b"), url, "holey_vectors",
            dimension=2, properties=props, density=8,
        )

    # CLI verb: same path end to end, summary JSON on stdout
    d4 = str(tmp_path / "db4")
    rc = cli.main([
        "from-jdbc", "--dir", d4, "--url", url, "--table", "vectors",
        "--driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver",
        "--density", "8",
    ])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["ok"] is True
    assert out["count"] == 40 and out["dimension"] == 2 and out["indexed"]


def test_sync_jdbc_incremental_watermark_lifecycle(spark, tmp_path, capsys):
    """sync_jdbc is the operational half of the v0.7 SQL-sourcing
    lineage: the SQL table stays the system of record; the engine pulls
    only rows past the persisted high-water mark, appends them through
    the validated ingest path (cluster assignment included), and
    advances the mark AFTER the append commits. Pins: incremental
    counts, watermark filter (no re-reads), crash-replay idempotence
    via the id anti-join, no-new-rows fast exit, mixed-stream refusal,
    and the CLI verb."""
    import json as _json

    from pyspark.sql import functions as F

    from oasysdb_spark import cli, errors
    from oasysdb_spark.core.database import Database

    dbdir = str(tmp_path / "derby_sync")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}

    def rows(lo, hi):
        return spark.createDataFrame(
            [(f"r{i}", [float(i), float(i % 5)], i) for i in range(lo, hi)],
            "id string, vec array<double>, seq int",
        ).select("id", F.to_json("vec").alias("embedding"), "seq")

    rows(0, 30).write.jdbc(url, "vectors", mode="overwrite", properties=props)

    d1 = str(tmp_path / "db1")
    db = Database.from_jdbc(
        spark, d1, url, "vectors", properties=props, density=8,
    )
    assert db.count() == 30 and db.is_indexed()

    # first sync: nothing new past the baseline... except from_jdbc does
    # not itself write sync state — the FIRST sync baselines by reading
    # everything past no mark, and the id anti-join collapses the rows
    # the bulk load already ingested (exactly-once end to end)
    assert db.sync_jdbc(
        url, "vectors", watermark_col="seq", properties=props
    ) == 0
    state = _json.loads(
        open(f"{d1}/jdbc_sync.json", encoding="utf-8").read()
    )
    assert state["high"] == 29

    # append to the SQL side, sync: only the new rows land, assigned to
    # clusters through the standard ingest path
    rows(30, 42).write.jdbc(url, "vectors", mode="append", properties=props)
    assert db.sync_jdbc(
        url, "vectors", watermark_col="seq", properties=props
    ) == 12
    assert db.count() == 42
    # the watermark column is the sync mechanism, excluded from default
    # metadata (temporal marks are outside the metadata enum); carrying
    # a numeric mark as metadata is an explicit metadata_cols opt-in
    assert db.get("r41")["metadata"] == {}
    hits = db.query_df([41.0, 1.0], k=1).collect()
    assert hits[0]["id"] == "r41"

    # idempotent: nothing new → 0, mark unchanged
    assert db.sync_jdbc(
        url, "vectors", watermark_col="seq", properties=props
    ) == 0

    # crash replay: roll the mark back (the append-committed-but-mark-
    # unwritten crash), re-sync — the anti-join drops every replayed id
    import oasysdb_spark.core.config as cfg

    cfg.atomic_write_text(
        f"{d1}/jdbc_sync.json",
        _json.dumps({"url": url, "table": "vectors", "watermark_col": "seq",
                     "where": None, "high": 35,
                     "high_is_timestamp": False}),
    )
    assert db.sync_jdbc(
        url, "vectors", watermark_col="seq", properties=props
    ) == 0
    assert db.count() == 42  # no duplicates
    # ...and the fully-collapsed replay still CONSUMED its window
    assert _json.loads(
        open(f"{d1}/jdbc_sync.json", encoding="utf-8").read()
    )["high"] == 41

    # mixing streams refuses with the typed error — a different table,
    # and ALSO a different where-filter under the same table (a loosened
    # pre-filter under an advanced mark would silently gap the stream)
    with pytest.raises(errors.InvalidArgumentError, match="sync state"):
        db.sync_jdbc(url, "other_table", watermark_col="seq", properties=props)
    with pytest.raises(errors.InvalidArgumentError, match="sync state"):
        db.sync_jdbc(url, "vectors", watermark_col="seq",
                     where="seq >= 0", properties=props)

    # CLI verb end to end
    rows(42, 45).write.jdbc(url, "vectors", mode="append", properties=props)
    rc = cli.main([
        "sync-jdbc", "--dir", d1, "--url", url, "--table", "vectors",
        "--watermark-col", "seq",
        "--driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver",
    ])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["ingested"] == 3 and out["count"] == 45

    # TIMESTAMP watermark (the review's Derby 42818 concern): the mark
    # round-trips as a typed TIMESTAMP literal and the column is
    # auto-excluded from metadata (temporal types are outside the enum)
    ts_rows = spark.createDataFrame(
        [(f"t{i}", [float(i), 0.0], f"2026-01-0{i + 1} 10:00:00.00{i}")
         for i in range(3)],
        "id string, vec array<double>, ins string",
    ).select(
        "id", F.to_json("vec").alias("embedding"),
        F.col("ins").cast("timestamp").alias("inserted_at"),
    )
    ts_rows.write.jdbc(url, "ts_vectors", mode="overwrite", properties=props)
    d2 = str(tmp_path / "db_ts")
    db2 = Database.configure(spark, d2, dimension=2, density=8)
    assert db2.sync_jdbc(
        url, "ts_vectors", watermark_col="inserted_at", properties=props
    ) == 3
    assert db2.get("t2")["metadata"] == {}  # watermark not metadata
    more = spark.createDataFrame(
        [("t9", [9.0, 0.0], "2026-02-01 10:00:00.5")],
        "id string, vec array<double>, ins string",
    ).select(
        "id", F.to_json("vec").alias("embedding"),
        F.col("ins").cast("timestamp").alias("inserted_at"),
    )
    more.write.jdbc(url, "ts_vectors", mode="append", properties=props)
    assert db2.sync_jdbc(
        url, "ts_vectors", watermark_col="inserted_at", properties=props
    ) == 1
    assert db2.count() == 4
    assert db2.sync_jdbc(
        url, "ts_vectors", watermark_col="inserted_at", properties=props
    ) == 0


def test_sync_jdbc_tied_watermark_and_typed_kinds(spark, tmp_path):
    """r12 ADVICE hardening of the sync contract. (1) TIED marks: a row
    that commits under the current max AFTER a sync read it must not be
    lost — under dedup_ids the scan's lower bound is INCLUSIVE and the
    id anti-join collapses the boundary re-read; with dedup_ids=False
    the bound stays strict and the tied late arrival is (documentedly)
    invisible. (2) Typed marks: NUMERIC/DECIMAL and DATE watermark
    columns previously fell into the TIMESTAMP-literal guess, which
    crashed the NEXT sync's predicate parse — each kind now renders its
    own literal and round-trips through persisted state."""
    import json as _json

    from pyspark.sql import functions as F

    from oasysdb_spark.core.database import Database

    dbdir = str(tmp_path / "derby_tied")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}

    def vecs(ids_marks, mark_expr):
        return spark.createDataFrame(
            [(i, [float(n), 0.0], m) for n, (i, m) in enumerate(ids_marks)],
            "id string, vec array<double>, m string",
        ).select(
            "id", F.to_json("vec").alias("embedding"), mark_expr.alias("wm")
        )

    # --- tied integer watermark: late commit under the current max ---
    ints = F.col("m").cast("int")
    vecs([("a1", "1"), ("a2", "1"), ("a3", "2")], ints).write.jdbc(
        url, "tied_v", mode="overwrite", properties=props
    )
    d1 = str(tmp_path / "db_tied")
    db = Database.configure(spark, d1, dimension=2, density=8)
    assert db.sync_jdbc(url, "tied_v", watermark_col="wm", properties=props) == 3
    # a4 lands with wm == the persisted mark (a tie the strict scan
    # would skip forever); the inclusive scan + anti-join recovers it
    vecs([("a4", "2")], ints).write.jdbc(
        url, "tied_v", mode="append", properties=props
    )
    assert db.sync_jdbc(url, "tied_v", watermark_col="wm", properties=props) == 1
    assert db.count() == 4
    # idempotent: the boundary re-read fully collapses
    assert db.sync_jdbc(url, "tied_v", watermark_col="wm", properties=props) == 0
    # dedup_ids=False hardens to strictly-increasing marks: a tied late
    # arrival is invisible (the documented contract)...
    vecs([("a5", "2")], ints).write.jdbc(
        url, "tied_v", mode="append", properties=props
    )
    assert db.sync_jdbc(
        url, "tied_v", watermark_col="wm", properties=props, dedup_ids=False
    ) == 0
    # ...and the next dedup sync recovers it
    assert db.sync_jdbc(url, "tied_v", watermark_col="wm", properties=props) == 1
    assert db.count() == 5

    # --- DECIMAL watermark (Derby NUMERIC): bare-numeric literal ---
    decs = F.col("m").cast("decimal(10,2)")
    vecs([("d1", "1.25"), ("d2", "2.50")], decs).write.jdbc(
        url, "dec_v", mode="overwrite", properties=props
    )
    d2 = str(tmp_path / "db_dec")
    db2 = Database.configure(spark, d2, dimension=2, density=8)
    assert db2.sync_jdbc(url, "dec_v", watermark_col="wm", properties=props) == 2
    state = _json.loads(open(f"{d2}/jdbc_sync.json", encoding="utf-8").read())
    assert state["high_kind"] == "num" and state["high"] == "2.50"
    # the next sync parses the persisted decimal mark back into a bare
    # numeric predicate (the old code rendered TIMESTAMP '2.50' here
    # and crashed on the remote parse)
    vecs([("d3", "3.75")], decs).write.jdbc(
        url, "dec_v", mode="append", properties=props
    )
    assert db2.sync_jdbc(url, "dec_v", watermark_col="wm", properties=props) == 1
    assert db2.count() == 3

    # --- DATE watermark: typed DATE literal ---
    dates = F.col("m").cast("date")
    vecs([("e1", "2026-01-01"), ("e2", "2026-01-02")], dates).write.jdbc(
        url, "date_v", mode="overwrite", properties=props
    )
    d3 = str(tmp_path / "db_date")
    db3 = Database.configure(spark, d3, dimension=2, density=8)
    assert db3.sync_jdbc(url, "date_v", watermark_col="wm", properties=props) == 2
    state = _json.loads(open(f"{d3}/jdbc_sync.json", encoding="utf-8").read())
    assert state["high_kind"] == "date" and state["high"] == "2026-01-02"
    vecs([("e3", "2026-01-03")], dates).write.jdbc(
        url, "date_v", mode="append", properties=props
    )
    assert db3.sync_jdbc(url, "date_v", watermark_col="wm", properties=props) == 1
    assert db3.count() == 3


def test_sync_jdbc_dedup_fallback_and_parallel_range(spark, tmp_path):
    """r12 verdict hazards 1+2. (1) The crash-replay dedup broadcast is
    count-guarded: an incoming batch above dedup_broadcast_limit
    anti-joins SHUFFLED instead of shipping an unbounded id set to
    every executor — forced here with a tiny limit and pinned
    output-equal to the broadcast path (the decontamination twins'
    fallback pattern). (2) num_partitions reads the batch window as N
    parallel range queries with exact typed cut literals — pinned
    state- and content-equal to the single-connection sync, for both a
    fresh baseline (window = [min, max]) and an incremental window
    (persisted mark exclusive/inclusive bound); a string watermark
    refuses num_partitions with the typed error."""
    import json as _json

    import pytest as _pytest

    from pyspark.sql import functions as F

    from oasysdb_spark import errors
    from oasysdb_spark.core.database import Database

    dbdir = str(tmp_path / "derby_fb")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}

    def rows(lo, hi):
        return spark.createDataFrame(
            [(f"r{i}", [float(i), float(i % 5)], i) for i in range(lo, hi)],
            "id string, vec array<double>, seq int",
        ).select("id", F.to_json("vec").alias("embedding"), "seq")

    rows(0, 10).write.jdbc(url, "fb_v", mode="overwrite", properties=props)

    def ids(db):
        return sorted(r["id"] for r in db.records_df().select("id").collect())

    # two identical databases; replay the same overlapping window into
    # both — one through the forced shuffled fallback, one broadcast
    dbs = {}
    for name, limit in (("bcast", 100_000), ("shuffled", 1)):
        d = str(tmp_path / f"db_{name}")
        db = Database.configure(spark, d, dimension=2, density=8)
        assert db.sync_jdbc(
            url, "fb_v", watermark_col="seq", properties=props,
            dedup_broadcast_limit=limit,
        ) == 10
        # roll the mark back (append-committed-but-mark-unwritten crash)
        import oasysdb_spark.core.config as cfg

        cfg.atomic_write_text(
            f"{d}/jdbc_sync.json",
            _json.dumps({"url": url, "table": "fb_v", "watermark_col": "seq",
                         "where": None, "high": 4, "high_kind": "num"}),
        )
        dbs[name] = db
    rows(10, 13).write.jdbc(url, "fb_v", mode="append", properties=props)
    for name, limit in (("bcast", 100_000), ("shuffled", 1)):
        assert dbs[name].sync_jdbc(
            url, "fb_v", watermark_col="seq", properties=props,
            dedup_broadcast_limit=limit,
        ) == 3
        assert dbs[name].count() == 13
    assert ids(dbs["bcast"]) == ids(dbs["shuffled"])

    # --- parallel-range batch read: fresh baseline + incremental ---
    rows(0, 20).write.jdbc(url, "np_v", mode="overwrite", properties=props)
    d_np = str(tmp_path / "db_np")
    d_plain = str(tmp_path / "db_plain")
    db_np = Database.configure(spark, d_np, dimension=2, density=8)
    db_plain = Database.configure(spark, d_plain, dimension=2, density=8)
    assert db_np.sync_jdbc(
        url, "np_v", watermark_col="seq", properties=props, num_partitions=4
    ) == 20
    assert db_plain.sync_jdbc(
        url, "np_v", watermark_col="seq", properties=props
    ) == 20
    rows(20, 30).write.jdbc(url, "np_v", mode="append", properties=props)
    assert db_np.sync_jdbc(
        url, "np_v", watermark_col="seq", properties=props, num_partitions=3
    ) == 10
    assert db_plain.sync_jdbc(
        url, "np_v", watermark_col="seq", properties=props
    ) == 10
    assert ids(db_np) == ids(db_plain)
    s_np = _json.loads(open(f"{d_np}/jdbc_sync.json", encoding="utf-8").read())
    s_plain = _json.loads(
        open(f"{d_plain}/jdbc_sync.json", encoding="utf-8").read()
    )
    assert s_np["high"] == s_plain["high"] == 29
    assert s_np["high_kind"] == "num"

    # timestamp window splits on interpolated TIMESTAMP cut literals
    ts_rows = spark.createDataFrame(
        [(f"t{i}", [float(i), 0.0], f"2026-01-01 10:00:0{i}.25") for i in range(6)],
        "id string, vec array<double>, ins string",
    ).select(
        "id", F.to_json("vec").alias("embedding"),
        F.col("ins").cast("timestamp").alias("inserted_at"),
    )
    ts_rows.write.jdbc(url, "tsnp_v", mode="overwrite", properties=props)
    d_ts = str(tmp_path / "db_tsnp")
    db_ts = Database.configure(spark, d_ts, dimension=2, density=8)
    assert db_ts.sync_jdbc(
        url, "tsnp_v", watermark_col="inserted_at", properties=props,
        num_partitions=2,
    ) == 6

    # the remote one-row MIN/MAX aggregate subquery (the partitioned
    # path's bounds source) parses on the remote — including a JDBC
    # {ts} escape literal in its pushed-down filter. Pinned directly so
    # the silent client-side fallback can't mask a remote-dialect break
    from oasysdb_spark.sources.jdbc import remote_watermark_minmax

    lo_hi = remote_watermark_minmax(
        spark, url, "np_v", "seq", properties=props,
        where_remote='"seq" > 4',
    )
    assert (lo_hi[0], lo_hi[1]) == (5, 29)
    ts_lo, ts_hi = remote_watermark_minmax(
        spark, url, "tsnp_v", "inserted_at", properties=props,
        where_remote="\"inserted_at\" > {ts '2026-01-01 10:00:01.25'}",
    )
    assert str(ts_lo).startswith("2026-01-01 10:00:02")
    assert str(ts_hi).startswith("2026-01-01 10:00:05")

    # a string watermark cannot range-split: typed refusal
    str_rows = spark.createDataFrame(
        [("s1", [1.0, 0.0], "aa"), ("s2", [2.0, 0.0], "bb")],
        "id string, vec array<double>, wm string",
    ).select("id", F.to_json("vec").alias("embedding"), "wm")
    # Derby quirk: Spark's writer maps StringType to CLOB, which Derby
    # cannot compare against a literal — declare the mark VARCHAR (a
    # real string key column would be VARCHAR anywhere)
    str_rows.write.option(
        "createTableColumnTypes",
        "id VARCHAR(10), embedding VARCHAR(100), wm VARCHAR(10)",
    ).jdbc(url, "str_v", mode="overwrite", properties=props)
    d_str = str(tmp_path / "db_str")
    db_str = Database.configure(spark, d_str, dimension=2, density=8)
    with _pytest.raises(errors.InvalidArgumentError, match="range-partition"):
        db_str.sync_jdbc(
            url, "str_v", watermark_col="wm", properties=props,
            num_partitions=2,
        )
    # ...but syncs fine single-connection (quoted-literal ordering)
    assert db_str.sync_jdbc(
        url, "str_v", watermark_col="wm", properties=props
    ) == 2


def test_from_jdbc_watermark_composition(spark, tmp_path):
    """r12 ADVICE #4: the documented from_jdbc-then-sync_jdbc
    composition works out of the box when the load declares the
    watermark column — it is excluded from the DEFAULT metadata set on
    BOTH paths (a timestamp mark previously crashed the bulk load's
    metadata typing; a numeric mark produced a schema the synced rows
    lacked), and the sync state seeds at the loaded max so the first
    sync reads only newer rows instead of re-pulling the table.
    predicates + watermark_col refuses (predicate-dropped rows would
    sit below the seeded mark and never sync)."""
    import json as _json

    import pytest as _pytest

    from pyspark.sql import functions as F

    from oasysdb_spark import errors
    from oasysdb_spark.core.database import Database

    dbdir = str(tmp_path / "derby_comp")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}

    def rows(lo, hi):
        return spark.createDataFrame(
            [(f"r{i}", [float(i), 0.0], i % 3,
              f"2026-01-01 10:00:{i:02d}") for i in range(lo, hi)],
            "id string, vec array<double>, label int, ins string",
        ).select(
            "id", F.to_json("vec").alias("embedding"), "label",
            F.col("ins").cast("timestamp").alias("inserted_at"),
        )

    rows(0, 12).write.jdbc(url, "comp_v", mode="overwrite", properties=props)

    # a TIMESTAMP watermark in the default metadata set used to refuse
    # the whole bulk load (unsupported metadata type); declaring it
    # excludes it on the same rule sync uses
    d1 = str(tmp_path / "db_comp")
    db = Database.from_jdbc(
        spark, d1, url, "comp_v", properties=props, density=8,
        watermark_col="inserted_at",
    )
    assert db.count() == 12
    assert db.get("r3")["metadata"] == {"label": 0.0}

    # state seeded at the loaded max: the first sync is incremental
    state = _json.loads(open(f"{d1}/jdbc_sync.json", encoding="utf-8").read())
    assert state["high_kind"] == "ts"
    assert state["high"].startswith("2026-01-01 10:00:11")
    assert db.sync_jdbc(
        url, "comp_v", watermark_col="inserted_at", properties=props
    ) == 0
    rows(12, 15).write.jdbc(url, "comp_v", mode="append", properties=props)
    assert db.sync_jdbc(
        url, "comp_v", watermark_col="inserted_at", properties=props
    ) == 3
    assert db.count() == 15
    # bulk-loaded and synced rows carry the SAME metadata schema
    assert db.get("r13")["metadata"] == {"label": 1.0}

    # numeric watermark: consistent m_num maps across both paths (the
    # old default carried the mark as metadata on the bulk rows only)
    num_rows = spark.createDataFrame(
        [(f"n{i}", [float(i), 0.0], i, i * 10) for i in range(5)],
        "id string, vec array<double>, seq int, score int",
    ).select(
        "id", F.to_json("vec").alias("embedding"), "seq", "score",
    )
    num_rows.write.jdbc(url, "nc_v", mode="overwrite", properties=props)
    d2 = str(tmp_path / "db_nc")
    db2 = Database.from_jdbc(
        spark, d2, url, "nc_v", properties=props, density=8,
        watermark_col="seq",
    )
    assert db2.get("n2")["metadata"] == {"score": 20.0}
    spark.createDataFrame(
        [("n9", [9.0, 0.0], 9, 90)],
        "id string, vec array<double>, seq int, score int",
    ).select(
        "id", F.to_json("vec").alias("embedding"), "seq", "score"
    ).write.jdbc(url, "nc_v", mode="append", properties=props)
    assert db2.sync_jdbc(
        url, "nc_v", watermark_col="seq", properties=props
    ) == 1
    assert db2.get("n9")["metadata"] == {"score": 90.0}

    # predicates drop rows; combining them with a seeded mark would gap
    with _pytest.raises(errors.InvalidArgumentError, match="predicates"):
        Database.from_jdbc(
            spark, str(tmp_path / "db_bad"), url, "nc_v",
            properties=props, density=8, watermark_col="seq",
            predicates=['"seq" < 3'],
        )


def test_from_jdbc_dimension_inference_guard(spark, tmp_path):
    """r12 ADVICE #3: dimension inference must hit the explicit
    cannot-infer message — not Parameters' generic 'dimension must be
    positive' — when the first probed vector is unparseable (size of a
    NULL embedding is -1 under legacy sizeOfNull / NULL under ANSI) or
    an empty array (size 0)."""
    import pytest as _pytest

    from oasysdb_spark import errors
    from oasysdb_spark.core.database import Database

    dbdir = str(tmp_path / "derby_dim")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}

    spark.createDataFrame(
        [("u0", "not json")], "id string, embedding string"
    ).write.jdbc(url, "all_ugly", mode="overwrite", properties=props)
    with _pytest.raises(errors.InvalidArgumentError, match="cannot infer"):
        Database.from_jdbc(
            spark, str(tmp_path / "db_u"), url, "all_ugly",
            properties=props, density=8,
        )

    spark.createDataFrame(
        [("z0", "[]")], "id string, embedding string"
    ).write.jdbc(url, "all_empty", mode="overwrite", properties=props)
    with _pytest.raises(errors.InvalidArgumentError, match="cannot infer"):
        Database.from_jdbc(
            spark, str(tmp_path / "db_z"), url, "all_empty",
            properties=props, density=8,
        )


def test_reconcile_jdbc_full_lifecycle(spark, tmp_path, capsys):
    """reconcile_jdbc closes the one user-visible gap of the append-only
    watermark sync (r12 verdict "What's missing" #2): UPDATEs and
    DELETEs in the SQL system of record propagate. Lifecycle: bulk-load,
    mutate the source (insert + delete + update of BOTH vector and
    metadata), reconcile — counts match the mutation, the records table
    is content-equal to a fresh from_jdbc of the mutated source, a
    second reconcile is a zero-change no-op, the forced shuffled apply
    path produces the same state, a live sync stream's watermark column
    is auto-excluded from the fingerprint metadata, and the CLI verb
    runs end to end."""
    import json as _json

    from pyspark.sql import functions as F

    from oasysdb_spark import cli
    from oasysdb_spark.core.database import Database

    dbdir = str(tmp_path / "derby_recon")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}

    def frame(rows):
        return spark.createDataFrame(
            rows, "id string, vec array<double>, label int"
        ).select("id", F.to_json("vec").alias("embedding"), "label")

    base = [(f"r{i}", [float(i), 0.0], i % 3) for i in range(10)]
    frame(base).write.jdbc(url, "recon_v", mode="overwrite", properties=props)

    d1 = str(tmp_path / "db_recon")
    db = Database.from_jdbc(
        spark, d1, url, "recon_v", properties=props, density=8,
    )
    assert db.count() == 10 and db.is_indexed()

    # mutate the system of record: delete r3/r8/r9, change r5's VECTOR,
    # change r6's metadata, add r10/r11
    mutated = [
        (f"r{i}", [float(i), 0.0], i % 3) for i in (0, 1, 2, 4, 7)
    ] + [
        ("r5", [5.5, 1.0], 2),          # vector updated
        ("r6", [6.0, 0.0], 99),         # metadata updated
        ("r10", [10.0, 0.0], 1),        # added
        ("r11", [11.0, 0.0], 2),        # added
    ]
    frame(mutated).write.jdbc(
        url, "recon_v", mode="overwrite", properties=props
    )

    res = db.reconcile_jdbc(url, "recon_v", properties=props)
    assert res == {"added": 2, "deleted": 3, "updated": 2}
    assert db.count() == 9

    def content(d):
        rows = d.records_df().select(
            "id", "embedding", "m_text", "m_num", "m_bool"
        ).collect()
        return sorted(
            (
                r["id"], tuple(r["embedding"]),
                tuple(sorted((r["m_text"] or {}).items())),
                tuple(sorted((r["m_num"] or {}).items())),
                tuple(sorted((r["m_bool"] or {}).items())),
            )
            for r in rows
        )

    # content-equal to a fresh bulk load of the mutated source
    fresh = Database.from_jdbc(
        spark, str(tmp_path / "db_fresh"), url, "recon_v",
        properties=props, density=8,
    )
    assert content(db) == content(fresh)
    # the propagated mutations serve: new vector wins the nearest query,
    # updated metadata reads back
    assert db.query_df([5.5, 1.0], k=1).collect()[0]["id"] == "r5"
    assert db.get("r6")["metadata"] == {"label": 99.0}

    # idempotent: a second reconcile changes nothing
    assert db.reconcile_jdbc(url, "recon_v", properties=props) == {
        "added": 0, "deleted": 0, "updated": 0
    }

    # forced shuffled apply path (broadcast guard) → same final state
    db_sh = Database.from_jdbc(
        spark, str(tmp_path / "db_sh"), url, "recon_v",
        properties=props, density=8, where="label < 99",
    )
    res_sh = db_sh.reconcile_jdbc(
        url, "recon_v", properties=props, apply_broadcast_limit=0
    )
    assert res_sh["added"] == 1 and res_sh["deleted"] == 0
    assert content(db_sh) == content(db)

    # a live sync stream's watermark column auto-excludes from the
    # fingerprint metadata: without the exclusion every row would
    # mismatch (the mark is not in the records' metadata), so an
    # unchanged source must reconcile to zero changes
    seq_rows = spark.createDataFrame(
        [(f"s{i}", [float(i), 0.0], i, i * 2) for i in range(4)],
        "id string, vec array<double>, seq int, score int",
    ).select("id", F.to_json("vec").alias("embedding"), "seq", "score")
    seq_rows.write.jdbc(url, "recon_wm", mode="overwrite", properties=props)
    d2 = str(tmp_path / "db_wm")
    db2 = Database.from_jdbc(
        spark, d2, url, "recon_wm", properties=props, density=8,
        watermark_col="seq",
    )
    assert db2.reconcile_jdbc(url, "recon_wm", properties=props) == {
        "added": 0, "deleted": 0, "updated": 0
    }
    # ...and a reconcile whose where-filter diverges from the live sync
    # stream's recorded pre-filter refuses (a looser filter would
    # mass-insert rows the stream scopes out; a tighter one would
    # mass-delete everything outside it)
    from oasysdb_spark import errors as _errors

    with pytest.raises(_errors.InvalidArgumentError, match="where"):
        db2.reconcile_jdbc(
            url, "recon_wm", properties=props, where="seq >= 0"
        )

    # cross-verb contract: reconcile does NOT move the sync mark, so
    # rows past the mark that reconcile ingests are re-read by the next
    # sync's window and must fully collapse in its id dedup — never
    # duplicate, and the mark catches up
    spark.createDataFrame(
        [("s9", [9.0, 0.0], 9, 18)],
        "id string, vec array<double>, seq int, score int",
    ).select(
        "id", F.to_json("vec").alias("embedding"), "seq", "score"
    ).write.jdbc(url, "recon_wm", mode="append", properties=props)
    assert db2.reconcile_jdbc(url, "recon_wm", properties=props) == {
        "added": 1, "deleted": 0, "updated": 0
    }
    mark_before = _json.loads(
        open(f"{d2}/jdbc_sync.json", encoding="utf-8").read()
    )["high"]
    assert mark_before == 3  # seeded at the bulk-load max, untouched
    assert db2.sync_jdbc(
        url, "recon_wm", watermark_col="seq", properties=props
    ) == 0
    assert db2.count() == 5  # no duplicate of the reconciled row
    assert _json.loads(
        open(f"{d2}/jdbc_sync.json", encoding="utf-8").read()
    )["high"] == 9  # the window was consumed, mark caught up

    # crash self-healing: the docstring documents that reconcile is NOT
    # atomic across its two writes — a crash between the delete and the
    # insert leaves updated rows missing until the next reconcile
    # re-adds them. Simulate the crash point (deletes applied, inserts
    # lost) and assert the follow-up reconcile restores content
    # equality with the source.
    db.delete(["r5", "r10"])  # r5 pretend-updated, r10 pretend-re-added
    assert db.count() == 7
    healed = db.reconcile_jdbc(url, "recon_v", properties=props)
    assert healed == {"added": 2, "deleted": 0, "updated": 0}
    assert content(db) == content(fresh)

    # CLI verb end to end
    frame([("r12", [12.0, 0.0], 0)]).write.jdbc(
        url, "recon_v", mode="append", properties=props
    )
    rc = cli.main([
        "reconcile-jdbc", "--dir", d1, "--url", url, "--table", "recon_v",
        "--driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver",
    ])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["added"] == 1 and out["count"] == 10

    # the large-source flag routes through the fp-only pin + pushed
    # apply path end to end (wire shape gated in the dedicated tests)
    frame([("r13", [13.0, 0.0], 1)]).write.jdbc(
        url, "recon_v", mode="append", properties=props
    )
    # string ids land as Derby CLOB via Spark's writer, so the pushed
    # read is refused remotely and the CLI path exercises the
    # documented fallback retry end to end (warning asserted, not leaked)
    with pytest.warns(UserWarning, match="retrying via a full re-scan"):
        rc = cli.main([
            "reconcile-jdbc", "--dir", d1, "--url", url, "--table",
            "recon_v",
            "--driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver",
            "--large-source", "--apply-pushdown-limit", "5",
        ])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["added"] == 1 and out["count"] == 11


def test_webdataset_roundtrip_deterministic_and_quarantines(spark, tmp_path):
    """WebDataset tar shard sink + source: documents written as
    {key}.text.txt members round-trip byte-exact through the binaryFile
    reader; shard assignment and tar bytes are deterministic across
    reruns (fixed mtime, sorted members); every sample lands in exactly
    one shard; a corrupt tar dropped into the directory degrades to a
    quarantine row instead of failing the read."""
    import os

    from pyspark.sql import functions as F

    from oasysdb_spark.sources.webdataset import (
        read_webdataset,
        write_webdataset_shards,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    n_docs = docs.count()

    d1 = str(tmp_path / "wds1")
    man1 = write_webdataset_shards(docs, d1, n_shards=4).collect()
    assert sum(r["n_samples"] for r in man1) == n_docs
    assert sum(r["n_members"] for r in man1) == n_docs  # one text col, no nulls
    assert len(man1) <= 4 and all(r["tar_bytes"] > 0 for r in man1)

    # deterministic: a second write — from a DIFFERENTLY-PARTITIONED
    # frame — produces byte-identical tars (the in-task sort is the
    # only order that matters)
    d2 = str(tmp_path / "wds2")
    write_webdataset_shards(docs.repartition(7), d2, n_shards=4).collect()
    for r in man1:
        with open(r["path"], "rb") as f1, open(
            os.path.join(d2, os.path.basename(r["path"])), "rb"
        ) as f2:
            assert f1.read() == f2.read(), r["path"]

    back = read_webdataset(spark, d1)
    rows = back.where("n_malformed = 0").collect()
    assert len(rows) == n_docs
    got = {int(r["key"]): bytes(r["data"]).decode("utf-8") for r in rows}
    want = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert got == want
    assert all(r["field"] == "text.txt" for r in rows)

    # corrupt tar → one quarantine row, clean shards unaffected; a torn
    # .inprogress file from a killed writer task is invisible to readers
    # (the atomic-rename publish contract)
    with open(os.path.join(d1, "shard-99999.tar"), "wb") as f:
        f.write(b"this is not a tar archive at all" * 16)
    with open(os.path.join(d1, "shard-00007.tar.inprogress"), "wb") as f:
        f.write(b"torn partial write")
    back2 = read_webdataset(spark, d1)
    assert back2.where("n_malformed = 1").count() == 1
    assert back2.where("n_malformed = 0").count() == n_docs


def test_stream_webdataset_matches_batch_and_is_exactly_once(spark, tmp_path):
    """Streaming WebDataset reader over a growing shard directory: two
    availableNow phases with a checkpoint deliver exactly the batch
    reader's member set with no re-delivery of already-processed tars."""
    from pyspark.sql import functions as F

    from oasysdb_spark.sources.webdataset import (
        read_webdataset,
        stream_webdataset,
        write_webdataset_shards,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "wds_src")
    out = str(tmp_path / "wds_out")
    ckpt = str(tmp_path / "wds_ckpt")
    write_webdataset_shards(docs.where("doc_id % 2 = 0"), src, n_shards=2)

    def drain():
        q = (
            stream_webdataset(spark, src)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    got1 = drain()
    n1 = got1.where("n_malformed = 0").count()
    assert n1 == docs.where("doc_id % 2 = 0").count()

    # second delivery lands in DIFFERENT shard files (phase suffix dirs
    # aren't needed — new tars get new names via a subdir)
    import os

    sub = os.path.join(src, "late")
    write_webdataset_shards(docs.where("doc_id % 2 = 1"), sub, n_shards=2)
    got2 = drain()
    keys = {int(r["key"]) for r in got2.where("n_malformed = 0").collect()}
    want = {r["doc_id"] for r in docs.collect()}
    assert keys == want
    # exactly-once: member count equals batch read of the whole tree
    batch_n = read_webdataset(spark, src).where("n_malformed = 0").count()
    assert got2.where("n_malformed = 0").count() == batch_n


def test_webdataset_midparse_truncation_discards_partial_members(spark, tmp_path):
    """A tar that fails MID-parse (valid leading members, truncated
    tail) must contribute ONLY its quarantine row — the already-parsed
    members are discarded, never leaked as n_malformed = 0 rows
    (r7 self-review fix)."""
    import io
    import os
    import tarfile

    from oasysdb_spark.sources.webdataset import read_webdataset

    d = str(tmp_path / "wds_trunc")
    os.makedirs(d)
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for i in range(3):
            data = (f"member {i} payload " * 20).encode()
            info = tarfile.TarInfo(name=f"{i}.text.txt")
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    raw = buf.getvalue()
    # cut inside the THIRD member's data region: members 0-1 parse fine,
    # member 2's extraction hits EOF
    with open(os.path.join(d, "shard-00000.tar"), "wb") as f:
        f.write(raw[: 2 * 1024 + 512 + 100])

    got = read_webdataset(spark, d)
    assert got.where("n_malformed = 1").count() == 1
    assert got.where("n_malformed = 0").count() == 0


@contextmanager
def _derby_stmt_log(spark, url):
    """Enable Derby's statement-text logging for the database at
    ``url``, yield ``scans(table)`` — the data-scan statements logged
    for a table since entry (the ``WHERE 1=0`` schema probes excluded)
    — and disable logging on exit. The engine-wide derby.log lives in
    derby.system.home (user.dir fallback); filtering by the
    per-test-unique table name keeps concurrent tests out."""
    import os

    jvm = spark._jvm

    def _set(val):
        conn = jvm.java.sql.DriverManager.getConnection(url)
        st = conn.createStatement()
        st.execute(
            "CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY("
            f"'derby.language.logStatementText', {val})"
        )
        st.close()
        conn.close()

    _set("'true'")
    derby_home = jvm.java.lang.System.getProperty("derby.system.home")
    log_path = os.path.join(
        derby_home or jvm.java.lang.System.getProperty("user.dir"),
        "derby.log",
    )
    before = os.path.getsize(log_path) if os.path.exists(log_path) else 0

    def scans(table):
        with open(log_path, encoding="utf-8", errors="replace") as f:
            f.seek(before)
            tail = f.read()
        return [
            ln for ln in tail.splitlines()
            if "Executing" in ln and table in ln.lower()
            and "1=0" not in ln.replace(" ", "")
        ]

    try:
        yield scans
    finally:
        _set("NULL")


def test_reconcile_jdbc_single_source_scan(spark, tmp_path):
    """The one-pull gate for reconcile_jdbc (r13 verdict "What's wrong"
    #1): the source table must cross the JDBC wire exactly ONCE per
    reconcile. Before the pin, the lazy JDBC frame executed twice — the
    fingerprint-classify pass, then the apply semi-join's re-evaluation
    — so a large table paid two full transfers even when nothing
    changed. Derby's statement log is the wire-level evidence: enable
    ``derby.language.logStatementText``, reconcile a mutated source,
    and count the data SELECTs on the table (the ``WHERE 1=0`` schema
    probe excluded). Mirrors sync_jdbc's one-pull rework."""
    from pyspark.sql import functions as F

    from oasysdb_spark.core.database import Database

    dbdir = str(tmp_path / "derby_onepull")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    table = "recon_one_pull_gate"

    def frame(rows):
        return spark.createDataFrame(
            rows, "id string, vec array<double>, label int"
        ).select("id", F.to_json("vec").alias("embedding"), "label")

    base = [(f"r{i}", [float(i), 0.0], i % 3) for i in range(8)]
    frame(base).write.jdbc(url, table, mode="overwrite", properties=props)
    db = Database.from_jdbc(
        spark, str(tmp_path / "db_onepull"), url, table,
        properties=props, density=8,
    )
    # mutate so every apply branch runs: delete r7, update r5, add r8
    mutated = [
        (f"r{i}", [float(i), 0.0], i % 3) for i in range(5)
    ] + [("r5", [5.5, 1.0], 2), ("r6", [6.0, 0.0], 99),
         ("r8", [8.0, 0.0], 1)]
    frame(mutated).write.jdbc(url, table, mode="overwrite", properties=props)

    with _derby_stmt_log(spark, url) as scans:
        res = db.reconcile_jdbc(url, table, properties=props)
    assert res == {"added": 1, "deleted": 1, "updated": 2}
    got = scans(table)
    assert len(got) == 1, (
        f"expected exactly one data scan of {table} per reconcile, saw "
        f"{len(got)}:\n" + "\n".join(s[-220:] for s in got)
    )


def test_reconcile_jdbc_large_source_fp_pin_and_pushed_apply(spark, tmp_path):
    """``large_source=True`` (r14 verdict What's-wrong #1): the default
    one-pull pin caches the WHOLE normalized source per reconcile — a
    table-sized executor footprint at a huge system of record — so the
    large-source path pins only the ``(id, fp)`` classify projection
    and re-reads just the changed rows through a pushed-down
    ``id IN (...)`` predicate. Wire gates, Derby statement log:

    - changed reconcile: exactly TWO data scans — the fingerprint
      classify full scan plus the changed-set read, and the changed-set
      statement carries the IN predicate (the filter provably reached
      the remote, it is not a client-side filter over a full pull);
    - nothing-changed reconcile: exactly ONE scan (no apply, no second
      read);
    - forced fallback (changed set over ``apply_broadcast_limit``):
      two scans, neither with the IN predicate (full re-read +
      semi-join), results identical.

    Results are pinned equal to the default path on a twin database
    reconciled from the same mutated source. INT ids exercise the
    typed string-cast inverse (_raw_id_literals)."""
    from pyspark.sql import functions as F

    from oasysdb_spark.core.database import Database

    dbdir = str(tmp_path / "derby_large_src")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    table = "recon_large_source_gate"

    def frame(rows):
        return spark.createDataFrame(
            rows, "id int, vec array<double>, label int"
        ).select("id", F.to_json("vec").alias("embedding"), "label")

    base = [(i, [float(i), 0.0], i % 3) for i in range(8)]
    frame(base).write.jdbc(url, table, mode="overwrite", properties=props)
    db = Database.from_jdbc(
        spark, str(tmp_path / "db_large"), url, table,
        properties=props, density=8,
    )
    twin = Database.from_jdbc(
        spark, str(tmp_path / "db_twin"), url, table,
        properties=props, density=8,
    )
    # mutate so every apply branch runs: delete 7, update 5 and 6, add 8
    mutated = [
        (i, [float(i), 0.0], i % 3) for i in range(5)
    ] + [(5, [5.5, 1.0], 2), (6, [6.0, 0.0], 99), (8, [8.0, 0.0], 1)]
    frame(mutated).write.jdbc(url, table, mode="overwrite", properties=props)

    with _derby_stmt_log(spark, url) as scans:
        res = db.reconcile_jdbc(
            url, table, properties=props, large_source=True
        )
    assert res == {"added": 1, "deleted": 1, "updated": 2}
    got = scans(table)
    assert len(got) == 2, (
        f"expected classify + changed-set scans of {table}, saw "
        f"{len(got)}:\n" + "\n".join(s[-220:] for s in got)
    )
    with_in = [s for s in got if " in (" in s.lower()]
    assert len(with_in) == 1, (
        "exactly one scan must carry the pushed-down IN predicate:\n"
        + "\n".join(s[-220:] for s in got)
    )

    # parity with the default (full-pin) path on the same mutation
    res_twin = twin.reconcile_jdbc(url, table, properties=props)
    assert res_twin == res
    pick = lambda db_: sorted(
        (r["id"], r["embedding"], r["m_num"]) for r in
        db_.records_df().select("id", "embedding", "m_num").collect()
    )
    assert pick(db) == pick(twin)

    # nothing changed: still exactly one scan (the classify pull)
    with _derby_stmt_log(spark, url) as scans:
        res = db.reconcile_jdbc(
            url, table, properties=props, large_source=True
        )
    assert res == {"added": 0, "deleted": 0, "updated": 0}
    got = scans(table)
    assert len(got) == 1, "\n".join(s[-220:] for s in got)

    # forced fallback: changed set larger than apply_pushdown_limit →
    # full re-read + broadcast semi-join (two scans, no IN predicate)
    frame(base).write.jdbc(url, table, mode="overwrite", properties=props)
    with _derby_stmt_log(spark, url) as scans:
        res = db.reconcile_jdbc(
            url, table, properties=props, large_source=True,
            apply_pushdown_limit=1,
        )
    assert res == {"added": 1, "deleted": 1, "updated": 2}
    got = scans(table)
    assert len(got) == 2, "\n".join(s[-220:] for s in got)
    assert not [s for s in got if " in (" in s.lower()]
    assert pick(db) == sorted(
        (str(i), [float(i), 0.0], {"label": float(i % 3)}) for i in range(8)
    )


def test_reconcile_large_source_where_scope_and_watermark_exclusion(
    spark, tmp_path
):
    """Two large-source interplays the dedicated wire gates don't
    cover: (1) a ``where``-scoped reconcile composes the scope filter
    with the changed-set IN predicate on the SAME remote statement —
    out-of-scope rows are invisible (not deleted, not inserted); (2) on
    a watermark-tracked stream the changed-set RE-READ honours the
    auto-excluded watermark column, so an updated row re-ingests
    without the mark leaking into its metadata maps (the exclusion is
    applied on a different code path than the classify pull)."""
    import json
    from pyspark.sql import functions as F

    from oasysdb_spark.core.database import Database

    dbdir = str(tmp_path / "derby_ls_scope")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}

    # --- (1) where scope composes with the pushed IN ---
    t1 = "ls_scope_gate"

    def frame1(rows):
        return spark.createDataFrame(
            rows, "id string, vec array<double>, label int"
        ).select("id", F.to_json("vec").alias("embedding"), "label")

    def write1(rows):
        # VARCHAR id DDL: Spark's writer maps string -> Derby CLOB by
        # default, and Derby refuses CLOB-vs-literal comparisons, which
        # would route this reconcile through the fallback instead of
        # the pushed path under test (the CLOB shape has its own retry
        # pin below)
        (frame1(rows).write
         .option("createTableColumnTypes", "id VARCHAR(64)")
         .jdbc(url, t1, mode="overwrite", properties=props))

    base = [(f"r{i}", [float(i), 0.0], i % 4) for i in range(8)]
    write1(base)
    db = Database.from_jdbc(
        spark, str(tmp_path / "db_scope"), url, t1,
        properties=props, density=8, where="label < 2",
    )
    assert db.count() == 4  # labels 0,1 of 0..3
    # mutate one in-scope row and one out-of-scope row
    mutated = [r for r in base if r[0] not in ("r1", "r2")] + [
        ("r1", [1.5, 9.0], 1), ("r2", [2.5, 9.0], 2),
    ]
    write1(mutated)
    with _derby_stmt_log(spark, url) as scans:
        res = db.reconcile_jdbc(
            url, t1, properties=props, where="label < 2",
            large_source=True,
        )
    assert res == {"added": 0, "deleted": 0, "updated": 1}
    got = scans(t1)
    assert len(got) == 2
    # a single changed id compiles to equality rather than IN — match
    # the literal either way; the statement must also carry the scope
    (in_stmt,) = [s for s in got if "'r1'" in s.lower()]
    pred = in_stmt.lower().split(" where ", 1)[1]
    assert "label" in pred, in_stmt[-300:]
    rows = {r["id"]: r["embedding"] for r in
            db.records_df().select("id", "embedding").collect()}
    assert rows["r1"] == [1.5, 9.0]          # in-scope update applied
    assert "r2" not in rows                  # out-of-scope stays invisible
    assert db.count() == 4

    # --- (2) watermark exclusion holds on the changed-set re-read ---
    t2 = "ls_wm_gate"

    def frame2(rows):
        return spark.createDataFrame(
            rows, "id string, vec array<double>, seq int, tag string"
        ).select("id", F.to_json("vec").alias("embedding"), "seq", "tag")

    def write2(rows):
        (frame2(rows).write
         .option("createTableColumnTypes", "id VARCHAR(64)")
         .jdbc(url, t2, mode="overwrite", properties=props))

    write2([(f"w{i}", [float(i), 0.0], i, f"t{i}") for i in range(4)])
    d2 = str(tmp_path / "db_wm")
    db2 = Database.from_jdbc(
        spark, d2, url, t2, properties=props, density=8,
        dimension=2, watermark_col="seq",
    )
    write2(
        [(f"w{i}", [float(i), 0.0], i, f"t{i}") for i in range(3)]
        + [("w3", [3.5, 1.0], 3, "t3x")]
    )
    res = db2.reconcile_jdbc(
        url, t2, properties=props, large_source=True
    )
    assert res == {"added": 0, "deleted": 0, "updated": 1}
    rec = db2.get("w3")
    assert rec["metadata"] == {"tag": "t3x"}  # mark excluded, tag updated
    # the sticky marker landed on the tracked stream too
    with open(f"{d2}/jdbc_sync.json", encoding="utf-8") as f:
        assert json.load(f)["reconciled"] is True


def test_reconcile_large_source_clob_id_retries_via_fallback(
    spark, tmp_path
):
    """A remote that refuses the compiled literal comparison at
    EXECUTION time must not strand the reconcile after its deletes
    committed: Spark's JDBC writer maps string ids to Derby CLOB, and
    Derby cannot compare CLOB against CHAR literals, so the pushed
    changed-set read fails mid-apply — the retry re-reads the full
    source and semi-joins (safe: table writes are an atomic pointer
    swap, the failed insert left nothing), with a pointed warning."""
    import warnings as _warnings

    from pyspark.sql import functions as F

    from oasysdb_spark.core.database import Database

    dbdir = str(tmp_path / "derby_clob")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    table = "recon_clob_gate"

    def frame(rows):
        return spark.createDataFrame(
            rows, "id string, vec array<double>, label int"
        ).select("id", F.to_json("vec").alias("embedding"), "label")

    base = [(f"c{i}", [float(i), 0.0], i % 3) for i in range(5)]
    # default writer DDL: id lands as CLOB
    frame(base).write.jdbc(url, table, mode="overwrite", properties=props)
    db = Database.from_jdbc(
        spark, str(tmp_path / "db_clob"), url, table,
        properties=props, density=8,
    )
    frame(base[:4] + [("c4", [4.5, 1.0], 1), ("c5", [5.0, 0.0], 2)]).write.jdbc(
        url, table, mode="overwrite", properties=props
    )
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        res = db.reconcile_jdbc(
            url, table, properties=props, large_source=True
        )
    assert res == {"added": 1, "deleted": 0, "updated": 1}
    assert any("retrying via a full re-scan" in str(w.message)
               for w in caught)
    rows = {r["id"]: r["embedding"] for r in
            db.records_df().select("id", "embedding").collect()}
    assert rows["c4"] == [4.5, 1.0] and rows["c5"] == [5.0, 0.0]
    assert len(rows) == 6


def test_reconcile_large_source_chunked_in_groups(spark, tmp_path, monkeypatch):
    """The changed-set re-read chunks its id literals into OR'd IN
    groups of 900 (Oracle hard-caps one IN list at 1000 expressions —
    ORA-01795 — so a single 10k-literal list would fail exactly when
    large_source matters most). Chunk size shrunk to 2 via monkeypatch:
    3 changed ids must produce ONE remote statement whose WHERE carries
    TWO IN groups, and the apply must land all three rows."""
    from pyspark.sql import functions as F

    from oasysdb_spark.core import database as dbmod
    from oasysdb_spark.core.database import Database

    monkeypatch.setattr(dbmod, "_IN_CHUNK", 2)

    dbdir = str(tmp_path / "derby_chunked")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    table = "recon_chunked_in_gate"

    def frame(rows):
        return spark.createDataFrame(
            rows, "id int, vec array<double>, label int"
        ).select("id", F.to_json("vec").alias("embedding"), "label")

    base = [(i, [float(i), 0.0], i % 3) for i in range(6)]
    frame(base).write.jdbc(url, table, mode="overwrite", properties=props)
    db = Database.from_jdbc(
        spark, str(tmp_path / "db_chunked"), url, table,
        properties=props, density=8,
    )
    mutated = base[:3] + [(3, [3.5, 1.0], 0), (4, [4.5, 1.0], 1),
                          (6, [6.0, 0.0], 0)]
    frame(mutated).write.jdbc(url, table, mode="overwrite", properties=props)

    with _derby_stmt_log(spark, url) as scans:
        res = db.reconcile_jdbc(
            url, table, properties=props, large_source=True
        )
    assert res == {"added": 1, "deleted": 1, "updated": 2}
    got = scans(table)
    assert len(got) == 2
    (in_stmt,) = [s for s in got if " in (" in s.lower()]
    # two OR'd groups reached the remote in ONE statement: Spark
    # compiles the 2-wide chunk to IN and the 1-wide tail to equality
    pred = in_stmt.lower().split(" where ", 1)[1]
    assert " or " in pred, in_stmt[-300:]
    assert pred.count(" in (") + pred.count('"id" = ') == 2, in_stmt[-300:]
    assert sorted(
        (r["id"], r["embedding"]) for r in
        db.records_df().select("id", "embedding").collect()
    ) == sorted(
        (str(i), [float(v) for v in vec])
        for i, vec, _ in mutated
    )


def test_reconcile_marker_preserves_concurrent_mark_advance(spark, tmp_path):
    """The reconciled-marker write must MERGE into the CURRENT
    jdbc_sync.json, not rewrite the snapshot read at reconcile entry: a
    scheduled sync finishing mid-reconcile advances the mark, and
    writing the stale snapshot back would silently revert it (the next
    sync would re-read the consumed window). Simulated by advancing the
    persisted mark from inside the reconcile's apply (delete hook),
    then asserting the final state keeps BOTH the advanced mark and
    the marker."""
    import json
    import os

    from pyspark.sql import functions as F

    from oasysdb_spark.core.database import Database, _JDBC_SYNC_FILE

    dbdir = str(tmp_path / "derby_markkeep")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    table = "recon_markkeep_gate"

    def frame(rows):
        return spark.createDataFrame(
            rows, "id string, vec array<double>, seq int"
        ).select("id", F.to_json("vec").alias("embedding"), "seq")

    frame([(f"r{i}", [float(i), 0.0], i) for i in range(4)]).write.jdbc(
        url, table, mode="overwrite", properties=props
    )
    d = str(tmp_path / "db_markkeep")
    db = Database.from_jdbc(
        spark, d, url, table, properties=props, density=8,
        dimension=2, watermark_col="seq",
    )
    state_path = os.path.join(d, _JDBC_SYNC_FILE)

    # mutate so the apply runs its delete (which hosts the simulated
    # concurrent sync advancing the persisted mark to 99)
    frame([(f"r{i}", [float(i), 0.0], i) for i in range(3)]).write.jdbc(
        url, table, mode="overwrite", properties=props
    )
    real_delete = db.delete

    def delete_with_concurrent_sync(ids):
        with open(state_path, encoding="utf-8") as f:
            st = json.load(f)
        st["high"] = 99
        with open(state_path, "w", encoding="utf-8") as f:
            json.dump(st, f)
        return real_delete(ids)

    db.delete = delete_with_concurrent_sync
    try:
        assert db.reconcile_jdbc(url, table, properties=props) == {
            "added": 0, "deleted": 1, "updated": 0
        }
    finally:
        db.delete = real_delete
    with open(state_path, encoding="utf-8") as f:
        st = json.load(f)
    assert st["reconciled"] is True
    assert st["high"] == 99, "stale snapshot reverted a concurrent mark"


def test_sync_refuses_dedup_ids_false_after_reconcile(spark, tmp_path):
    """r14 ADVICE hardening: a reconcile inserts rows PAST the sync
    mark, so a later ``sync_jdbc(dedup_ids=False)`` would re-ingest
    every one of them as a duplicate (the strict-mark contract assumes
    sync is the only writer ahead of the mark). The hazard was only
    documented; now a reconcile on a tracked stream writes a sticky
    ``reconciled`` marker into jdbc_sync.json and sync REFUSES the mix
    — including after later dedup_ids=True syncs advance the mark (the
    marker must survive the mark rewrite)."""
    import json
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from oasysdb_spark import errors
    from oasysdb_spark.core.database import Database, _JDBC_SYNC_FILE

    dbdir = str(tmp_path / "derby_reconmark")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    table = "recon_marker_gate"

    def frame(rows):
        return spark.createDataFrame(
            rows, "id string, vec array<double>, seq int"
        ).select("id", F.to_json("vec").alias("embedding"), "seq")

    frame([(f"r{i}", [float(i), 0.0], i) for i in range(4)]).write.jdbc(
        url, table, mode="overwrite", properties=props
    )
    d = str(tmp_path / "db_reconmark")
    db = Database.from_jdbc(
        spark, d, url, table, properties=props, density=8,
        dimension=2, watermark_col="seq",
    )
    # before any reconcile, dedup_ids=False is the caller's contract
    assert db.sync_jdbc(url, table, watermark_col="seq",
                        properties=props, dedup_ids=False) == 0

    assert db.reconcile_jdbc(url, table, properties=props) == {
        "added": 0, "deleted": 0, "updated": 0
    }
    state_path = os.path.join(d, _JDBC_SYNC_FILE)
    with open(state_path, encoding="utf-8") as f:
        assert json.load(f)["reconciled"] is True

    with _pytest.raises(errors.InvalidArgumentError,
                        match="records a reconcile"):
        db.sync_jdbc(url, table, watermark_col="seq",
                     properties=props, dedup_ids=False)

    # dedup_ids=True stays fine and the marker survives the mark
    # rewrite — the refusal is permanent, not one-sync deep
    frame([("r9", [9.0, 0.0], 9)]).write.jdbc(
        url, table, mode="append", properties=props
    )
    assert db.sync_jdbc(url, table, watermark_col="seq",
                        properties=props) == 1
    with open(state_path, encoding="utf-8") as f:
        st = json.load(f)
    assert st["reconciled"] is True and st["high"] == 9
    with _pytest.raises(errors.InvalidArgumentError,
                        match="records a reconcile"):
        db.sync_jdbc(url, table, watermark_col="seq",
                     properties=props, dedup_ids=False)


def test_watermark_literal_spark_backslash_roundtrip(spark):
    """Spark parses its SQL fragments with C-style backslash escapes
    active (spark.sql.parser.escapedStringLiterals defaults false), so
    the non-remote string-literal form must escape backslashes or a
    mark containing one parses to a DIFFERENT bound than the persisted
    value (r13 ADVICE). Round-trip every adversarial shape through a
    real Spark filter: equality hits exactly the value, and the strict
    bound partitions the set exactly where Python's code-point order
    says it should."""
    from oasysdb_spark.sources.jdbc import watermark_literal

    vals = ["a\\b", "trail\\", "\\\\lead", "mix'q\\uote", "a\\'b", "plain"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    for v in vals:
        lit = watermark_literal(v, "str")
        assert [r["s"] for r in df.where(f"s = {lit}").collect()] == [v]
        got = sorted(r["s"] for r in df.where(f"s > {lit}").collect())
        assert got == sorted(x for x in vals if x > v)


def test_from_jdbc_overwrite_clears_stale_sync_state(spark, tmp_path):
    """A rebuild re-baselines (r13 ADVICE): configure/from_jdbc with
    overwrite=True rewrites params and records but jdbc_sync.json is
    sync-STREAM state — left in place, a rebuild without watermark_col
    would silently resume the old stream from a stale mark on the next
    sync_jdbc (double-ingest under dedup_ids=False, permanent gaps
    against a re-baselined source). The overwrite must delete it; a
    rebuild WITH watermark_col re-seeds it fresh."""
    import json
    import os

    from pyspark.sql import functions as F

    from oasysdb_spark.core.database import Database
    from oasysdb_spark.core.database import _JDBC_SYNC_FILE

    dbdir = str(tmp_path / "derby_stale")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    rows = spark.createDataFrame(
        [(f"r{i}", [float(i), 0.0], i) for i in range(5)],
        "id string, vec array<double>, seq int",
    ).select("id", F.to_json("vec").alias("embedding"), "seq")
    rows.write.jdbc(url, "stale_t", mode="overwrite", properties=props)

    d = str(tmp_path / "db_stale")
    Database.from_jdbc(
        spark, d, url, "stale_t", properties=props, density=8,
        watermark_col="seq",
    )
    state_path = os.path.join(d, _JDBC_SYNC_FILE)
    with open(state_path, encoding="utf-8") as f:
        assert json.load(f)["high"] == 4

    # rebuild WITHOUT watermark_col: the stale stream state must go
    db2 = Database.from_jdbc(
        spark, d, url, "stale_t", properties=props, density=8,
        overwrite=True,
    )
    assert not os.path.exists(state_path)
    # ...so a fresh sync stream starts from NO mark: it re-reads the
    # whole table and the id dedup collapses it to zero new rows
    assert db2.sync_jdbc(url, "stale_t", watermark_col="seq",
                         properties=props) == 0
    assert db2.count() == 5

    # rebuild WITH watermark_col re-seeds fresh state
    os.remove(state_path)
    Database.from_jdbc(
        spark, d, url, "stale_t", properties=props, density=8,
        overwrite=True, watermark_col="seq",
    )
    with open(state_path, encoding="utf-8") as f:
        assert json.load(f)["high"] == 4


def test_from_jdbc_seed_costs_zero_extra_scans(spark, tmp_path):
    """The watermark seed mark derives from the pinned loaded frame
    itself — NOT a separate pre-load scan (which pulled the whole
    watermark column through one socket, and whose remote-pushdown
    variant risked a Spark-vs-remote dialect misread of the `where`
    text silently inflating the mark past rows the load never saw).
    Derby's statement log is the wire evidence: the WHOLE
    from_jdbc(watermark_col=...) — dimension probe, seed derivation,
    load — issues exactly ONE data scan of the table."""
    from pyspark.sql import functions as F

    from oasysdb_spark.core.database import Database

    dbdir = str(tmp_path / "derby_seedpush")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    table = "seed_push_gate"
    rows = spark.createDataFrame(
        [(f"r{i}", [float(i), 0.0], i) for i in range(6)],
        "id string, vec array<double>, seq int",
    ).select("id", F.to_json("vec").alias("embedding"), "seq")
    rows.write.jdbc(url, table, mode="overwrite", properties=props)

    with _derby_stmt_log(spark, url) as scans:
        db = Database.from_jdbc(
            spark, str(tmp_path / "db_seedpush"), url, table,
            properties=props, density=8, watermark_col="seq",
        )
    assert db.count() == 6
    got = scans(table)
    assert len(got) == 1, (
        "expected the whole watermarked load (probe + seed + build) to "
        f"issue exactly one data scan, saw {len(got)}:\n"
        + "\n".join(s[-220:] for s in got)
    )


def test_from_jdbc_indexed_load_single_source_scan(spark, tmp_path):
    """One-pull bulk load: the indexed build path runs three actions
    over the source (k-sizing count, k-means fit sample, clustered
    write) — un-persisted, a JDBC table crossed the wire twice in full
    plus a whole-table count. With the pin, the table transfers exactly
    ONCE (dimension passed explicitly, so no probe either). Derby's
    statement log is the wire evidence, k > 1 so the fit path runs."""
    from pyspark.sql import functions as F

    from oasysdb_spark.core.database import Database

    dbdir = str(tmp_path / "derby_loadpull")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    table = "load_one_pull_gate"
    rows = spark.createDataFrame(
        [(f"r{i}", [float(i), 0.0]) for i in range(40)],
        "id string, vec array<double>",
    ).select("id", F.to_json("vec").alias("embedding"))
    rows.write.jdbc(url, table, mode="overwrite", properties=props)

    with _derby_stmt_log(spark, url) as scans:
        db = Database.from_jdbc(
            spark, str(tmp_path / "db_loadpull"), url, table,
            properties=props, density=4, dimension=2,
        )
    assert db.count() == 40 and db.is_indexed()
    # ...and the loaded index serves correctly off the one pull
    assert [r["id"] for r in db.query_df([3.0, 0.0], k=2).collect()] == [
        "r3", "r2"
    ]
    got = scans(table)
    assert len(got) == 1, (
        f"expected exactly one data scan of {table} for the whole "
        f"indexed bulk load, saw {len(got)}:\n"
        + "\n".join(s[-220:] for s in got)
    )


def test_from_jdbc_partitioned_seed_scans_before_load(spark, tmp_path):
    """A partitioned pull is N independent range queries at different
    instants — a ragged snapshot — so its watermark seed must be
    scanned BEFORE any load read (a loaded-frame max could exceed a row
    that committed into an already-scanned range, permanently gapping
    it from every future sync). Wire evidence: the one-row remote
    MIN/MAX subquery executes (no `where` → no dialect hazard), the
    data scans are exactly the N range queries, and the persisted seed
    equals the table max."""
    import json
    import os

    from pyspark.sql import functions as F

    from oasysdb_spark.core.database import Database, _JDBC_SYNC_FILE

    dbdir = str(tmp_path / "derby_partseed")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    table = "part_seed_gate"
    rows = spark.createDataFrame(
        [(f"r{i}", [float(i), 0.0], i) for i in range(20)],
        "id string, vec array<double>, seq int",
    ).select("id", F.to_json("vec").alias("embedding"), "seq")
    rows.write.jdbc(url, table, mode="overwrite", properties=props)

    d = str(tmp_path / "db_partseed")
    with _derby_stmt_log(spark, url) as scans:
        db = Database.from_jdbc(
            spark, d, url, table, properties=props, density=8,
            dimension=2, watermark_col="seq",
            partition_column="seq", lower_bound=0, upper_bound=19,
            num_partitions=3,
        )
    assert db.count() == 20
    with open(os.path.join(d, _JDBC_SYNC_FILE), encoding="utf-8") as f:
        assert json.load(f)["high"] == 19
    got = scans(table)
    # the pre-load seed ran as the one-row remote aggregate, and it ran
    # FIRST — Derby's statement log is chronological, so the seed
    # preceding every range scan is the actual ordering property the
    # ragged-snapshot guard claims (r14 ADVICE: asserting mere presence
    # would stay green if a regression moved the seed after the load)
    assert got and "oasys_wm_scan" in got[0], (
        "seed scan must precede all range scans:\n"
        + "\n".join(s[-220:] for s in got)
    )
    # ...and the data scans are exactly the three range queries
    data = [ln for ln in got if "oasys_wm_scan" not in ln]
    assert len(data) == 3, (
        f"expected exactly the 3 range scans, saw {len(data)}:\n"
        + "\n".join(s[-220:] for s in data)
    )
    # a follow-up sync from the seeded mark ingests nothing new
    assert db.sync_jdbc(url, table, watermark_col="seq",
                        properties=props) == 0


def test_reconcile_jdbc_empty_edges(spark, tmp_path):
    """Boundary contract of the CDC reconcile after the one-pull
    restructure: reconciling a fresh EMPTY collection bulk-adds the
    whole source through the validated ingest path, and reconciling
    against an EMPTIED source deletes everything — content-equality to
    the system of record is the verb's definition, which is also why
    the where-coherence refusal exists (a tighter filter would look
    exactly like this mass-delete)."""
    from pyspark.sql import functions as F

    from oasysdb_spark.core.database import Database

    dbdir = str(tmp_path / "derby_empty")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    rows = spark.createDataFrame(
        [(f"r{i}", [float(i), 0.0], i % 3) for i in range(6)],
        "id string, vec array<double>, label int",
    ).select("id", F.to_json("vec").alias("embedding"), "label")
    rows.write.jdbc(url, "empty_t", mode="overwrite", properties=props)

    db = Database.configure(spark, str(tmp_path / "db_e"), dimension=2,
                            density=8)
    assert db.reconcile_jdbc(url, "empty_t", properties=props) == {
        "added": 6, "deleted": 0, "updated": 0
    }
    assert db.count() == 6

    spark.createDataFrame(
        [], "id string, embedding string, label int"
    ).write.jdbc(url, "empty_t", mode="overwrite", properties=props)
    assert db.reconcile_jdbc(url, "empty_t", properties=props) == {
        "added": 0, "deleted": 6, "updated": 0
    }
    assert db.count() == 0


def test_raw_id_literals_chunked_predicate_roundtrip(spark):
    """Seeded-random property of the large-source apply machinery in
    isolation: for random id sets (strings with quotes/backslashes/
    unicode, ints across byte/short/int/long, scale-0 decimals), the
    canonical-string → typed-literal inverse plus the chunked OR'd
    isin predicate selects EXACTLY the intended rows from a frame of
    that raw type — no escaping loss, no chunk-boundary loss. Float
    and temporal id types must refuse (None) rather than risk a
    literal that misses its own row."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from oasysdb_spark.core import database as dbmod

    rng = random.Random(424242)
    tricky = ["it's", 'dq"x', "back\\slash", "tab\tx", "naïve",
              "semi;drop", "percent%u", "und_er", " lead", "trail "]
    cases = [
        ("string", [f"id{i}" for i in range(40)] + tricky, T.StringType()),
        ("int", list(range(-20, 20)), T.IntegerType()),
        ("bigint", [rng.randint(-2**62, 2**62) for _ in range(30)],
         T.LongType()),
        ("decimal(10,0)",
         [__import__("decimal").Decimal(v) for v in range(100, 140)],
         T.DecimalType(10, 0)),
    ]
    for typename, pool, dt in cases:
        df = spark.createDataFrame(
            [(v,) for v in pool], f"rawid {typename}"
        )
        picked = rng.sample(pool, k=len(pool) // 3)
        canon = [
            r["c"] for r in
            spark.createDataFrame([(v,) for v in picked],
                                  f"rawid {typename}")
            .select(F.col("rawid").cast("string").alias("c")).collect()
        ]
        typed = dbmod._raw_id_literals(dt, canon)
        assert typed is not None, typename
        # chunk exactly as reconcile does, with a tiny chunk width so
        # the OR composition carries real weight
        chunk = 3
        pred = F.col("rawid").isin(typed[:chunk])
        for i in range(chunk, len(typed), chunk):
            pred = pred | F.col("rawid").isin(typed[i:i + chunk])
        got = sorted(
            str(r["rawid"]) for r in df.where(pred).collect()
        )
        assert got == sorted(str(v) for v in picked), typename

    for bad in (T.DoubleType(), T.TimestampType(), T.DecimalType(10, 2)):
        assert dbmod._raw_id_literals(bad, ["1.5"]) is None


def test_split_estimator_matches_spark_planning(spark, tmp_path):
    """_estimate_splits (r16) replicates Spark's file-split planning —
    the spread_scan probe is now pure driver arithmetic, so its count
    must agree with df.rdd.getNumPartitions() across layouts (single
    small file, many files, multi-split big files) and reader confs."""
    from pyspark.sql import functions as F

    from oasysdb_spark.sources import tables as tables_mod

    par = spark.sparkContext.defaultParallelism

    def est_vs_actual(path):
        sig = tables_mod._local_files_sig(path)
        mp = tables_mod._conf_bytes(
            spark, "spark.sql.files.maxPartitionBytes", 128 << 20
        )
        oc = tables_mod._conf_bytes(
            spark, "spark.sql.files.openCostInBytes", 4 << 20
        )
        sizes = [
            e[3]
            for e in sig[1]
            if e[1].endswith(".parquet") and not e[1].startswith(("_", "."))
        ]
        est = tables_mod._estimate_splits(sizes, mp, oc, par)
        return est, spark.read.parquet(path).rdd.getNumPartitions()

    one = str(tmp_path / "one")
    spark.range(1000).coalesce(1).write.parquet(one)
    many = str(tmp_path / "many")
    spark.range(200_000).select(
        F.col("id"), F.lit("y" * 64).alias("pad")
    ).repartition(par + 7).write.parquet(many)

    for path in (one, many):
        est, act = est_vs_actual(path)
        assert est == act, (path, est, act)

    # conf variant: small split size forces multi-chunk packing
    old_mp = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_oc = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64k")
        spark.conf.set("spark.sql.files.openCostInBytes", "4k")
        for path in (one, many):
            est, act = est_vs_actual(path)
            assert est == act, ("conf-variant", path, est, act)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mp)
        spark.conf.set("spark.sql.files.openCostInBytes", old_oc)


def test_spread_scan_memo_tracks_file_signature(spark, tmp_path):
    """spread_scan's key_path decision (r15): the split count computed
    from the file signature matches a fresh probe, and REWRITING the path
    is seen on the next call (mtime/size change) so a stale count can
    never misroute the conditional repartition."""
    from pyspark.sql import functions as F

    from oasysdb_spark.sources import tables as tables_mod

    path = str(tmp_path / "docs.parquet")
    spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    ).coalesce(1).write.mode("overwrite").parquet(path)

    par = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(path)
    fresh = tables_mod.spread_scan(spark, df)
    sig = tables_mod._local_files_sig(path)
    assert sig is not None

    keyed = tables_mod.spread_scan(spark, df, key_path=path)
    # keyed decision == fresh probe decision (both spread a 1-split
    # local file when the session has more cores)
    assert keyed.rdd.getNumPartitions() == fresh.rdd.getNumPartitions()
    # a second call returns the same shape
    again = tables_mod.spread_scan(spark, df, key_path=path)
    assert again.rdd.getNumPartitions() == keyed.rdd.getNumPartitions()

    # rewrite the path with MORE files than cores: the signature changes
    # and the count sees the new layout (no repartition -> partition
    # count stays at the new file count)
    spark.range(10000).select(
        F.col("id").alias("doc_id"), F.lit("y").alias("text")
    ).repartition(par + 8).write.mode("overwrite").parquet(path)
    sig2 = tables_mod._local_files_sig(path)
    assert sig2 != sig
    df2 = spark.read.parquet(path)
    spread2 = tables_mod.spread_scan(spark, df2, key_path=path)
    assert spread2.rdd.getNumPartitions() == df2.rdd.getNumPartitions()
