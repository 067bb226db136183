"""Command-line surface mapping the reference's service verbs
(/root/reference/src/main.rs: the gRPC endpoints Heartbeat / Snapshot /
Insert / Get / Delete / Update / Query and server configure) onto the
Database API, so a reference user can drive the engine without writing
Python. One JSON line per result on stdout.

    python -m oasysdb_spark configure --dir /tmp/db --dimension 4
    python -m oasysdb_spark insert --dir /tmp/db --vector 1,2,3,4 \
        --metadata '{"name": "a"}'
    python -m oasysdb_spark query --dir /tmp/db --vector 1,2,3,4 -k 5 \
        --filter "name = a" --probes 4
    python -m oasysdb_spark query-many --dir /tmp/db \
        --vectors '1,2,3,4;5,6,7,8' -k 5
    python -m oasysdb_spark build-index --dir /tmp/db
    python -m oasysdb_spark compact --dir /tmp/db

This is an operational convenience layer: one short-lived SparkSession
per invocation (local mode). Long-running deployments should hold a
session and call the Database API directly.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _vector(s: str) -> list[float]:
    return [float(x) for x in s.replace(",", " ").split()]


def _csv_cols(s: str | None) -> list[str] | None:
    """--metadata-cols style comma list -> list (None passes through)."""
    if s is None:
        return None
    return [c.strip() for c in s.split(",") if c.strip()]


def _jdbc_props(args) -> dict | None:
    return {"driver": args.driver} if args.driver else None


def _emit(obj, default=None) -> None:
    print(json.dumps(obj, sort_keys=True, default=default))


# ---- JDBC verbs: each declares its flags once, for the directory verb
# and its catalog- twin alike; every flag's dest names the Database
# keyword it feeds (see _jdbc_kwargs) ----

def _jdbc_source_flags(sp, metadata_help: str | None = None) -> None:
    sp.add_argument("--url", required=True, help="JDBC url")
    sp.add_argument("--table", required=True)
    sp.add_argument("--id-col", default="id")
    sp.add_argument("--vector-col", default="embedding",
                    help="SQL array column or JSON-array text column")
    sp.add_argument("--metadata-cols", default=None, help=metadata_help)
    sp.add_argument("--driver", default=None, help="JDBC driver class")
    sp.add_argument("--where", default=None,
                    help="metadata pre-filter, compiled into the "
                    "connector's WHERE clause")


def _jdbc_range_flags(sp) -> None:
    sp.add_argument("--partition-column", default=None,
                    help="issue the read as parallel range queries")
    sp.add_argument("--lower-bound", default=None)
    sp.add_argument("--upper-bound", default=None)
    sp.add_argument("--num-partitions", type=int, default=None)


def _from_jdbc_flags(sp) -> None:
    _jdbc_source_flags(
        sp, "comma-separated metadata columns to carry (default: every "
        "non-id/vector column — tables with timestamp/binary columns "
        "must restrict, since the record metadata enum is "
        "text|number|boolean)")
    sp.add_argument("--dimension", type=int, default=None,
                    help="omit to infer from one probed row")
    sp.add_argument("--metric", default="euclidean")
    sp.add_argument("--density", type=int, default=256)
    sp.add_argument("--relevancy", type=float, default=-1.0)
    _jdbc_range_flags(sp)
    sp.add_argument("--watermark-col", default=None,
                    help="declare the column a later sync-jdbc will "
                    "watermark on: excluded from default metadata and "
                    "the sync state seeds at the loaded max (scanned "
                    "before a partitioned load), so the first sync "
                    "reads only newer rows")
    sp.add_argument("--no-index", action="store_true",
                    help="load without building the IVF tier")
    sp.add_argument("--seed", type=int, default=42)
    sp.add_argument("--overwrite", action="store_true")


def _sync_jdbc_flags(sp) -> None:
    _jdbc_source_flags(sp)
    sp.add_argument("--watermark-col", required=True,
                    help="monotonic column (autoincrement id / "
                    "inserted_at) the sync filters on")
    sp.add_argument("--no-dedup-ids", action="store_true",
                    help="skip the crash-replay anti-join (at-least-"
                    "once instead of exactly-once ingest; also "
                    "hardens the contract to a strictly increasing "
                    "watermark — tied late arrivals are invisible)")
    sp.add_argument("--dedup-broadcast-limit", type=int, default=100_000,
                    help="incoming batches above this row count dedup "
                    "via a shuffled anti-join instead of broadcasting "
                    "the id set")
    sp.add_argument("--num-partitions", type=int, default=None,
                    help="read the batch as N parallel range queries "
                    "over the watermark window (numeric/date/timestamp "
                    "marks) — the backfill scale path")


def _reconcile_jdbc_flags(sp) -> None:
    _jdbc_source_flags(
        sp, "default: every non-id/vector column, minus the sync "
        "stream's watermark column when jdbc_sync.json tracks this table")
    _jdbc_range_flags(sp)
    sp.add_argument("--large-source", action="store_true",
                    help="pin only the (id, fingerprint) classify "
                    "projection instead of the whole source, and "
                    "re-read just the changed rows through pushed-down "
                    "id predicates — for sources too big to cache")
    sp.add_argument("--apply-pushdown-limit", type=int, default=10_000,
                    help="max changed rows fetched via pushed-down id "
                    "IN predicates before falling back to a full "
                    "re-scan + semi-join (large-source mode only)")


_JDBC_VERBS = ("from-jdbc", "sync-jdbc", "reconcile-jdbc")


def _jdbc_kwargs(args) -> dict:
    """The keyword arguments of a JDBC verb's Database call, from its
    parsed flags: every flag dest is a keyword except the target
    (``--dir``/``--root``/``--name``), the positional ``--url``/
    ``--table``, and the three flags translated here."""
    kw = {k: v for k, v in vars(args).items()
          if k not in ("cmd", "dir", "root", "name", "url", "table", "driver")}
    kw["metadata_cols"] = _csv_cols(kw["metadata_cols"])
    kw["properties"] = _jdbc_props(args)
    if "no_index" in kw:
        kw["build_index"] = not kw.pop("no_index")
    if "no_dedup_ids" in kw:
        kw["dedup_ids"] = not kw.pop("no_dedup_ids")
    return kw


def _run_jdbc(spark, args) -> None:
    """Run a JDBC verb against a database directory, or against a named
    collection for its ``catalog-`` twin."""
    from oasysdb_spark.core.catalog import Catalog
    from oasysdb_spark.core.database import Database

    verb = args.cmd.removeprefix("catalog-")
    named = verb != args.cmd
    target = {"root": args.root, "name": args.name} if named else {}
    kw = _jdbc_kwargs(args)
    if verb == "from-jdbc":
        if named:
            db = Catalog.open(spark, args.root).create_collection_from_jdbc(
                args.name, args.url, args.table, **kw
            )
        else:
            db = Database.from_jdbc(spark, args.dir, args.url, args.table, **kw)
            target = {"dir": args.dir}
        out = {"count": db.count(), "dimension": db.params.dimension,
               "indexed": db.is_indexed()}
    else:
        db = (Catalog.open(spark, args.root).open_collection(args.name)
              if named else Database.open(spark, args.dir))
        if verb == "sync-jdbc":
            out = {"ingested": db.sync_jdbc(args.url, args.table, **kw)}
        else:
            out = db.reconcile_jdbc(args.url, args.table, **kw)
        out["count"] = db.count()
    _emit({"ok": True, **target, **out})


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="oasysdb_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def add(name, **kw):
        sp = sub.add_parser(name, **kw)
        sp.add_argument("--dir", required=True, help="database directory")
        return sp

    c = add("configure", help="create a database")
    c.add_argument("--dimension", type=int, required=True)
    c.add_argument("--metric", default="euclidean")
    c.add_argument("--density", type=int, default=256)
    c.add_argument("--relevancy", type=float, default=-1.0,
                   help="default max-distance cutoff for queries that "
                   "pass no --radius (the v0.4-lineage per-collection "
                   "threshold; <=0 disables)")
    c.add_argument("--overwrite", action="store_true")

    add("heartbeat", help="engine version")
    add("snapshot", help="persist + record count")

    i = add("insert", help="insert one record")
    i.add_argument("--vector", required=True)
    i.add_argument("--metadata", default=None, help="JSON object")
    i.add_argument("--id", dest="record_id", default=None)

    g = add("get", help="fetch a record by id")
    g.add_argument("--id", dest="record_id", required=True)

    d = add("delete", help="delete records by id")
    group = d.add_mutually_exclusive_group(required=True)
    group.add_argument("--id", dest="record_ids", nargs="+")
    group.add_argument(
        "--ids-file",
        help="bulk path: text file with one id per line (or .parquet with "
        "an id column) — anti-joined, no size cap",
    )

    u = add("update", help="replace a record's metadata map")
    u.add_argument("--id", dest="record_id", required=True)
    u.add_argument("--metadata", required=True, help="JSON object")

    q = add("query", help="ANN query")
    q.add_argument("--vector", required=True)
    q.add_argument("-k", type=int, default=10)
    q.add_argument("--filter", dest="filter_expr", default=None)
    q.add_argument("--radius", type=float, default=None)
    q.add_argument("--probes", type=int, default=None)
    q.add_argument("--approx", default=None, choices=["pq", "hnsw"],
                   help="serve from an approx tier: the PQ compression "
                   "tier (build-pq first) or the HNSW graph tier "
                   "(build-hnsw first; --filter post-filters with "
                   "doubling expansion, exact in the worst case)")
    q.add_argument("--rerank", type=int, default=128,
                   help="exact re-rank depth (pq) / beam width ef_search "
                   "(hnsw)")

    qm = add("query-many", help="batched ANN: many vectors, one job")
    src = qm.add_mutually_exclusive_group(required=True)
    src.add_argument(
        "--vectors", help="semicolon-separated vectors, e.g. '1,2,3;4,5,6'"
    )
    src.add_argument(
        "--vectors-file",
        help="text file with one vector per line (or .parquet with "
        "query_id + qvec columns)",
    )
    qm.add_argument("-k", type=int, default=10)
    qm.add_argument("--filter", dest="filter_expr", default=None)
    qm.add_argument("--radius", type=float, default=None)
    qm.add_argument("--probes", type=int, default=None)
    qm.add_argument("--approx", default=None, choices=["pq", "hnsw"],
                    help="serve the batch from the PQ tier (build-pq "
                    "first) or the HNSW graph tier (build-hnsw first)")
    qm.add_argument("--rerank", type=int, default=128,
                    help="exact re-rank depth (pq) / beam width ef_search "
                    "(hnsw)")

    b = add("build-index", help="build/rebuild the IVF index")
    b.add_argument("--seed", type=int, default=42)
    b.add_argument("--k", type=int, default=None)

    _from_jdbc_flags(add(
        "from-jdbc",
        help="configure + bulk-load records from a SQL database "
        "via JDBC (the v0.7 SQL storage lineage): read, validate "
        "dimensions in-task, build the IVF tier in one pass"))
    _sync_jdbc_flags(add(
        "sync-jdbc",
        help="incremental watermark pull from the SQL system of "
        "record into an existing database (append-only; advances "
        "the persisted high-water mark after the append commits)"))
    _reconcile_jdbc_flags(add(
        "reconcile-jdbc",
        help="make the records table content-equal to the SQL "
        "system of record: inserts adds, deletes removals, "
        "replaces rows whose content fingerprint changed — the "
        "mutation-propagating complement of append-only sync-jdbc"))

    bp = add("build-pq", help="build/rebuild the PQ compression tier")
    bp.add_argument("--m", type=int, default=8)
    bp.add_argument("--nbits", type=int, default=4)
    bp.add_argument("--seed", type=int, default=42)
    bp.add_argument("--residual", action="store_true",
                    help="IVFADC: quantize embedding - centroid residuals "
                    "(requires build-index first)")
    bp.add_argument("--opq", action="store_true",
                    help="learn an orthogonal rotation (Ge et al. OPQ) "
                    "before quantizing; composes with --residual")
    bp.add_argument("--opq-iter", type=int, default=5)

    eh = add("extend-hnsw",
             help="ingest maintenance for the HNSW graph: index appended "
             "records (touched shards only) and record deletions as "
             "tombstones; changed vectors (same-id re-insert) refuse")
    eh.add_argument("--max-tombstones", type=int, default=4096)

    th = add("tombstone-hnsw",
             help="record deleted ids as HNSW tombstones so serving "
             "continues from the existing graph (pure deletes; widened "
             "beams — rebuild past --max-tombstones)")
    th.add_argument("--max-tombstones", type=int, default=4096)

    bh = add("build-hnsw", help="build/rebuild the HNSW graph tier")
    bh.add_argument("--m", type=int, default=16,
                    help="max neighbors per node per layer (2M at layer 0)")
    bh.add_argument("--ef-construction", type=int, default=100)
    bh.add_argument("--shards", type=int, default=None,
                    help="independent per-shard graphs (default: one per core)")

    add("compact", help="rewrite the records table with healthy file sizes")

    v = add("versions", help="retained table versions (time travel)")
    v.add_argument("--at", default=None, help="also count records AS OF this version")

    df = add("diff", help="snapshot delta: added/deleted/updated ids between versions")
    df.add_argument("--from", dest="from_version", required=True,
                    help="older version id (see `versions`)")
    df.add_argument("--to", dest="to_version", default=None,
                    help="newer version id (default: current)")

    ex = add("export-db",
             help="export a portable snapshot (open parquet + manifest) "
             "for cross-installation hand-off — the reference's "
             "whole-state snapshot as an open format instead of a "
             "bincode blob")
    ex.add_argument("--out", required=True, help="snapshot output directory")
    ex.add_argument("--since", default=None, metavar="SNAPSHOT_DIR",
                    help="write a DELTA snapshot: only records changed "
                    "since the PRIOR export at this directory (its "
                    "state/ signature table defines exactly what the "
                    "receiver has — sound under in-place appends, "
                    "unlike any as-of-version base), with base/end "
                    "fingerprints so application is provably "
                    "equivalent to a full export — the 100 TB sync path")
    ex.add_argument("--no-state", action="store_true",
                    help="terminal delta: skip the refreshed state/ "
                    "signature (needed only to chain a FURTHER delta; "
                    "it costs ~1-3%% of a full export per hop)")
    ex.add_argument("--overwrite", action="store_true")

    im = sub.add_parser(
        "import-db",
        help="import a portable snapshot into a NEW database: verifies "
        "count + fingerprint, bulk-loads the records, and rebuilds the "
        "recorded index tiers from their knobs",
    )
    im.add_argument("--dir", required=True,
                    help="destination database directory")
    im.add_argument("--src", required=True,
                    help="portable snapshot directory (from export-db)")
    im.add_argument("--no-rebuild", action="store_true",
                    help="skip index-tier rebuilds (records only)")
    im.add_argument("--no-verify", action="store_true",
                    help="skip the count+fingerprint check")
    im.add_argument("--overwrite", action="store_true")

    rd = sub.add_parser(
        "repair-delta",
        help="converge a database onto a delta's END state — recovers "
        "an import interrupted between its delete and insert (the "
        "crash window), using the delta's shipped state/ signature + "
        "payload; proven by the end fingerprint",
    )
    rd.add_argument("--dir", required=True,
                    help="destination database directory")
    rd.add_argument("--src", required=True,
                    help="delta snapshot directory (from export-db --since)")

    # ---- corpus family: no database directory involved ----
    cs = sub.add_parser(
        "corpus-to-shards",
        help="raw jsonl/WET corpus -> filtered, deduped, tokenized shards",
    )
    cs.add_argument("--in", dest="in_path", required=True)
    cs.add_argument("--out", required=True)
    cs.add_argument("--format", default="jsonl", choices=["jsonl", "wet"])
    cs.add_argument("--n-shards", type=int, default=8)
    cs.add_argument("--n-merges", type=int, default=256)
    cs.add_argument("--min-quality", type=int, default=3)
    cs.add_argument("--lang", default="en",
                    help="language filter; 'any' disables it")
    cs.add_argument("--near-threshold", type=float, default=0.5)

    cw = sub.add_parser(
        "corpus-to-wds",
        help="raw jsonl/WET corpus -> filtered, deduped WebDataset tar shards",
    )
    cw.add_argument("--in", dest="in_path", required=True)
    cw.add_argument("--out", required=True)
    cw.add_argument("--format", default="jsonl", choices=["jsonl", "wet"])
    cw.add_argument("--n-shards", type=int, default=8)
    cw.add_argument("--min-quality", type=int, default=3)
    cw.add_argument("--lang", default="en",
                    help="language filter; 'any' disables it")
    cw.add_argument("--near-threshold", type=float, default=0.5)

    sb = sub.add_parser(
        "sigindex-build", help="persist a near-dup signature index over a corpus"
    )
    sb.add_argument("--index", required=True, help="index directory")
    sb.add_argument("--docs", required=True,
                    help="parquet path with doc_id + text columns")
    sb.add_argument("--num-hashes", type=int, default=16)
    sb.add_argument("--band-size", type=int, default=2)
    sb.add_argument("--shingle-n", type=int, default=3)

    sp_ = sub.add_parser(
        "sigindex-probe",
        help="flag batch docs near-duplicating the indexed corpus",
    )
    sp_.add_argument("--index", required=True)
    sp_.add_argument("--batch", required=True,
                     help="parquet path with doc_id + text columns")
    sp_.add_argument("--threshold", type=float, default=0.5)
    sp_.add_argument("--limit", type=int, default=100,
                     help="max flagged rows to print (count is always exact)")

    se = sub.add_parser(
        "sigindex-extend",
        help="append a batch to the index (optionally scrubbing its dups first)",
    )
    se.add_argument("--index", required=True)
    se.add_argument("--batch", required=True)
    se.add_argument("--scrub", action="store_true",
                    help="probe first and exclude flagged dups from the append")
    se.add_argument("--threshold", type=float, default=0.5)

    au = sub.add_parser(
        "corpus-audit",
        help="run a data-quality audit over a data directory holding "
             "documents/embeddings/events parquet tables",
    )
    au.add_argument("--data", required=True,
                    help="directory with documents.parquet / "
                         "embeddings.parquet / events.parquet as needed")
    au.add_argument(
        "--audit", required=True,
        choices=["all", "tfidf-top-terms", "minhash-calibration",
                 "event-anomalies", "embedding-outliers", "label-separation",
                 "sq-reconstruction", "embedding-decontaminate",
                 "join-key-skew"],
    )
    au.add_argument("--limit", type=int, default=100,
                    help="max rows to print (count is always exact)")

    fz = sub.add_parser(
        "fuzzy-match",
        help="entity resolution lookup: for each input name, the "
             "reference names within Levenshtein distance --max-dist "
             "(SymSpell deletion banding + exact verify, never the "
             "quadratic join)",
    )
    fz.add_argument("--names", required=True,
                    help="text file with one name per line (or .parquet "
                    "with a name column)")
    fz.add_argument("--reference", required=True,
                    help="text file with one reference name per line "
                    "(or .parquet with a name column)")
    fz.add_argument("--max-dist", type=int, default=1, choices=[1, 2])
    fz.add_argument("--max-reference", type=int, default=200_000)
    fz.add_argument("--limit", type=int, default=100,
                    help="max match rows to print (count is always exact)")

    # ---- catalog family: named collections under one root ----
    # (the reference's v0.3-v0.6 multi-collection lineage,
    # /root/reference/docs/changelog.md:350-368)
    def add_cat(name, named=False, **kw):
        sp = sub.add_parser(name, **kw)
        sp.add_argument("--root", required=True, help="catalog root directory")
        if named:
            sp.add_argument("--name", required=True)
        return sp

    ci = add_cat("catalog-init", help="create an empty collection catalog")
    ci.add_argument("--overwrite", action="store_true")

    cc = add_cat("catalog-create", named=True,
                 help="create a named collection with its own parameters")
    cc.add_argument("--dimension", type=int, required=True)
    cc.add_argument("--metric", default="euclidean")
    cc.add_argument("--density", type=int, default=256)
    cc.add_argument("--relevancy", type=float, default=-1.0,
                    help="default max-distance cutoff for queries that "
                    "pass no --radius (<=0 disables)")
    cc.add_argument("--overwrite", action="store_true")

    _from_jdbc_flags(add_cat(
        "catalog-from-jdbc", named=True,
        help="bulk-load a named collection from a SQL table "
        "(the blue-green SQL-rebuild composition: load under a "
        "staging name, then catalog-swap)"))
    _sync_jdbc_flags(add_cat(
        "catalog-sync-jdbc", named=True,
        help="incremental watermark pull into a NAMED "
        "collection (sync-jdbc resolved through the catalog)"))
    _reconcile_jdbc_flags(add_cat(
        "catalog-reconcile-jdbc", named=True,
        help="content reconciliation of a NAMED collection "
        "against its SQL system of record (reconcile-jdbc "
        "resolved through the catalog)"))

    cl = add_cat("catalog-list", help="list collections (name + parameters)")
    cl.add_argument("--counts", action="store_true",
                    help="also count records per collection (a job each)")

    add_cat("catalog-drop", named=True, help="drop a named collection")

    cr = add_cat("catalog-rename", named=True,
                 help="atomically rename a collection (one manifest "
                 "write, no data movement)")
    cr.add_argument("--to", required=True)

    cx = add_cat("catalog-swap",
                 help="atomically exchange two collection names — the "
                 "blue-green reindex cut-over (build the re-indexed "
                 "copy under a staging name, swap, drop the staging "
                 "name holding the old data)")
    cx.add_argument("--a", required=True)
    cx.add_argument("--b", required=True)

    cv = add_cat("catalog-vacuum",
                 help="delete unreferenced collection directories "
                 "(crash residue from an interrupted create/drop/"
                 "replace)")
    cv.add_argument("--min-age", type=float, default=3600.0,
                    help="only remove residue older than this many "
                    "seconds (grace window against an in-flight "
                    "concurrent create); 0 if no concurrent writer "
                    "can exist")

    ce = add_cat("export-catalog",
                 help="export the whole catalog as a portable snapshot "
                 "(a manifest of per-collection manifests)")
    ce.add_argument("--out", required=True, help="snapshot output directory")
    ce.add_argument("--overwrite", action="store_true")

    cim = add_cat("import-catalog",
                  help="import a catalog snapshot into a NEW catalog: "
                  "verifies the collection set + every collection's "
                  "count/fingerprint, rebuilds recorded index tiers")
    cim.add_argument("--src", required=True,
                     help="catalog snapshot directory (from export-catalog)")
    cim.add_argument("--no-rebuild", action="store_true")
    cim.add_argument("--no-verify", action="store_true")
    cim.add_argument("--overwrite", action="store_true")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from oasysdb_spark.core.database import Database
    from oasysdb_spark.session import get_spark

    spark = get_spark(app_name=f"oasysdb_cli_{args.cmd}")

    if args.cmd == "configure":
        Database.configure(
            spark, args.dir, dimension=args.dimension, metric=args.metric,
            density=args.density, relevancy=args.relevancy,
            overwrite=args.overwrite,
        )
        _emit({"ok": True, "dir": args.dir})
        return 0

    if args.cmd.removeprefix("catalog-") in _JDBC_VERBS:
        _run_jdbc(spark, args)
        return 0

    if args.cmd == "corpus-to-shards":
        from oasysdb_spark.pipeline import corpus_to_shards

        manifest = corpus_to_shards(
            spark, args.in_path, args.out, fmt=args.format,
            min_quality=args.min_quality,
            lang=None if args.lang == "any" else args.lang,
            near_threshold=args.near_threshold,
            n_shards=args.n_shards, n_merges=args.n_merges,
        )
        _emit(manifest)
        return 0

    if args.cmd == "corpus-to-wds":
        from oasysdb_spark.pipeline import corpus_to_wds

        manifest = corpus_to_wds(
            spark, args.in_path, args.out, fmt=args.format,
            min_quality=args.min_quality,
            lang=None if args.lang == "any" else args.lang,
            near_threshold=args.near_threshold,
            n_shards=args.n_shards,
        )
        _emit(manifest)
        return 0

    if args.cmd.startswith("sigindex-"):
        from oasysdb_spark.operators import dedup_index

        if args.cmd == "sigindex-build":
            meta = dedup_index.build_signature_index(
                spark.read.parquet(args.docs), args.index,
                num_hashes=args.num_hashes, band_size=args.band_size,
                shingle_n=args.shingle_n,
            )
            _emit({"ok": True, **meta})
        elif args.cmd == "sigindex-probe":
            flagged = dedup_index.delta_near_dups(
                spark, spark.read.parquet(args.batch), args.index,
                threshold=args.threshold,
            ).cache()
            n = flagged.count()
            rows = [
                {"doc_id": r["doc_id"], "corpus_doc_id": r["corpus_doc_id"],
                 "jaccard": r["jaccard"]}
                for r in flagged.orderBy("doc_id").limit(args.limit).collect()
            ]
            flagged.unpersist()
            _emit({"n_flagged": n, "flagged": rows})
        else:  # sigindex-extend
            batch = spark.read.parquet(args.batch)
            exclude = None
            if args.scrub:
                exclude = dedup_index.delta_near_dups(
                    spark, batch, args.index, threshold=args.threshold
                ).select("doc_id")
            n = dedup_index.extend_signature_index(
                batch, args.index, exclude_ids=exclude
            )
            _emit({"ok": True, "n_appended": n})
        return 0

    if args.cmd == "fuzzy-match":
        from pyspark.sql import functions as F

        from oasysdb_spark.operators.similarity_join import (
            fuzzy_match_against,
        )

        def _names_df(path):
            if path.endswith(".parquet"):
                return spark.read.parquet(path).select("name")
            return spark.read.text(path).select(
                F.col("value").alias("name")
            ).where(F.length("name") > 0)

        flags = fuzzy_match_against(
            _names_df(args.names),
            _names_df(args.reference),
            max_dist=args.max_dist,
            max_reference=args.max_reference,
        ).cache()
        n = flags.count()
        rows = [
            r.asDict()
            for r in flags.orderBy("name", "ref_name").limit(args.limit).collect()
        ]
        flags.unpersist()
        _emit({"n_matches": n, "matches": rows})
        return 0

    if args.cmd == "corpus-audit":
        if args.audit == "all":
            from oasysdb_spark.pipeline import corpus_audit_report

            report = corpus_audit_report(spark, args.data, limit=args.limit)
            _emit({"audit": "all", "report": report}, default=str)
            return 0
        from oasysdb_spark.operators import dedup, embed, relational, temporal, textops
        from oasysdb_spark.operators import vectorops as vec

        audits = {
            "tfidf-top-terms": textops.tfidf_top_terms,
            "minhash-calibration": dedup.minhash_jaccard_calibration,
            "event-anomalies": temporal.event_rate_anomalies,
            "embedding-outliers": embed.embedding_outlier_stats,
            "label-separation": embed.label_centroid_similarity,
            "sq-reconstruction": vec.sq_reconstruction_stats,
            "embedding-decontaminate": dedup.embedding_decontaminate_stats,
            "join-key-skew": relational.join_key_skew_stats,
        }
        res = audits[args.audit](spark, args.data).cache()
        n = res.count()
        rows = [r.asDict() for r in res.limit(args.limit).collect()]
        res.unpersist()
        _emit({"audit": args.audit, "n_rows": n, "rows": rows}, default=str)
        return 0

    if args.cmd == "import-db":
        from oasysdb_spark.core.portable import (
            DELTA_FORMAT,
            MANIFEST_FILE,
            import_db,
            import_delta,
        )

        mpath = os.path.join(args.src, MANIFEST_FILE)
        fmt = None
        if os.path.exists(mpath):
            with open(mpath) as fh:
                fmt = json.load(fh).get("format")
        if fmt == DELTA_FORMAT:
            if args.overwrite or args.no_rebuild:
                print(
                    json.dumps({
                        "error": "--overwrite/--no-rebuild do not apply "
                        "to DELTA snapshots (a delta mutates an "
                        "existing database in place; tier maintenance "
                        "follows the normal mutation contract)"
                    }),
                    file=sys.stderr,
                )
                return 2
            db = import_delta(
                spark, args.src, args.dir, verify=not args.no_verify
            )
        else:
            db = import_db(
                spark, args.src, args.dir,
                rebuild_indexes=not args.no_rebuild,
                overwrite=args.overwrite,
                verify=not args.no_verify,
            )
        _emit({"ok": True, "dir": args.dir, "count": db.count()})
        return 0

    if args.cmd == "repair-delta":
        from oasysdb_spark.core.portable import repair_delta

        summary = repair_delta(spark, args.src, args.dir)
        _emit({"ok": True, "dir": args.dir, **summary})
        return 0

    if args.cmd.startswith("catalog-") or args.cmd.endswith("-catalog"):
        from oasysdb_spark.core.catalog import (
            Catalog,
            export_catalog,
            import_catalog,
        )

        if args.cmd == "catalog-init":
            Catalog.init(spark, args.root, overwrite=args.overwrite)
            _emit({"ok": True, "root": args.root})
        elif args.cmd == "catalog-create":
            Catalog.open(spark, args.root).create_collection(
                args.name, dimension=args.dimension, metric=args.metric,
                density=args.density, relevancy=args.relevancy,
                overwrite=args.overwrite,
            )
            _emit({"ok": True, "root": args.root, "name": args.name})
        elif args.cmd == "catalog-list":
            _emit({"collections": Catalog.open(spark, args.root)
                   .list_collections(counts=args.counts)})
        elif args.cmd == "catalog-drop":
            Catalog.open(spark, args.root).drop_collection(args.name)
            _emit({"ok": True, "root": args.root, "dropped": args.name})
        elif args.cmd == "catalog-rename":
            Catalog.open(spark, args.root).rename_collection(args.name, args.to)
            _emit({"ok": True, "root": args.root,
                   "renamed": args.name, "to": args.to})
        elif args.cmd == "catalog-swap":
            Catalog.open(spark, args.root).swap_collections(args.a, args.b)
            _emit({"ok": True, "root": args.root, "swapped": [args.a, args.b]})
        elif args.cmd == "catalog-vacuum":
            removed = Catalog.open(spark, args.root).vacuum(
                min_age_seconds=args.min_age
            )
            _emit({"ok": True, "root": args.root, "removed_dirs": removed})
        elif args.cmd == "export-catalog":
            manifest = export_catalog(
                Catalog.open(spark, args.root), args.out,
                overwrite=args.overwrite,
            )
            _emit({"ok": True, "out": args.out, **manifest})
        elif args.cmd == "import-catalog":
            cat = import_catalog(
                spark, args.src, args.root,
                rebuild_indexes=not args.no_rebuild,
                overwrite=args.overwrite,
                verify=not args.no_verify,
            )
            _emit({"ok": True, "root": args.root,
                   "collections": cat.list_collections(counts=True)})
        return 0

    db = Database.open(spark, args.dir)
    if args.cmd == "export-db":
        from oasysdb_spark.core.portable import export_db, export_delta

        if args.since:
            manifest = export_delta(
                db, args.out, args.since, overwrite=args.overwrite,
                write_state=not args.no_state,
            )
        else:
            manifest = export_db(db, args.out, overwrite=args.overwrite)
        _emit({"ok": True, "out": args.out, **manifest})
    elif args.cmd == "heartbeat":
        _emit({"version": db.heartbeat()})
    elif args.cmd == "snapshot":
        _emit({"count": db.snapshot()})
    elif args.cmd == "insert":
        meta = json.loads(args.metadata) if args.metadata else None
        rid = db.insert(_vector(args.vector), meta, record_id=args.record_id)
        _emit({"id": rid})
    elif args.cmd == "get":
        _emit(db.get(args.record_id))
    elif args.cmd == "delete":
        if args.ids_file:
            if args.ids_file.endswith(".parquet"):
                ids_df = spark.read.parquet(args.ids_file).select("id")
            else:
                ids_df = spark.read.text(args.ids_file).selectExpr(
                    "trim(value) AS id"
                ).where("id <> ''")
            before = db.count()
            db.delete(ids_df)
            _emit({"ok": True, "deleted_count": before - db.count()})
        else:
            db.delete(args.record_ids)
            _emit({"ok": True, "deleted": args.record_ids})
    elif args.cmd == "update":
        db.update_metadata(args.record_id, json.loads(args.metadata))
        _emit({"ok": True, "id": args.record_id})
    elif args.cmd == "query":
        kwargs = {}
        if args.probes is not None:
            kwargs["probes"] = args.probes
        if args.radius is not None:
            kwargs["radius"] = args.radius
        if args.approx is not None:
            kwargs["approx"] = args.approx
            kwargs["rerank"] = args.rerank
        res = db.query(_vector(args.vector), k=args.k,
                       filter=args.filter_expr, **kwargs)
        _emit({"results": res})
    elif args.cmd == "query-many":
        kwargs = {}
        if args.probes is not None:
            kwargs["probes"] = args.probes
        if args.radius is not None:
            kwargs["radius"] = args.radius
        if args.approx is not None:
            kwargs["approx"] = args.approx
            kwargs["rerank"] = args.rerank
        if args.vectors_file and args.vectors_file.endswith(".parquet"):
            queries = spark.read.parquet(args.vectors_file)
        elif args.vectors_file:
            with open(args.vectors_file) as fh:
                queries = [_vector(line) for line in fh if line.strip()]
        else:
            queries = [_vector(v) for v in args.vectors.split(";") if v.strip()]
        res = db.query_many(queries, k=args.k, filter=args.filter_expr, **kwargs)
        _emit({"results": {str(qid): hits for qid, hits in res.items()}})
    elif args.cmd == "build-index":
        from oasysdb_spark.index.ivf import build_index

        n = build_index(db, k=args.k, seed=args.seed)
        _emit({"ok": True, "n_clusters": n})
    elif args.cmd == "build-pq":
        from oasysdb_spark.index.pq import build_pq

        books = build_pq(
            db, m=args.m, nbits=args.nbits, seed=args.seed,
            residual=args.residual, opq=args.opq, opq_iter=args.opq_iter,
        )
        _emit({
            "ok": True,
            "m": books.shape[0],
            "codewords": books.shape[1],
            "residual": args.residual,
            "opq": args.opq,
        })
    elif args.cmd == "extend-hnsw":
        from oasysdb_spark.index.hnsw import extend_hnsw

        n = extend_hnsw(db, max_tombstones=args.max_tombstones)
        _emit({"ok": True, "n_new": n})
    elif args.cmd == "tombstone-hnsw":
        from oasysdb_spark.index.hnsw import tombstone_hnsw

        n = tombstone_hnsw(db, max_tombstones=args.max_tombstones)
        _emit({"ok": True, "n_tombstones": n})
    elif args.cmd == "build-hnsw":
        from oasysdb_spark.index.hnsw import build_hnsw

        n = build_hnsw(
            db, m=args.m, ef_construction=args.ef_construction,
            shards=args.shards,
        )
        _emit({"ok": True, "n_nodes": n})
    elif args.cmd == "compact":
        version = db.compact()
        _emit({"ok": True, "version": version})
    elif args.cmd == "versions":
        out = {"versions": db.versions(), "current": db.records.current_version()}
        if args.at:
            out["count_at"] = db.records_df_at(args.at).count()
        _emit(out)
    elif args.cmd == "diff":
        rows = db.diff(args.from_version, args.to_version).collect()
        _emit({
            "changes": sorted(
                ({"change": r["change"], "id": r["id"]} for r in rows),
                key=lambda c: (c["change"], c["id"]),
            )
        })
    return 0


if __name__ == "__main__":  # pragma: no cover - exercised via __main__
    sys.exit(main())
