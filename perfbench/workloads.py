"""The workloads: seeded inputs, the timed closed loop of each (one client
thread) and the checks of every output.

``ann_mixed_rw`` serves a Gaussian-mixture collection through
``Database``; the benchmark mirrors every insert, delete and
update in numpy (``Mirror``) and checks each answer against it, with
recall taken against the exact top-k over the live records.
``corpus_prepare`` runs ``prepare_training_corpus`` over a generated
corpus with planted duplicates and boilerplate.
"""

from __future__ import annotations

import contextlib
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import stats

DIM = 128
N_RECORDS = 4096  # default density 256 -> 16 IVF clusters
MIX_COMPONENTS = 64
MIX_SCALE = 0.6  # spread of the mixture centres; unit noise around each
K = 10
PROBES = 3  # of 16 clusters, so recall@10 stays below 1.0
BATCH = 16
INSERT_ROWS = 256
DELETE_IDS = 3
UPDATE_IDS = 8
PLAIN_QUERIES = 6  # per block of one insert, delete, update and batch
WARMUP_QUERIES = 6
N_DOCS = 500
CORPUS_WRITES = 3  # set-up repetitions of corpus_prepare; the median is reported

# (filter, selectivity predicate over the mirror's metadata arrays)
FILTERS = [
    ("n < 50", lambda m: m.num < 50),
    ("n >= 80", lambda m: m.num >= 80),
    ("cat = c3", lambda m: m.cat == 3),
    ("flag = true", lambda m: m.flag),
    ("n < 40 AND flag = false", lambda m: (m.num < 40) & ~m.flag),
]

# the 30 words the text of the `documents` fixture table (FIXTURES.md) is
# drawn from; generated docs are word salad over them, like the fixture
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
STOP = ("the", "a")
BOILERPLATE = "click here to subscribe and share this page with your friends today"

RECORD_ARROW = pa.schema([
    ("id", pa.string()),
    ("embedding", pa.list_(pa.float32())),
    ("m_text", pa.map_(pa.string(), pa.string())),
    ("m_num", pa.map_(pa.string(), pa.float64())),
    ("m_bool", pa.map_(pa.string(), pa.bool_())),
])
UPDATE_SCHEMA = ("id string, m_text map<string,string>, m_num map<string,double>, "
                 "m_bool map<string,boolean>")


class BadOutput(Exception):
    """An op returned, but its output is wrong."""


def expect(cond, msg):
    if not cond:
        raise BadOutput(msg)


# ----------------------------------------------------------------------
# results
# ----------------------------------------------------------------------


class Results:
    """Counts and samples of one run. Only ops whose output checked out
    contribute latencies."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.lat = {}  # op kind -> seconds
        self.recalls = []
        self.rows_examined = []  # rows in the probed clusters / k, per query
        self.setup = []  # seconds per set-up repetition
        self.extra = {}  # end-to-end values a workload computes itself
        self.layer = {}  # per-layer values a workload computes itself

    def note(self, msg):
        print(f"perfbench: {msg}", flush=True)


class Runner:
    """Runs ops in a closed loop, one at a time, and books their outcome."""

    def __init__(self, res, tracer):
        self.res = res
        self.tracer = tracer

    def op(self, kind, call, check, timed=True, **info):
        """Run ``call``, then ``check(output)``; return whether both went
        through. In traced mode the set-up and every timed op are traced;
        untimed warm-up ops are not."""
        res = self.res
        res.attempted += 1
        traced = self.tracer is not None and (timed or kind == "setup")
        ctx = self.tracer.op(kind, traced, **info) if self.tracer else contextlib.nullcontext()
        try:
            with ctx:
                t0 = time.perf_counter()
                out = call()
                dt = time.perf_counter() - t0
            check(out)
        except Exception as exc:  # an op failure is counted, never fatal
            res.failed += 1
            res.note(f"{kind} op failed: {type(exc).__name__}: {str(exc)[:300]}")
            return False
        if timed:
            res.lat.setdefault(kind, []).append(dt)
        return True


# ----------------------------------------------------------------------
# vector collection
# ----------------------------------------------------------------------


class Mirror:
    """The benchmark's own copy of the live records."""

    def __init__(self):
        self.ids = []
        self.row = {}
        self.vecs = np.zeros((0, DIM), dtype=np.float32)
        self.cat = np.zeros(0, dtype=np.int64)
        self.num = np.zeros(0, dtype=np.float64)
        self.flag = np.zeros(0, dtype=bool)
        self.alive = np.zeros(0, dtype=bool)

    def add(self, ids, vecs, cat, num, flag):
        for i, rid in enumerate(ids):
            self.row[rid] = len(self.ids) + i
        self.ids.extend(ids)
        self.vecs = np.concatenate([self.vecs, vecs])
        self.cat = np.concatenate([self.cat, cat])
        self.num = np.concatenate([self.num, num])
        self.flag = np.concatenate([self.flag, flag])
        self.alive = np.concatenate([self.alive, np.ones(len(ids), dtype=bool)])

    def kill(self, ids):
        for rid in ids:
            self.alive[self.row[rid]] = False

    def set_meta(self, ids, cat, num, flag):
        rows = [self.row[r] for r in ids]
        self.cat[rows], self.num[rows], self.flag[rows] = cat, num, flag

    def meta(self, rid):
        r = self.row[rid]
        return {"cat": f"c{self.cat[r]}", "n": float(self.num[r]), "flag": bool(self.flag[r])}

    def live_ids(self):
        return [self.ids[r] for r in np.flatnonzero(self.alive)]

    def truth(self, q, pred):
        """Exact top-K ids over the live records that pass ``pred``,
        ordered by (distance, id) like the database."""
        mask = self.alive if pred is None else self.alive & pred(self)
        rows = np.flatnonzero(mask)
        d = ((self.vecs[rows].astype(np.float64) - q) ** 2).sum(axis=1)
        order = sorted(range(len(rows)), key=lambda i: (d[i], self.ids[rows[i]]))[:K]
        return [self.ids[rows[i]] for i in order]

    def raw_bytes(self):
        """Bytes of the live records as a user hands them over: id, float32
        vector and metadata keys and values (8-byte numbers, 1-byte bools)."""
        live = np.flatnonzero(self.alive)
        per_meta = len("cat") + 2 + len("n") + 8 + len("flag") + 1
        return int(sum(len(self.ids[r]) for r in live) + len(live) * (4 * DIM + per_meta))


class Mixture:
    """Seeded Gaussian mixture: records, queries and metadata."""

    def __init__(self, rng):
        self.rng = rng
        self.centres = rng.normal(size=(MIX_COMPONENTS, DIM)) * MIX_SCALE

    def vectors(self, n):
        comp = self.rng.integers(MIX_COMPONENTS, size=n)
        return (self.centres[comp] + self.rng.normal(size=(n, DIM))).astype(np.float32)

    def metadata(self, n):
        return (self.rng.integers(10, size=n), self.rng.integers(100, size=n).astype(np.float64),
                self.rng.random(n) < 0.5)


def _record_table(ids, vecs, cat, num, flag):
    return pa.table({
        "id": ids,
        "embedding": [v.tolist() for v in vecs],
        "m_text": [[("cat", f"c{c}")] for c in cat],
        "m_num": [[("n", float(x))] for x in num],
        "m_bool": [[("flag", bool(b))] for b in flag],
    }, schema=RECORD_ARROW)


def _dir_usage(path):
    files = size = 0
    for base, _, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(base, name))
    return files, size


def _centroid_table(db):
    """(cluster ids, centroid matrix, sizes) read from the centroids
    table's files, outside Spark."""
    t = pq.read_table(db.centroids.current_path(), columns=["cluster_id", "centroid", "size"])
    return (np.asarray(t["cluster_id"].to_pylist()),
            np.asarray(t["centroid"].to_pylist(), dtype=np.float64),
            np.asarray(t["size"].to_pylist(), dtype=np.float64))


def _rows_examined(cents, q):
    """Rows in the PROBES clusters nearest to ``q``, per result."""
    _, mat, sizes = cents
    d = ((mat - q) ** 2).sum(axis=1)
    return float(sizes[np.argsort(d, kind="stable")[:PROBES]].sum()) / K


class Collection:
    """A served collection and the checks of its answers."""

    def __init__(self, db, mirror, res):
        self.db, self.mirror, self.res = db, mirror, res
        self.deleted = set()
        self.cents = None

    def check_answer(self, q, pred, rows):
        m = self.mirror
        expect(1 <= len(rows) <= K, f"{len(rows)} results for k={K}")
        dists = [r["distance"] for r in rows]
        expect(dists == sorted(dists), "results not in ascending distance")
        for r in rows:
            rid = r["id"]
            expect(rid not in self.deleted, f"deleted id {rid} came back")
            expect(rid in m.row and m.alive[m.row[rid]], f"unknown id {rid}")
            expect(r["metadata"] == m.meta(rid), f"stale metadata for {rid}")
            exact = float(((m.vecs[m.row[rid]].astype(np.float64) - q) ** 2).sum())
            expect(abs(r["distance"] - exact) <= 1e-4 * max(1.0, exact),
                   f"distance {r['distance']} != {exact} for {rid}")
            if pred is not None:
                expect(bool(pred(m)[m.row[rid]]), f"{rid} does not pass the filter")
        self.res.recalls.append(stats.recall([r["id"] for r in rows], m.truth(q, pred)))
        if self.cents is not None:
            self.res.rows_examined.append(_rows_examined(self.cents, q))

    def query(self, run, q, filt, timed=True):
        expr, pred = filt if filt else (None, None)
        qv = q.astype(np.float64)
        return run.op(
            "query", lambda: self.db.query(qv.tolist(), K, filter=expr, probes=PROBES),
            lambda rows: self.check_answer(qv, pred, rows), timed=timed, filtered=bool(expr))

    def batch(self, run, qs, timed=True):
        qvs = qs.astype(np.float64)

        def check(out):
            expect(sorted(out) == list(range(len(qvs))), "batch lost a query")
            for i, q in enumerate(qvs):
                self.check_answer(q, None, out[i])

        ok = run.op("batch", lambda: self.db.query_many(qvs.tolist(), K, probes=PROBES),
                    check, timed=timed)
        if ok and timed:
            self.res.extra["batch_queries"] = self.res.extra.get("batch_queries", 0) + len(qvs)

    def check_self_hit(self, run, rid, filt=None, timed=True):
        """A read after a write: the record's own vector must find it at
        distance 0 with its current metadata, through ``filt`` if given."""
        m = self.mirror
        q = m.vecs[m.row[rid]].astype(np.float64)
        expr, pred = filt if filt else (None, None)

        def check(rows):
            self.check_answer(q, pred, rows)
            expect(rows[0]["id"] == rid and rows[0]["distance"] == 0.0,
                   f"{rid} is not its own nearest neighbour: {rows[0]}")

        return run.op(
            "query", lambda: self.db.query(q.tolist(), K, filter=expr, probes=PROBES), check,
            timed=timed, filtered=bool(expr))

    def check_deleted(self, run, rid, timed=True):
        m = self.mirror
        q = m.vecs[m.row[rid]].astype(np.float64)

        def check(rows):
            self.check_answer(q, None, rows)
            expect(all(r["id"] != rid for r in rows), f"deleted {rid} still served")

        return run.op("query", lambda: self.db.query(q.tolist(), K, probes=PROBES), check,
                      timed=timed, filtered=False)

    def footprint(self):
        """Files and bytes in the records table's current version, and
        those bytes per byte of live user data."""
        files, size = _dir_usage(self.db.records.current_path())
        return files, size, size / self.mirror.raw_bytes()


def setup_collection(spark, run, workdir, seed):
    """Generate the collection, load it with one insert_batch and build the
    IVF index at the default density. Returns the database, the mirror of
    its records and the mixture that made them."""
    from oasysdb_spark.core.database import Database
    from oasysdb_spark.index import ivf

    t0 = time.perf_counter()
    mix = Mixture(np.random.default_rng(seed))
    vecs = mix.vectors(N_RECORDS)
    cat, num, flag = mix.metadata(N_RECORDS)
    ids = [f"r{i:06d}" for i in range(N_RECORDS)]
    path = os.path.join(workdir, "records.parquet")
    pq.write_table(_record_table(ids, vecs, cat, num, flag), path)
    made = {}

    def load():
        made["db"] = db = Database.configure(spark, os.path.join(workdir, "db"), dimension=DIM)
        db.insert_batch(spark.read.parquet(path))
        ivf.build_index(db)
        return db

    if not run.op("setup", load, lambda db: expect(db.is_indexed(), "no index"), timed=False):
        raise RuntimeError("set-up failed")
    run.res.setup.append(time.perf_counter() - t0)
    mirror = Mirror()
    mirror.add(ids, vecs, cat, num, flag)
    return made["db"], mirror, mix


# ----------------------------------------------------------------------
# workloads
# ----------------------------------------------------------------------


def ann_mixed_rw(spark, run, workdir, seed, seconds):
    """Single queries and query_many batches interleave with insert_batch,
    delete and update_metadata_batch in a fixed ratio, in a seeded order;
    a read checks every write. Every second plain query carries a
    metadata filter of one of five selectivities, and the read after an
    update filters on the updated value."""
    from oasysdb_spark.core.database import RECORD_SCHEMA

    res = run.res
    db, mirror, mix = setup_collection(spark, run, workdir, seed)
    col = Collection(db, mirror, res)
    col.cents = _centroid_table(db)
    rng = np.random.default_rng([seed, 2])
    # warm-up, checked but not timed: the driver-side query path is still
    # getting faster over its first few calls
    for i in range(WARMUP_QUERIES):
        col.query(run, mix.vectors(1)[0], FILTERS[i % len(FILTERS)] if i % 2 else None,
                  timed=False)
    col.batch(run, mix.vectors(BATCH), timed=False)
    n_ins = n_single = 0

    def insert():
        nonlocal n_ins
        vecs = mix.vectors(INSERT_ROWS)
        cat, num, flag = mix.metadata(INSERT_ROWS)
        ids = [f"i{n_ins:03d}-{j:03d}" for j in range(INSERT_ROWS)]
        n_ins += 1
        rows = [(rid, v.tolist(), {"cat": f"c{c}"}, {"n": float(x)}, {"flag": bool(b)})
                for rid, v, c, x, b in zip(ids, vecs, cat, num, flag)]
        df = spark.createDataFrame(rows, RECORD_SCHEMA)
        probe = ids[rng.integers(INSERT_ROWS)]
        if run.op("insert", lambda: db.insert_batch(df), lambda _: None):
            mirror.add(ids, vecs, cat, num, flag)
            col.cents = _centroid_table(db)
            col.check_self_hit(run, probe)

    def delete():
        live = mirror.live_ids()
        ids = [live[i] for i in rng.choice(len(live), size=DELETE_IDS, replace=False)]
        if run.op("delete", lambda: db.delete(ids), lambda _: None):
            mirror.kill(ids)
            col.deleted.update(ids)
            col.cents = _centroid_table(db)
            col.check_deleted(run, ids[0])

    def update():
        live = mirror.live_ids()
        ids = [live[i] for i in rng.choice(len(live), size=UPDATE_IDS, replace=False)]
        cat, num, flag = mix.metadata(UPDATE_IDS)
        rows = [(rid, {"cat": f"c{c}"}, {"n": float(x)}, {"flag": bool(b)})
                for rid, c, x, b in zip(ids, cat, num, flag)]
        df = spark.createDataFrame(rows, UPDATE_SCHEMA)
        if run.op("update", lambda: db.update_metadata_batch(df), lambda _: None):
            mirror.set_meta(ids, cat, num, flag)
            # the new metadata must be what the filter sees
            c = int(cat[0])
            col.check_self_hit(run, ids[0], (f"cat = c{c}", lambda mm: mm.cat == c))

    def plain_query():
        nonlocal n_single
        filt = FILTERS[rng.integers(len(FILTERS))] if n_single % 2 else None
        n_single += 1
        col.query(run, mix.vectors(1)[0], filt)

    def batch():
        col.batch(run, mix.vectors(BATCH))

    block = [insert, delete, update, batch] + [plain_query] * PLAIN_QUERIES
    # whole blocks in seeded orders until the deadline, so every run holds
    # the same mix of ops
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline:
        for i in rng.permutation(len(block)):
            block[i]()
    # ops per second of the time spent in them: the client's own input
    # building and answer checks between ops do not count
    times = [t for v in res.lat.values() for t in v]
    if times:
        res.extra["mixed_ops_per_s"] = len(times) / sum(times)
    if res.lat.get("batch"):
        res.extra["batch_qps"] = res.extra["batch_queries"] / sum(res.lat["batch"])
    files, size, ratio = col.footprint()
    res.extra["disk_bytes_per_user_byte"] = ratio
    res.layer["tables.files_in_version"] = files
    res.layer["tables.bytes_in_version"] = size


# ----------------------------------------------------------------------
# corpus
# ----------------------------------------------------------------------


def make_corpus(rng, n_docs):
    """Word-salad docs over the fixture vocabulary with planted exact
    copies, near-copies and a boilerplate line. Returns (docs, planted
    exact copies, planted near-copies). Planted docs are built to pass
    every quality and repetition rule and to share no frequent n-gram
    with each other, so the boilerplate scrub keeps them: the 28
    non-stopwords and each stopword once, in a seeded order."""
    words = [w for w in VOCAB if w not in STOP]

    def clean_doc():
        return " ".join(rng.permutation(words + list(STOP)))

    n_copies = n_docs // 20
    n_near = n_docs // 50
    originals = [clean_doc() for _ in range(n_copies)]
    texts = originals + list(originals)
    for src in originals[:n_near]:
        toks = src.split()
        j = next(i for i, t in enumerate(toks) if t not in STOP)
        toks[j] = words[(words.index(toks[j]) + 1) % len(words)]
        texts.append(" ".join(toks))
    while len(texts) < n_docs:
        doc = " ".join(rng.choice(VOCAB, size=int(rng.integers(20, 90))))
        if rng.random() < 0.1:
            doc = f"{doc} {BOILERPLATE}"
        texts.append(doc)
    texts = [texts[i] for i in rng.permutation(len(texts))]
    return texts, n_copies, n_near


def _write_corpus(texts, path):
    os.makedirs(path, exist_ok=True)
    n = len(texts)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": ["en"] * n,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(path, "documents.parquet"))


def corpus_prepare(spark, run, workdir, seed, seconds):
    """Calls of prepare_training_corpus until the deadline. The first call
    is timed as well: a corpus job runs once in a fresh session, so that
    call is the one its user waits for. The stage counts must agree
    across calls and exact dedup must remove at least the planted copies.
    Its answer recall is the share of planted exact and near copies that
    dedup removed."""
    from oasysdb_spark.operators import textops

    res = run.res
    made = {}

    def once(rep):
        t0 = time.perf_counter()
        texts, copies, near = make_corpus(np.random.default_rng(seed), N_DOCS)
        path = os.path.join(workdir, f"corpus{rep}")
        _write_corpus(texts, path)
        res.setup.append(time.perf_counter() - t0)
        made.update(path=path, copies=copies, near=near)

    for rep in range(CORPUS_WRITES):
        once(rep)
    path, copies, near = made["path"], made["copies"], made["near"]
    first = {}

    def check(row):
        counts = row.asDict()
        expect(counts["n_raw"] == N_DOCS, f"n_raw {counts['n_raw']} != {N_DOCS}")
        expect(counts["n_boiler_kept"] - counts["n_exact_unique"] >= copies,
               f"exact dedup removed fewer than the {copies} planted copies: {counts}")
        expect(counts["n_neardup_unique"] < counts["n_exact_unique"], "no near-copy removed")
        expect(counts["n_boiler_kept"] < counts["n_rep_kept"], "no boilerplate doc dropped")
        expect(first.setdefault("counts", counts) == counts,
               f"stage counts changed between calls: {first['counts']} vs {counts}")

    def call():
        return textops.prepare_training_corpus(spark, path).collect()[0]

    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline:
        run.op("corpus", call, check)
    if res.lat.get("corpus"):
        res.extra["corpus_docs_per_s"] = N_DOCS / stats.median(res.lat["corpus"])
    if "counts" in first:
        c = first["counts"]
        found = (min(c["n_boiler_kept"] - c["n_exact_unique"], copies)
                 + min(c["n_exact_unique"] - c["n_neardup_unique"], near))
        res.recalls.append(found / (copies + near))


WORKLOADS = {
    "ann_mixed_rw": ann_mixed_rw,
    "corpus_prepare": corpus_prepare,
}
