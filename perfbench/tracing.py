"""Traced mode: spans around the package's public functions, set from
outside the package.

``Tracer.install`` replaces each traced function or method with a wrapper
that records a span (name, start, end, parent, op id) while the tracer is
active and is a plain pass-through otherwise. Every span runs its Spark
jobs under a job group of its own, so ``SparkContext.statusTracker()``
attributes jobs, stages and tasks to the innermost span and thus to its
op. ``uninstall`` puts the original functions back.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import time

import stats

# (module, attribute owner, attribute, span name); an owner of None means
# the module itself. Span names are "<layer>.<function>".
TRACED = [
    ("oasysdb_spark.core.tables", "VersionedTable", "read", "tables.read"),
    ("oasysdb_spark.core.tables", "VersionedTable", "append", "tables.append"),
    ("oasysdb_spark.core.tables", "VersionedTable", "rewrite_partitions",
     "tables.rewrite_partitions"),
    ("oasysdb_spark.core.tables", "VersionedTable", "write", "tables.write"),
    ("oasysdb_spark.core.database", "Database", "query", "database.query"),
    ("oasysdb_spark.core.database", "Database", "query_df", "database.query_df"),
    ("oasysdb_spark.core.database", "Database", "query_many", "database.query_many"),
    ("oasysdb_spark.core.database", "Database", "query_many_df",
     "database.query_many_df"),
    ("oasysdb_spark.core.database", "Database", "insert_batch", "database.insert_batch"),
    ("oasysdb_spark.core.database", "Database", "delete", "database.delete"),
    ("oasysdb_spark.core.database", "Database", "update_metadata_batch",
     "database.update_metadata_batch"),
    ("oasysdb_spark.core.database", "Database", "centroid_rows", "database.centroid_rows"),
    ("oasysdb_spark.core.database", "Database", "is_indexed", "database.is_indexed"),
    # the database module binds compile_filter when it is imported
    ("oasysdb_spark.core.database", None, "compile_filter", "filters.compile_filter"),
    ("oasysdb_spark.index.ivf", None, "build_index", "ivf.build_index"),
    ("oasysdb_spark.index.ivf", None, "assign_clusters", "ivf.assign_clusters"),
    ("oasysdb_spark.index.ivf", None, "topk_cluster_assigner", "ivf.topk_cluster_assigner"),
    ("oasysdb_spark.sources.tables", None, "spread_scan", "sources.spread_scan"),
    ("oasysdb_spark.operators.textops", None, "prepare_training_corpus",
     "textops.prepare_training_corpus"),
    ("oasysdb_spark.operators.textops", None, "exact_then_near_dedup",
     "textops.exact_then_near_dedup"),
    ("oasysdb_spark.operators.dedup", None, "dedup_components", "dedup.dedup_components"),
]

# span-name prefix -> layer; "op" is the benchmark's own root span, whose
# self time is the part of an op that no layer span covers
LAYERS = {
    "tables": "core.tables",
    "database": "core.database",
    "filters": "filters",
    "ivf": "index.ivf",
    "sources": "sources.tables",
    "textops": "operators",
    "dedup": "operators",
    "op": "unattributed",
}

# spans whose returned DataFrame the op's action runs; its Catalyst phase
# times are read after the op
_FRAME_SPANS = ("database.query_df", "database.query_many_df",
                "textops.prepare_training_corpus")
_GROUP = "spark.jobGroup.id"


def layer_of(name):
    return LAYERS[name.split(".", 1)[0]]


class _Op:
    def __init__(self, tracer, kind, traced, info):
        self.tracer, self.kind, self.traced, self.info = tracer, kind, traced, info

    def __enter__(self):
        t = self.tracer
        t.active = self.traced
        if self.traced:
            t._op = next(t._ids)
            t.info[t._op] = self.info
            self.sid = t._open(f"op.{self.kind}")
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if self.traced:
            t._close(self.sid)
            t._op = None
        t.active = False
        return False


class Tracer:
    """Spans of one run, kept in memory until the run ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.spans = {}  # span id -> {name, parent, op, start, end}
        self.frames = {}  # op id -> DataFrame a _FRAME_SPANS function returned
        self.info = {}  # op id -> what the workload noted about the op
        self._ids = itertools.count(1)
        self._stack = []
        self._op = None
        self._originals = []
        self.span_cost = 0.0  # seconds one span adds to its op; see install

    # -- spans ----------------------------------------------------------

    def _open(self, name):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self.spans[sid] = {"name": name, "parent": parent, "op": self._op,
                           "start": time.perf_counter(), "end": None}
        self._stack.append(sid)
        self.sc.setLocalProperty(_GROUP, f"pb{sid}")
        return sid

    def _close(self, sid):
        self.spans[sid]["end"] = time.perf_counter()
        self._stack.pop()
        self.sc.setLocalProperty(_GROUP, f"pb{self._stack[-1]}" if self._stack else None)

    def op(self, kind, traced, **info):
        """Context for one benchmark op. When ``traced``, its root span is
        ``op.<kind>``, the wrappers record spans inside it and ``info`` is
        kept with its record."""
        return _Op(self, kind, traced, info)

    # -- wrappers -------------------------------------------------------

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            sid = tracer._open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(sid)
            if name in _FRAME_SPANS:
                tracer.frames[tracer._op] = out
            return out

        return wrapper

    def install(self):
        for module, owner, attr, name in TRACED:
            target = importlib.import_module(module)
            if owner is not None:
                target = getattr(target, owner)
            original = getattr(target, attr)
            self._originals.append((target, attr, original))
            setattr(target, attr, self._wrap(original, name))
        self.span_cost = self._measure_span_cost()

    def _measure_span_cost(self, n=200):
        """Seconds a span adds to the op it is in: a wrapped no-op against
        the bare one, with the tracer active. Its spans belong to no op and
        are dropped."""
        def noop():
            return None

        wrapped = self._wrap(noop, "calibration")
        self.active = True
        t0 = time.perf_counter()
        for _ in range(n):
            wrapped()
        t1 = time.perf_counter()
        for _ in range(n):
            noop()
        t2 = time.perf_counter()
        self.active = False
        self.spans = {sid: s for sid, s in self.spans.items() if s["name"] != "calibration"}
        return max(0.0, (t1 - t0) - (t2 - t1)) / n

    def uninstall(self):
        for target, attr, original in reversed(self._originals):
            setattr(target, attr, original)
        self._originals.clear()

    # -- read-out -------------------------------------------------------

    def _catalyst_phases(self, op_id):
        """Catalyst phase ms of the frame a _FRAME_SPANS function returned
        in the op, read after the action on it ran."""
        df = self.frames.get(op_id)
        if df is None:
            return {}
        out = {}
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = float(kv._2().durationMs())
        return out

    def _spark_counters(self, st, sid):
        """[jobs, stages run, tasks run, failed tasks] of one span's group."""
        jobs = stages = tasks = failed = 0
        for jid in st.getJobIdsForGroup(f"pb{sid}"):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for stage_id in info.stageIds:
                si = st.getStageInfo(stage_id)
                if si is None:
                    continue
                stages += bool(si.numCompletedTasks or si.numFailedTasks)
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        return [jobs, stages, tasks, failed]

    def _wait_for_listeners(self, timeout=10.0):
        """Job events reach the status store asynchronously: wait until no
        job is active, then give the listener bus a moment to drain."""
        st = self.sc.statusTracker()
        deadline = time.perf_counter() + timeout
        while st.getActiveJobsIds() and time.perf_counter() < deadline:
            time.sleep(0.05)
        time.sleep(0.5)

    def op_records(self):
        """One record per traced op: kind, wall seconds, and per span name
        the self seconds, inclusive seconds, call count and the jobs each
        call ran (children included); plus the op's Spark counters,
        Catalyst phases and self seconds per layer."""
        self._wait_for_listeners()
        st = self.sc.statusTracker()
        closed = {sid: s for sid, s in self.spans.items() if s["end"] is not None}
        own = stats.self_times({sid: (s["parent"], s["start"], s["end"])
                                for sid, s in closed.items()})
        counters = {sid: self._spark_counters(st, sid)
                    for sid, s in closed.items() if s["op"] is not None}
        # jobs a span ran itself or through its children; a child's id is
        # always larger than its parent's
        incl_jobs = {sid: c[0] for sid, c in counters.items()}
        for sid in sorted(incl_jobs, reverse=True):
            parent = closed[sid]["parent"]
            if parent in incl_jobs:
                incl_jobs[parent] += incl_jobs[sid]
        ops = {}
        for sid, s in closed.items():
            if s["op"] is None:
                continue
            rec = ops.setdefault(s["op"], {"self": {}, "incl": {}, "calls": {},
                                           "jobs": {}, "spark": [0, 0, 0, 0]})
            name = s["name"]
            if name.startswith("op."):
                rec["kind"] = name[3:]
                rec["wall"] = s["end"] - s["start"]
            rec["self"][name] = rec["self"].get(name, 0.0) + own[sid]
            rec["incl"][name] = rec["incl"].get(name, 0.0) + (s["end"] - s["start"])
            rec["calls"][name] = rec["calls"].get(name, 0) + 1
            rec["jobs"].setdefault(name, []).append(incl_jobs[sid])
            rec["spark"] = [a + b for a, b in zip(rec["spark"], counters[sid])]
        for op_id, rec in ops.items():
            rec["info"] = self.info.get(op_id, {})
            rec["phases"] = self._catalyst_phases(op_id)
            rec["layers"] = {}
            for name, t in rec["self"].items():
                layer = layer_of(name)
                rec["layers"][layer] = rec["layers"].get(layer, 0.0) + t
        return [ops[k] for k in sorted(ops)]

    def span_dump(self):
        return [dict(id=sid, **s) for sid, s in self.spans.items()]
