"""Serving and corpus benchmark of oasysdb_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ann_mixed_rw --seed 1 --seconds 5 --trace 0

``--trace 0`` measures the end-to-end metrics with nothing wrapped; a
line before the result gives the workload's own metrics by name.
``--trace 1`` wraps the package's public functions (see tracing.py),
traces the set-up and every timed op and reports the per-layer metrics,
with the tracing overhead measured from the cost of one span. The last
line of standard output is one JSON object: correct, attempted, failed,
metrics. Spans and per-op layer times of a traced run are written to
``.perfbench_out/``. README.md describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import workloads  # noqa: E402

DRIVER_MEMORY = "1g"  # far below the RAM of a small host; the inputs are tiny


def pin_environment(root, workdir):
    """Environment of the Spark driver and its Python workers: every core
    this process may use, a bounded driver heap, scratch space inside the
    run's own directory, and the checkout on the workers' import path."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(workdir, "warehouse")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if root not in sys.path:
        sys.path.insert(0, root)


def start_spark(workdir):
    from oasysdb_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        # the traced mode reads every job of the run back from the status store
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "20000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark):
    """Stop the session and wait for the JVM (and its Python workers) to
    exit. A JVM that is already gone only needs its process reaped."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Py4JError:
        traceback.print_exc()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _hwm_kb(pid):
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb():
    """Peak resident set of this Python driver plus the Spark JVM."""
    from pyspark import SparkContext

    kb = _hwm_kb(os.getpid())
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        kb += _hwm_kb(proc.pid)
    return kb / 1024


# ----------------------------------------------------------------------
# metrics
# ----------------------------------------------------------------------

# The end-to-end metrics of the result line, the same on every workload
# (BENCHMARK.json lists them). Each is one of the workload's own metrics:
#   op_p50_ms        ann_mixed_rw: query_p50_ms; corpus_prepare: median
#                    prepare_training_corpus call
#   throughput_per_s ann_mixed_rw: mixed_ops_per_s; corpus_prepare:
#                    corpus_docs_per_s
#   answer_recall    ann_mixed_rw: recall_at_10; corpus_prepare: share of
#                    the planted duplicates that dedup removed
E2E = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "answer_recall": "fraction",
    "peak_rss_mb": "MB",
}
HEADLINE = {  # workload -> (op kind of op_p50_ms, source of throughput_per_s)
    "ann_mixed_rw": ("query", "mixed_ops_per_s"),
    "corpus_prepare": ("corpus", "corpus_docs_per_s"),
}

# The per-layer metrics of a traced run, on every workload; a function a
# workload never calls reads 0.
PER_LAYER = {
    "tables.read_ms": "ms",
    "tables.read_calls_per_op": "count",
    "tables.read_share_of_query_p50": "fraction",
    "tables.append_ms": "ms",
    "tables.rewrite_partitions_ms": "ms",
    "tables.write_ms": "ms",
    "tables.files_in_version": "count",
    "tables.bytes_in_version": "bytes",
    "database.query_df_self_ms": "ms",
    "database.is_indexed_calls_per_op": "count",
    "database.collect_ms": "ms",
    "database.query_many_df_self_ms": "ms",
    "database.insert_batch_self_ms": "ms",
    "database.delete_self_ms": "ms",
    "database.update_metadata_batch_self_ms": "ms",
    "database.centroid_rows_ms": "ms",
    "database.centroid_rows_nojob_share": "fraction",
    "ivf.build_index_s": "s",
    "ivf.assign_clusters_ms": "ms",
    "ivf.topk_cluster_assigner_ms": "ms",
    "ivf.rows_examined_per_result": "rows",
    "filters.compile_filter_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "sources.spread_scan_ms": "ms",
    "textops.prepare_training_corpus_self_ms": "ms",
    "textops.exact_then_near_dedup_ms": "ms",
    "dedup.dedup_components_ms": "ms",
    "trace.overhead_pct": "%",
    "trace.unattributed_ms": "ms",
    "trace.unattributed_pct": "%",
}


def workload_metrics(res, session_s):
    """The workload's own end-to-end metrics, by the names they have in
    the benchmark's documentation: (value, unit) each."""
    m = {"setup_s": (session_s + stats.median(res.setup), "s")}
    lat = res.lat
    if "query" in lat:
        q = [t * 1000 for t in lat["query"]]
        p, value, beyond = stats.tail(q)
        m["query_p50_ms"] = (stats.median(q), "ms")
        m["query_tail_ms"] = (value, f"ms (p{p} of {len(q)}, {beyond} beyond)")
        if res.recalls:
            m["recall_at_10"] = (sum(res.recalls) / len(res.recalls), "fraction")
    for kind in ("insert", "delete", "update"):
        if kind in lat:
            m[f"{kind}_p50_ms"] = (stats.median(lat[kind]) * 1000, "ms")
    units = {"batch_qps": "queries/s", "mixed_ops_per_s": "ops/s",
             "corpus_docs_per_s": "docs/s", "disk_bytes_per_user_byte": "ratio"}
    for name, unit in units.items():
        if name in res.extra:
            m[name] = (res.extra[name], unit)
    m["error_rate"] = (res.failed / res.attempted, "fraction")
    m["peak_rss_mb"] = (peak_rss_mb(), "MB")
    return m


def end_to_end(workload, res, own):
    """The result line's metrics (E2E) from the workload's own ones."""
    kind, throughput = HEADLINE[workload]
    # a metric with no checked op behind it reads 0; the run then has
    # failed ops and is not correct
    return {
        "setup_s": own["setup_s"][0],
        "op_p50_ms": stats.median(res.lat[kind]) * 1000 if res.lat.get(kind) else 0.0,
        "throughput_per_s": own.get(throughput, (0.0,))[0],
        "answer_recall": sum(res.recalls) / len(res.recalls) if res.recalls else 0.0,
        "peak_rss_mb": own["peak_rss_mb"][0],
    }


def _med(values):
    return stats.median(values) if values else None


def per_layer(res, records, span_cost):
    """Per-layer metrics (PER_LAYER) from the traced ops. Times are
    medians over the ops (or calls) they are taken from; counts are means.
    A metric of a function the workload never called reads 0.
    ``span_cost`` is the seconds one span adds to its op."""
    loop = [r for r in records if r["kind"] != "setup"]
    kinds = {}
    for r in loop:
        kinds.setdefault(r["kind"], []).append(r)
    queries = kinds.get("query", [])
    m = dict.fromkeys(PER_LAYER, 0.0)

    def put(name, value):
        if value is not None:
            m[name] = value

    def calls(recs, name, key="incl"):
        """Per-call seconds of span ``name`` (or per-op sums for 'self')."""
        out = []
        for r in recs:
            n = r["calls"].get(name, 0)
            if n:
                out.append(r[key][name] / n)
        return out

    def per_op(recs, name, key="self"):
        return [r[key].get(name, 0.0) for r in recs]

    def mean(values):
        return sum(values) / len(values) if values else None

    ms = lambda v: None if v is None else v * 1000  # noqa: E731

    # core.tables
    put("tables.read_ms", ms(_med(calls(queries, "tables.read"))))
    put("tables.read_calls_per_op",
        mean([r["calls"].get("tables.read", 0) for r in queries]) if queries else None)
    if queries:
        put("tables.read_share_of_query_p50",
            m["tables.read_ms"] * m["tables.read_calls_per_op"]
            / (stats.median([r["wall"] for r in queries]) * 1000))
    for span, name in (("tables.append", "tables.append_ms"),
                       ("tables.rewrite_partitions", "tables.rewrite_partitions_ms"),
                       ("tables.write", "tables.write_ms")):
        put(name, ms(_med(calls(records, span))))
    for name, value in res.layer.items():
        put(name, value)

    # core.database
    if queries:
        put("database.query_df_self_ms", ms(_med(per_op(queries, "database.query_df"))))
        put("database.is_indexed_calls_per_op",
            mean([r["calls"].get("database.is_indexed", 0) for r in queries]))
        put("database.collect_ms", ms(_med([
            r["incl"]["database.query"] - r["incl"].get("database.query_df", 0.0)
            for r in queries])))
    for kind, span in (("batch", "database.query_many_df"),
                       ("insert", "database.insert_batch"),
                       ("delete", "database.delete"),
                       ("update", "database.update_metadata_batch")):
        if kind in kinds:
            put(f"{span}_self_ms", ms(_med(per_op(kinds[kind], span))))
    put("database.centroid_rows_ms", ms(_med(calls(loop, "database.centroid_rows"))))
    cr_jobs = [j for r in loop for j in r["jobs"].get("database.centroid_rows", [])]
    if cr_jobs:
        put("database.centroid_rows_nojob_share",
            sum(1 for j in cr_jobs if j == 0) / len(cr_jobs))

    # index.ivf
    setups = [r for r in records if r["kind"] == "setup"]
    builds = [r["incl"]["ivf.build_index"] for r in setups if "ivf.build_index" in r["incl"]]
    put("ivf.build_index_s", _med(builds))
    if "insert" in kinds:
        put("ivf.assign_clusters_ms",
            ms(_med(per_op(kinds["insert"], "ivf.assign_clusters", "incl"))))
    if "batch" in kinds:
        put("ivf.topk_cluster_assigner_ms",
            ms(_med(per_op(kinds["batch"], "ivf.topk_cluster_assigner", "incl"))))
    put("ivf.rows_examined_per_result", mean(res.rows_examined))

    # filters
    filtered = [r for r in queries if r["info"].get("filtered")]
    put("filters.compile_filter_ms", ms(_med(calls(filtered, "filters.compile_filter"))))

    # spark
    if loop:
        for i, name in enumerate(("jobs", "stages", "tasks")):
            put(f"spark.{name}_per_op", mean([r["spark"][i] for r in loop]))
    put("spark.failed_tasks", sum(r["spark"][3] for r in records))
    headline = queries or kinds.get("corpus", [])
    for phase in ("analysis", "optimization", "planning"):
        put(f"spark.{phase}_ms",
            _med([r["phases"][phase] for r in headline if phase in r["phases"]]))

    # sources.tables and operators
    corpus = kinds.get("corpus", [])
    if corpus:
        put("sources.spread_scan_ms", ms(_med(per_op(corpus, "sources.spread_scan", "incl"))))
        put("textops.prepare_training_corpus_self_ms",
            ms(_med(per_op(corpus, "textops.prepare_training_corpus"))))
        put("textops.exact_then_near_dedup_ms",
            ms(_med(per_op(corpus, "textops.exact_then_near_dedup", "incl"))))
        put("dedup.dedup_components_ms",
            ms(_med(per_op(corpus, "dedup.dedup_components", "incl"))))

    # the tracing itself: the time its spans add to the ops, and the part
    # of the headline op that no layer span covers
    if loop:
        spans = sum(sum(r["calls"].values()) for r in loop)
        put("trace.overhead_pct", 100.0 * spans * span_cost / sum(r["wall"] for r in loop))
    if headline:
        root = "op." + headline[0]["kind"]
        put("trace.unattributed_ms", ms(_med([r["self"][root] for r in headline])))
        put("trace.unattributed_pct",
            100.0 * _med([r["self"][root] / r["wall"] for r in headline]))
    return m


def layer_split(records):
    """Median self ms per layer for each op kind, and the median gap
    between an op's wall time and the sum of its layer self times."""
    out = {}
    for kind in sorted({r["kind"] for r in records}):
        recs = [r for r in records if r["kind"] == kind]
        layers = sorted({layer for r in recs for layer in r["layers"]})
        out[kind] = {
            "ops": len(recs),
            "wall_ms": stats.median([r["wall"] for r in recs]) * 1000,
            "self_ms": {layer: stats.median([r["layers"].get(layer, 0.0) for r in recs]) * 1000
                        for layer in layers},
            "sum_gap_ms": stats.median([r["wall"] - sum(r["layers"].values())
                                        for r in recs]) * 1000,
        }
    return out


# ----------------------------------------------------------------------
# main
# ----------------------------------------------------------------------


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "oasysdb_spark", "__init__.py")):
        print("perfbench: run from the root of an oasysdb_spark checkout", file=sys.stderr)
        return 2
    workdir = os.path.join(root, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    # on SIGTERM, unwind through the finally below: stop Spark, drop workdir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    pin_environment(root, workdir)
    spark = None
    try:
        spark = start_spark(workdir)
        session_s = time.perf_counter() - T_START
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
        res = workloads.Results()
        run = workloads.Runner(res, tracer)
        t_load = time.perf_counter()
        workloads.WORKLOADS[args.workload](spark, run, workdir, args.seed, args.seconds)
        print(f"perfbench: session start {session_s:.2f} s, set-up "
              + ", ".join(f"{t:.2f}" for t in res.setup)
              + f" s, workload with set-up {time.perf_counter() - t_load:.2f} s", flush=True)
        print(f"perfbench: error_rate {res.failed}/{res.attempted}", flush=True)
        if tracer is None:
            own = workload_metrics(res, session_s)
            print("perfbench: workload metrics " + json.dumps(own), flush=True)
            print("perfbench: op latencies ms " + json.dumps(
                {k: [round(t * 1000, 1) for t in v] for k, v in res.lat.items()}), flush=True)
            metrics = end_to_end(args.workload, res, own)
            units = E2E
        else:
            records = tracer.op_records()
            tracer.uninstall()
            metrics = per_layer(res, records, tracer.span_cost)
            units = PER_LAYER
            split = layer_split(records)
            outdir = os.path.join(root, ".perfbench_out")
            os.makedirs(outdir, exist_ok=True)
            with open(os.path.join(outdir, f"{args.workload}-seed{args.seed}-trace.json"),
                      "w", encoding="utf-8") as f:
                json.dump({"layer_split": split, "ops": records,
                           "spans": tracer.span_dump()}, f, default=str)
            print("perfbench: layer split " + json.dumps(split), flush=True)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
