"""Capture .explain("formatted") and the normalized optimized plan of
queries into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> <suffix> [query ...]
  tag     e.g. r15  -> writes plans/r15/<name>_<suffix>.txt
  suffix  e.g. before | after
  query   names (default: every queries() entry plus EXTRA_BENCH)

Next to each formatted plan, <name>_<suffix>_optimized.txt holds
``optimizedPlan().toString()`` with the per-session counters stripped
(expression ids ``#12``, ``plan_id=3``, lambda variables ``x_7``), so
two checkouts' files compare with ``diff -r`` to prove a refactor left
every plan unchanged.

Plan capture is driver-side; operators that run eagerly during plan
construction (prepare_training_corpus) still execute their stages, so
run this solo when wall-clock matters (it never does for plan text).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
import __spark_entry__ as entry  # noqa: E402

_COUNTERS = re.compile(r"#\d+|(?<=plan_id=)\d+|(?<=\bx_)\d+")


def main():
    tag, suffix = sys.argv[1], sys.argv[2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from oasysdb_spark.session import get_spark

    spark = get_spark(app_name="capture_plans")
    qs = dict(entry.queries())
    qs.update(bench.EXTRA_BENCH)
    names = sys.argv[3:] or list(qs)

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            qe = df._jdf.queryExecution()
            plan = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
            optimized = _COUNTERS.sub("", qe.optimizedPlan().toString())
        except Exception as e:  # noqa: BLE001
            plan = optimized = f"ERROR capturing plan: {type(e).__name__}: {e}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        for p, text in ((path, plan), (path[:-4] + "_optimized.txt", optimized)):
            with open(p, "w") as f:
                f.write(text)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
