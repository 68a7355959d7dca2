"""Isolate one entry query: dump .explain("formatted") to
plans/<round>/<query>_<tag>.txt and time the computation with the noop
sink (guide §1.4 — no result collection, no output write), labeled via
setJobDescription (guide §1.5).

``--counts`` makes the tool a same-work check: each query is built in
one job group and collected in another, and the job and stage counts of
each phase (``perfbench/counters.py``'s ``SparkCounters``) are printed
as one ``COUNTS`` line, with ``py_evals``, the number of distinct
Python-UDF evaluations in the built plan (:func:`py_evals`). The physical operator tree of the built plan,
with expression and plan ids stripped, is written beside the formatted
plan as ``<query>_<tag>.tree.txt`` so two checkouts' trees diff
cleanly.

Usage: python tools/explain_query.py <tag> <query> [query ...]
       [--sf-dir D] [--reps N] [--no-noop] [--counts] [--round R]
"""
from __future__ import annotations

import argparse
import os
import re
import sys
import time

sys.path.insert(0, ".")

_IDS = re.compile(r"#\d+L?|\[plan_id=\d+\]|\[id=#?\d+\]")


def operator_tree(df) -> str:
    """The pre-execution physical plan's tree with ids stripped."""
    plan = df._jdf.queryExecution().executedPlan().treeString()
    return _IDS.sub("", plan)


_PY_EVALS = ("ArrowEvalPython", "BatchEvalPython")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def py_evals(df) -> int:
    """Distinct ``ArrowEvalPython``/``BatchEvalPython`` subtrees of the
    pre-execution physical plan. A cached relation's subtree counts
    once however many scans read it (the Python work runs once), as
    does a reused exchange; the walk descends into adaptive plans,
    their query stages, cached relations and subqueries."""
    seen: set[str] = set()

    def walk(node) -> None:
        name = node.nodeName()
        if name in _PY_EVALS:
            seen.add(node.treeString())
        if name == "AdaptiveSparkPlan":
            kids = [node.executedPlan()]
        elif name == "InMemoryTableScan":
            kids = [node.relation().cachedPlan()]
        elif name.endswith("QueryStage"):  # a materialized stage
            kids = [node.plan()]
        else:
            kids = _seq(node.children())
        for k in kids + _seq(node.subqueries()):
            walk(k)

    walk(df._jdf.queryExecution().executedPlan())
    return len(seen)


def counted(spark, counters, group: str, action):
    """Run ``action`` in job group ``group``; return its result and the
    (jobs, stages) it launched. Jobs started before the call (an earlier
    query's timing reps) are drained first, so they are not counted."""
    counters.collect_op()
    before = dict(counters.totals)
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    counters.collect_op()
    return out, (int(counters.totals["jobs"] - before["jobs"]),
                 int(counters.totals["stages"] - before["stages"]))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("tag")
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--no-noop", action="store_true")
    ap.add_argument("--counts", action="store_true",
                    help="print build/collect job and stage counts and "
                         "write the id-stripped operator tree")
    ap.add_argument("--round", default="r15",
                    help="plans/<round>/ output subdir")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from pandas_ai_spark.functions.cache import release_operator_caches
    from pandas_ai_spark.session import get_session

    # no progress bars: they would prefix the COUNTS lines on stdout
    spark = get_session(app_name=f"explain_{args.tag}",
                        extra_conf={"spark.ui.showConsoleProgress": "false"})
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outdir = os.path.join(here, "plans", args.round)
    os.makedirs(outdir, exist_ok=True)
    counters = None
    if args.counts:
        sys.path.insert(0, os.path.join(here, "perfbench"))
        from counters import SparkCounters
        counters = SparkCounters(spark)

    qs = entry.queries()
    for name in args.queries:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"{name}: plan build")
        if counters is None:
            df = fn(spark, args.sf_dir)
        else:
            df, build = counted(spark, counters, f"{name}:build",
                                lambda: fn(spark, args.sf_dir))
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(outdir, f"{name}_{args.tag}.txt"),
                  "w") as f:
            f.write(plan)
        if counters is not None:
            with open(os.path.join(outdir, f"{name}_{args.tag}.tree.txt"),
                      "w") as f:
                f.write(operator_tree(df))
            evals = py_evals(df)
            spark.sparkContext.setJobDescription(f"{name}: collect")
            rows, coll = counted(spark, counters, f"{name}:collect",
                                 df.collect)
            print(f"COUNTS {name} rows={len(rows)} "
                  f"build_jobs={build[0]} build_stages={build[1]} "
                  f"collect_jobs={coll[0]} collect_stages={coll[1]} "
                  f"py_evals={evals}", flush=True)
        release_operator_caches()
        if not args.no_noop:
            best = float("inf")
            for i in range(args.reps):
                spark.catalog.clearCache()
                spark.sparkContext.setJobDescription(
                    f"{name}: noop rep {i}")
                t0 = time.perf_counter()
                fn(spark, args.sf_dir).write.format("noop") \
                    .mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
                release_operator_caches()
            # collect-timing too, matching the bench protocol exactly
            cbest = float("inf")
            for i in range(args.reps):
                spark.catalog.clearCache()
                spark.sparkContext.setJobDescription(
                    f"{name}: collect rep {i}")
                t0 = time.perf_counter()
                fn(spark, args.sf_dir).collect()
                cbest = min(cbest, time.perf_counter() - t0)
                release_operator_caches()
            print(f"TIMING {name} noop={best:.3f}s collect={cbest:.3f}s",
                  flush=True)
        spark.sparkContext.setJobDescription(None)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
