"""Isolate one entry query: dump .explain("formatted") to
plans/<round>/<query>_<tag>.txt and time the computation with the noop
sink (guide §1.4 — no result collection, no output write), labeled via
setJobDescription (guide §1.5).

``--counts`` makes the tool a same-work check: each query is built in
one job group and collected in another, and the job and stage counts of
each phase (``perfbench/counters.py``'s ``SparkCounters``) are printed
as one ``COUNTS`` line. The physical operator tree of the built plan,
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


def counted(spark, counters, group: str, action):
    """Run ``action`` in job group ``group``; return its result and the
    (jobs, stages) it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    before = dict(counters.totals)
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

    spark = get_session(app_name=f"explain_{args.tag}")
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
            spark.sparkContext.setJobDescription(f"{name}: collect")
            rows, coll = counted(spark, counters, f"{name}:collect",
                                 df.collect)
            print(f"COUNTS {name} rows={len(rows)} "
                  f"build_jobs={build[0]} build_stages={build[1]} "
                  f"collect_jobs={coll[0]} collect_stages={coll[1]}",
                  flush=True)
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
