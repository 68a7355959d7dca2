"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload analyst_session --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout of this repository. The run sets up a
fresh Spark session (for the pipeline workload, ending with one untimed
pass over its deck of operations on the sf0.001 tables), times a fixed
number of decks on the sf0.1 tables (see workloads.py), checks every
result against the DuckDB oracle, and prints the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``) as the last
line of standard output. A run always does the same work, whatever
``--seconds`` says, so that a faster program does not do more (and
warmer) work per run than a slower one. Everything it writes goes under
``perfbench/`` in the checkout: oracle hashes in ``.cache/`` and one
fresh working directory per run in ``.work/``, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# metric name -> unit, in the order they are printed
END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s", "rows_per_s": "1/s",
    "driver_peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.jvm_start_s": "s", "session.first_job_s": "s",
    "session.udf_worker_start_s": "s", "session.warm_up_s": "s",
    "session.jobs": "count",
    "session.stages": "count", "session.tasks": "count",
    "session.executor_run_ms": "ms", "session.executor_cpu_ms": "ms",
    "session.shuffle_write_bytes": "bytes", "session.spill_bytes": "bytes",
    "session.peak_exec_mem_mb": "MB", "session.gc_ms": "ms",
    "session.jvm_peak_rss_mb": "MB",
    "sources.scan_open_s": "s",
    "agent.prompt_s": "s", "agent.clean_code_s": "s", "agent.exec_s": "s",
    "agent.parse_s": "s", "agent.llm_calls": "count",
    "agent.first_try_frac": "1",
    "sql.sanitize_s": "s", "sql.extract_tables_s": "s",
    "sql.analyze_s": "s", "sql.rejected": "count",
    "plans.compile_s": "s",
    "vectorstore.retrieve_s": "s",
    "dataframe.head_s": "s", "dataframe.to_pandas_s": "s",
    "functions.build_s": "s", "functions.collect_s": "s",
    "functions.jobs_build": "count", "functions.jobs_run": "count",
    "cache.released": "count",
    "streaming.micro_batches": "count", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "state_store.commit_ms": "ms", "state_store.rows_total": "count",
    "state_store.memory_bytes": "bytes",
    "datasets.materialize_s": "s", "datasets.bytes_written": "bytes",
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}


def parse_args(argv=None) -> argparse.Namespace:
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="accepted for the benchmark's calling convention; "
                   "a run always times the same number of decks")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", choices=["0.1", "0.001"], default="0.1",
                   help="scale factor of the tables under perfbench/data")
    return p.parse_args(argv)


def prepare_env(run_dir: str) -> dict:
    """Point every path Spark and the program write to into the run
    directory, and put the repository on the Python workers' path."""
    dirs = {k: os.path.join(run_dir, k)
            for k in ("tmp", "local", "datasets", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PANDAS_AI_SPARK_DATA"] = dirs["datasets"]
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.chdir(run_dir)  # cwd-relative writes: derby.log, charts
    sys.path.insert(0, ROOT)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={run_dir} "
            "-XX:-UsePerfData",
    }


class Run:
    """One process's set-up, measured deck and teardown."""

    def __init__(self, args: argparse.Namespace, oracle_client):
        self.args = args
        self.oracle = oracle_client
        self.phases: dict[str, float] = {}
        self.latencies: list[float] = []
        self.op_log: list[tuple[str, float]] = []
        self.rows = 0
        self.attempted = 0
        self.failed = 0
        self.by_layer: dict[str, float] = {}
        self.jobs = {"build": 0, "run": 0}
        self.released = 0
        self.agent_ops = 0
        self.agent_first_try = 0
        self.bytes_written = 0
        self.tracer = None
        self.counters = None
        self.stream_progress = None
        self.spark = None

    def _phase(self, name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.phases[name] = time.perf_counter() - t0
        return out

    # -- set-up ---------------------------------------------------------------

    def setup(self, spark_conf: dict):
        import workloads

        def imports():
            import pandas  # noqa: F401  (pandas_udf type hints resolve here)
            import pandas_ai_spark  # noqa: F401
            import __spark_entry__
            return __spark_entry__

        entry = self._phase("imports", imports)
        from pandas_ai_spark.session import get_session

        self.spark = spark = self._phase(
            "jvm_start", lambda: get_session(
                app_name="pandas_ai_spark_perfbench", extra_conf=spark_conf))
        self._phase("first_job", lambda: _warm_first_job(
            spark, self.oracle.data_dir))
        if self.args.workload in workloads.USES_PYTHON_WORKERS:
            self._phase("udf_worker_start", lambda: _warm_udf_workers(spark))
        ctx = workloads.Context(spark=spark, sf_dir=self.oracle.data_dir,
                                entry=entry, oracle=self.oracle)
        tables = workloads.WORKLOAD_TABLES[self.args.workload]

        def scan_open():
            ctx.queries = entry.queries()
            for t in tables:
                entry._t(spark, ctx.sf_dir, t)
        self._phase("scan_open", scan_open)
        if self.args.workload == "analyst_session":
            self._phase("workload", lambda: workloads.setup_analyst(
                ctx, self.args.seed))
        ctx.oracles = entry.oracle_sql()
        if self.args.workload in workloads.WARM_UP:
            self._warm_up(ctx)
        self.setup_s = sum(self.phases.values())
        return ctx

    def _warm_up(self, ctx) -> None:
        """One untimed, unchecked pass over the deck on the sf0.001
        tables. The deck is built (which may ask the oracle) outside the
        timer."""
        import dataclasses
        import oracle
        import workloads

        warm = dataclasses.replace(ctx, sf_dir=oracle.data_dir("0.001"))
        ops = workloads.WORKLOADS[self.args.workload](
            warm, random.Random(f"warm-up {self.args.seed}"))
        self._phase("warm_up", lambda: workloads.warm_up(ops))

    # -- measured deck ------------------------------------------------------------

    def measure(self, ctx) -> None:
        import workloads
        from pandas_ai_spark.functions.cache import release_operator_caches

        deck = workloads.WORKLOADS[self.args.workload]
        r = random.Random(self.args.seed)
        if self.args.trace:
            self._start_tracing()
        for _ in range(workloads.DECKS[self.args.workload]):
            ops = deck(ctx, r)
            expected = [self.oracle.hash(op.oracle_sql) for op in ops]
            for op, want in zip(ops, expected):
                self._run_op(op, want)
                self.released += release_operator_caches()

    def _run_op(self, op, want: str) -> None:
        """Time one op (build + collect), then, outside the timed interval,
        read its counters and check its result against the oracle. A
        failed op is counted, never dropped or retried."""
        i = self.attempted
        self.attempted += 1
        tracer = self.tracer
        sc = self.spark.sparkContext
        if tracer is not None:
            tracer.op_id = i
            root = tracer.begin(f"op.{op.layer}")
            sc.setJobGroup(f"op{i}.build", op.kind)
        t0 = t1 = time.perf_counter()
        try:
            plan = op.build() if op.build is not None else None
            t1 = time.perf_counter()
            if tracer is not None:
                sc.setJobGroup(f"op{i}.run", op.kind)
            result = op.collect(plan)
        except Exception:
            self.failed += 1
            print(f"op {i} {op.kind} raised:\n{traceback.format_exc()}",
                  file=sys.stderr)
            return
        finally:
            t2 = time.perf_counter()
            if tracer is not None:
                tracer.end(root)
                sc._jsc.clearJobGroup()
        self.latencies.append(t2 - t0)
        self.op_log.append((op.kind, round(t2 - t0, 4)))
        self.rows += op.rows
        if tracer is not None:
            self._count_op(i, op, t1 - t0, t2 - t1)
        got = op.digest(result)
        if got != want:
            self.failed += 1
            print(f"op {i} {op.kind}: result hash {got} != oracle {want}",
                  file=sys.stderr)

    # -- tracing ----------------------------------------------------------------

    def _start_tracing(self) -> None:
        import counters
        import spans

        self.tracer = spans.Tracer()
        self.tracer.install()
        self.counters = counters.SparkCounters(self.spark)
        self.stream_progress = counters.StreamProgress()
        self.spark.streams.addListener(self.stream_progress)

    def _count_op(self, i: int, op, build_s: float, collect_s: float) -> None:
        self.counters.collect_op()
        if op.layer == "functions":
            self.by_layer["functions.build_s"] = \
                self.by_layer.get("functions.build_s", 0.0) + build_s
            self.by_layer["functions.collect_s"] = \
                self.by_layer.get("functions.collect_s", 0.0) + collect_s
            self.jobs["build"] += self.counters.group_jobs(f"op{i}.build")
            self.jobs["run"] += self.counters.group_jobs(f"op{i}.run")
        if op.layer == "agent":
            self.agent_ops += 1
            calls = sum(1 for s in self.tracer.spans
                        if s.op_id == i and s.name == "agent.llm")
            self.agent_first_try += calls == 1
        if op.output is not None:
            self.bytes_written += _dir_bytes(op.output)

    def layer_metrics(self) -> dict[str, float]:
        import counters

        tr = self.tracer
        self_s = tr.self_times()
        c = self.counters.totals
        sp = self.stream_progress.totals
        mb = 1024.0 * 1024.0
        rejected = sum(tr.counts(n, "MaliciousQueryError")
                       for n in ("agent.clean_code", "sql.execute"))
        return {
            "session.jvm_start_s": self.phases["jvm_start"],
            "session.first_job_s": self.phases["first_job"],
            # 0 where the workload starts no Python worker
            "session.udf_worker_start_s":
                self.phases.get("udf_worker_start", 0.0),
            # 0 where the workload's set-up makes no warm-up pass
            "session.warm_up_s": self.phases.get("warm_up", 0.0),
            "session.jobs": c["jobs"], "session.stages": c["stages"],
            "session.tasks": c["tasks"],
            "session.executor_run_ms": c["executor_run_ms"],
            "session.executor_cpu_ms": c["executor_cpu_ns"] / 1e6,
            "session.shuffle_write_bytes": c["shuffle_write_bytes"],
            "session.spill_bytes":
                c["spill_memory_bytes"] + c["spill_disk_bytes"],
            "session.peak_exec_mem_mb": c["peak_exec_mem_bytes"] / mb,
            "session.gc_ms": c["gc_ms"],
            "session.jvm_peak_rss_mb": counters.vm_hwm_mb(_jvm_pid()),
            "sources.scan_open_s": self.phases["scan_open"],
            "agent.prompt_s": self_s.get("agent.prompt", 0.0),
            "agent.clean_code_s": self_s.get("agent.clean_code", 0.0),
            "agent.exec_s": self_s.get("agent.exec", 0.0),
            "agent.parse_s": self_s.get("agent.parse", 0.0),
            "agent.llm_calls": tr.counts("agent.llm"),
            "agent.first_try_frac": (self.agent_first_try / self.agent_ops
                                     if self.agent_ops else 0.0),
            "sql.sanitize_s": self_s.get("sql.sanitize", 0.0),
            "sql.extract_tables_s": self_s.get("sql.extract_tables", 0.0),
            "sql.analyze_s": self_s.get("sql.execute", 0.0),
            "sql.rejected": rejected,
            "plans.compile_s": self_s.get("plans.compile", 0.0),
            "vectorstore.retrieve_s": self_s.get("vectorstore.retrieve", 0.0),
            "dataframe.head_s": self_s.get("dataframe.head", 0.0),
            "dataframe.to_pandas_s": self_s.get("dataframe.to_pandas", 0.0),
            "functions.build_s": self.by_layer.get("functions.build_s", 0.0),
            "functions.collect_s":
                self.by_layer.get("functions.collect_s", 0.0),
            "functions.jobs_build": self.jobs["build"],
            "functions.jobs_run": self.jobs["run"],
            "cache.released": self.released,
            "streaming.micro_batches": sp["micro_batches"],
            "streaming.add_batch_ms": sp["add_batch_ms"],
            "streaming.wal_commit_ms": sp["wal_commit_ms"],
            "streaming.commit_offsets_ms": sp["commit_offsets_ms"],
            "streaming.query_planning_ms": sp["query_planning_ms"],
            "state_store.commit_ms": sp["state_commit_ms"],
            "state_store.rows_total": sp["state_rows_total"],
            "state_store.memory_bytes": sp["state_memory_bytes"],
            "datasets.materialize_s": self_s.get("datasets.materialize", 0.0),
            "datasets.bytes_written": self.bytes_written,
        }

    def end_to_end(self) -> dict[str, float]:
        import counters

        busy = sum(self.latencies)
        return {
            "setup_s": self.setup_s,
            "op_p50_s": statistics.median(self.latencies),
            "ops_per_s": len(self.latencies) / busy,
            "rows_per_s": self.rows / busy,
            "driver_peak_rss_mb": counters.vm_hwm_mb(),
        }

    # -- teardown -----------------------------------------------------------------

    def stop(self) -> None:
        """Stop the session and its JVM, and wait for the JVM to exit."""
        if self.tracer is not None:
            self.tracer.uninstall()
        if self.spark is None:
            return
        from pyspark import SparkContext

        if self.stream_progress is not None:
            self.spark.streams.removeListener(self.stream_progress)
        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _warm_first_job(spark, data_dir: str) -> None:
    """First action of the session: scan set-up and whole-stage codegen
    for the aggregate/shuffle/sort shapes every query reuses."""
    w = spark.read.parquet(os.path.join(data_dir, "region.parquet"))
    w.groupBy(w.columns[0]).count().orderBy(w.columns[0]).collect()


def _warm_udf_workers(spark) -> None:
    """Fork the Python worker pool, one pandas_udf task per core, and load
    the program's operator modules into each worker, which the first
    operator UDF would otherwise pay for. The aggregate consumes the UDF
    output, or column pruning drops it."""
    import pandas as pd
    from pyspark.sql import functions as F

    def load_operators(s):
        import pandas_ai_spark.functions  # noqa: F401
        return s

    # real classes, not the strings this module's annotations would be
    load_operators.__annotations__ = {"s": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(load_operators, "double")
    n = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(256).repartition(n).select(
        udf(F.col("id").cast("double")).alias("v")).agg(
        F.sum("v")).collect()


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _fmt(metrics: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": float(metrics[k]), "unit": u}
            for k, u in units.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("pandas_ai_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    import counters
    import oracle

    run_dir = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    client = None
    run = None
    try:
        spark_conf = prepare_env(run_dir)
        client = oracle.OracleClient(os.path.join(HERE, ".cache"), args.sf)
        contention = counters.Contention()
        run = Run(args, client)
        ctx = run.setup(spark_conf)
        run.measure(ctx)
        e2e = run.end_to_end()
        if args.trace:
            metrics = _fmt(run.layer_metrics(), {
                k: u for k, u in PER_LAYER.items()
                if not k.startswith("traced.")})
            metrics.update(_fmt({f"traced.{k}": v for k, v in e2e.items()},
                                {k: u for k, u in PER_LAYER.items()
                                 if k.startswith("traced.")}))
        else:
            metrics = _fmt(e2e, END_TO_END)
        report = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "sf": args.sf,
            "ops": run.op_log,
            "setup_phases_s": run.phases,
            "contention": contention.report(),
        }
    finally:
        if run is not None:
            run.stop()
        if client is not None:
            client.close()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
