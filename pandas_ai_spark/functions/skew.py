"""Skew-resilient joins: explicit key salting.

At 100 TB a handful of hot keys (the null key, a default account, a bot
user) can put one shuffle partition hours behind the rest. AQE's skew-join
split (on by default in the session) handles sort-merge cases at runtime;
this helper is the explicit form for when the planner can't — e.g. a hot
key on the *probe* side of a shuffled hash join, or deterministic plans
for repeated production runs.

Mechanics: probe rows get a random salt in [0, salt); the build side is
replicated once per salt value via an exploded literal array; the join key
becomes (key, salt), spreading each hot key over ``salt`` partitions.
Build-side cost is size × salt — use it on the smaller table, or first
isolate hot keys (``hot_keys``) and salt only those.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_keys(df: DataFrame, key: str, min_count: int = 100_000) -> DataFrame:
    """Keys whose row count exceeds ``min_count`` — one cheap partial-agg
    pass; use to salt selectively instead of replicating the whole build
    side."""
    return (
        df.groupBy(key).count()
        .where(F.col("count") >= min_count)
        .select(key)
    )


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the probe side salted and the build side replicated
    ``salt`` times. Row-identical to ``probe.join(build, key)``; hot probe
    keys spread over ``salt`` shuffle partitions.

    The salt is derived from a hash of monotonically increasing row id —
    deterministic within a run without an extra random column.

    Only probe-preserving join types are supported: with ``right``/
    ``full``, an unmatched build row would surface once per salt replica
    (duplicated null-extended rows), so those raise.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti",
                   "semi", "anti", "cross"):
        raise ValueError(
            f"salted_join supports probe-preserving joins only, not "
            f"'{how}': the replicated build side would emit unmatched "
            f"build rows once per salt bucket")
    if salt < 2:
        return probe.join(build, probe.df[probe_key] == build[build_key]
                          if hasattr(probe, "df") else
                          F.col(probe_key) == F.col(build_key), how)
    p = probe.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt))
         .cast("int"))
    b = build.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    joined = p.join(
        b,
        (p[probe_key] == b[build_key]) & (p["__salt"] == b["__salt"]),
        how,
    )
    return joined.drop("__salt")


def key_skew_report(df: DataFrame, key_col: str,
                    top_n: int = 10) -> DataFrame:
    """One-row shuffle-skew diagnosis for a prospective join/groupBy
    key: ``(n_rows, n_keys, max_share, top{N}_share, p50_count,
    p99_count, skew_ratio)`` where shares are fractions of all rows
    held by the hottest key(s) and ``skew_ratio = p99/p50`` of the
    per-key row counts — the number that says whether this key needs
    :func:`salted_join` / AQE skew handling before a 100 TB shuffle.

    Shape: ONE key-keyed count (map-side combined — the counts table
    is |keys| rows, not |rows|); the hottest ``top_n`` arrive via
    TakeOrderedAndProject (never a global sort of the counts), the
    percentiles aggregate over the counts table with bounded state
    (counts are integers — distinct-value-bounded), and the totals are
    single-row aggregates. NULL keys count as a key (NULL is a
    real — often the hottest — join key).
    """
    from .cache import operator_persist

    # persisted: the expensive key-count shuffle feeds TWO actions
    # (top-N collect + percentile/total agg) — without the pin it
    # would run twice (the hits/rolling_actives pattern)
    counts = operator_persist(
        df.groupBy(F.col(key_col).alias("__k"))
          .agg(F.count("*").alias("__n")))
    top = [int(r["__n"]) for r in
           counts.orderBy(F.desc("__n")).limit(int(top_n)).collect()]
    agg = counts.agg(
        F.sum("__n").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.percentile(F.col("__n").cast("double"), F.lit(0.5))
         .alias("p50_count"),
        F.percentile(F.col("__n").cast("double"), F.lit(0.99))
         .alias("p99_count"))
    return agg.select(
        "n_rows", "n_keys",
        (F.lit(float(top[0] if top else 0)) / F.col("n_rows"))
        .alias("max_share"),
        (F.lit(float(sum(top))) / F.col("n_rows"))
        .alias(f"top{int(top_n)}_share"),
        "p50_count", "p99_count",
        (F.col("p99_count") / F.col("p50_count")).alias("skew_ratio"))


def _fanout_if_narrow(df: DataFrame, *key_cols: str) -> DataFrame:
    """Hash-repartition to ``defaultParallelism`` when the plan would
    scan fewer partitions than cores — single-row-group parquet at toy
    scale strands every map-side expression on one task (input skew).
    Deterministic key hash: retry-safe, no round-robin pre-sort, and
    every caller computes placement-independent exact results, so they
    are unchanged. At real scale input splits >= cores and this is a
    no-op.

    The exchange's map side is itself one task that reads and
    serializes every row, so only operators whose per-row map work
    outweighs that call it:

    - ``stats.permutation_test`` (the ``n_perm``-fold explode and md5
      sort keys),
    - ``stats.poisson_bootstrap_ci`` (the ``B``-fold weight explode),
    - the bucketed rank/ECDF paths: ``stats._midranks``,
      ``mann_whitney_u``, ``ks_test``, ``wasserstein_1d`` and
      ``kruskal_wallis``,
    - ``stats.profile_exact`` (the distinct counts' per-column Expand),
    - ``stats.trimmed_stats`` (exact percentile buffers),
    - ``classify.conformal_interval`` (the md5 split, read twice),
    - ``sketch.countmin_build`` (``depth`` md5 hashes per row),
    - ``mining.frequent_pairs`` and ``graph.cooccurrence_edges`` (the
      basket ``collect_set``: keyed on the basket, the fan-out's
      exchange serves the basket grouping too),
    - ``dedup.excise_duplicate_spans`` (per-document span hashing),
    - the ``documents`` table handle of ``__spark_entry__._t``.

    Decided from the physical plan, without an action. An exchange-free
    plan has its partition count read, which a file scan answers from
    its file listing. A plan with exchanges is left as it is when a
    shuffle feeds it (it is spread already; reading its partition count
    would run that shuffle under adaptive execution); when only
    broadcasts feed it (a narrow scan broadcast-joined to a small
    table), its count is the file splits of the scans outside the
    broadcast build sides (:func:`_scan_partitions`)."""
    if df.isStreaming:  # no physical plan before the query starts
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan()
    if "Exchange" in plan.toString():
        parts = _scan_partitions(plan)
    else:
        parts = df.rdd.getNumPartitions()
    if parts is not None and parts < n:
        return df.repartition(n, *[F.col(c) for c in key_cols])
    return df


def _scan_partitions(plan) -> int | None:
    """The partitions a physical ``plan`` that no shuffle feeds
    produces, read from its file scans' splits without running it: a
    broadcast join keeps its stream side's partitions, so a broadcast
    build side counts 0. None when a shuffle exchange feeds the plan or
    a leaf is not a file scan."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _scan_partitions(plan.executedPlan())
    if name == "BroadcastExchangeExec":
        return 0
    if name == "FileSourceScanExec":
        return plan.inputRDD().getNumPartitions()
    kids = plan.children()
    if name == "ShuffleExchangeExec" or kids.size() == 0:
        return None
    parts = [_scan_partitions(kids.apply(i)) for i in range(kids.size())]
    return None if None in parts else sum(parts)
