"""Count-min sketch: bounded-memory frequency estimation.

The frequency member of the engine's sketch family (HLL++ distinct
counts and GK quantiles ride Spark built-ins in q55; MinHash/SimHash/
hyperplane-LSH/PQ cover similarity). A CMS compresses a token stream
into a depth × width counter grid: estimates never undercount
(est ≥ true), and overcount by at most εN with probability 1−δ for
width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉ — the structure to monitor heavy
hitters over a corpus too large to count exactly, or to merge counts
across partitions/streams (counter grids add cell-wise).

Spark shape: the counter grid is ONE aggregation — each token emits
``depth`` (row, bucket) cells row-locally (posexplode of md5 buckets,
no Python), grouped to ``depth × width`` rows TOTAL regardless of
corpus size. Estimation joins candidates to the (tiny, broadcastable)
grid and takes the row-wise min. Hashing reuses
:func:`~pandas_ai_spark.functions.classify.md5_bucket`, so a DuckDB
oracle replicates every counter exactly.

Reference parity: none — the reference has no sketch surface at all;
additive training-pipeline scope (SURVEY §2.14).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .classify import md5_bucket
from .skew import _fanout_if_narrow


def _cells(col: Column, depth: int, width: int) -> Column:
    """Array of ``depth`` md5-bucket cells for one token — row-local."""
    return F.array(*[
        F.struct(F.lit(d).alias("row"),
                 md5_bucket(F.concat(F.lit(f"cm{d}:"), col),
                            width).alias("bucket"))
        for d in range(depth)])


def countmin_build(df: DataFrame, col: str, depth: int = 4,
                   width: int = 1024) -> DataFrame:
    """Build the counter grid ``(row, bucket, n)`` from a token column.
    Output is at most ``depth × width`` rows — constant in corpus size;
    grids from disjoint corpora/micro-batches union + re-aggregate to
    merge."""
    tok = F.col(col).cast("string")
    # depth md5 hashes per row: spread a narrow input first
    return (_fanout_if_narrow(df.where(tok.isNotNull()).select(col), col)
              .select(F.explode(_cells(tok, depth, width)).alias("__c"))
              .groupBy(F.col("__c.row").alias("row"),
                       F.col("__c.bucket").alias("bucket"))
              .agg(F.count("*").alias("n")))


def countmin_estimate(grid: DataFrame, items: DataFrame, col: str,
                      depth: int = 4, width: int = 1024) -> DataFrame:
    """Point-estimate each distinct value of ``items.col`` against a
    :func:`countmin_build` grid: ``(item, estimate)`` with
    ``estimate = min over rows`` — never below the true count. The
    grid side is broadcast (≤ depth × width rows)."""
    tok = F.col(col).cast("string")
    cand = (items.where(tok.isNotNull())
                 .select(tok.alias("item")).distinct()
                 .select("item",
                         F.posexplode(_cells(F.col("item"), depth,
                                             width))
                          .alias("row", "__c"))
                 .select("item", F.col("__c.bucket").alias("bucket"),
                         "row"))
    return (cand.join(F.broadcast(grid), ["row", "bucket"], "left")
                .fillna(0, ["n"])
                .groupBy("item").agg(F.min("n").alias("estimate")))


def countmin_join_size(grid_a: DataFrame, grid_b: DataFrame) -> DataFrame:
    """Equi-join cardinality estimate from two count-min grids built on
    the join keys (AMS/CM inner-product estimator): for each hash row,
    ``Σ_bucket n_a·n_b`` upper-bounds ``|A ⋈ B|``; the min over rows is
    the estimate — never below the true size, within εN·M w.h.p.

    The join-planning primitive: two O(depth × width) grids stand in
    for scanning either table, so a planner (or a human) can size
    shuffle partitions / pick broadcast sides before running the join.
    Grids must share (depth, width). One tiny grid-grid join + two
    aggregations; returns a single row ``(estimate,)``.
    """
    joined = grid_a.join(
        grid_b.withColumnRenamed("n", "__nb"), ["row", "bucket"])
    per_row = joined.groupBy("row").agg(
        F.sum(F.col("n") * F.col("__nb")).alias("__dot"))
    return per_row.agg(F.min("__dot").alias("estimate"))
