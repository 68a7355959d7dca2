"""Similarity search over embedding columns (``array<float>``).

Two paths, per the standard ANN playbook:

- **Brute-force cosine top-k** — exact baseline. The query side is tiny
  and broadcast; the corpus scan is embarrassingly parallel; per-query
  ranking is a windowed top-k (Spark's TakeOrderedAndProject shape). At
  100 TB this is one full corpus scan per query batch — correct, and the
  yardstick the approximate path is judged against.
- **Random-hyperplane LSH** — sub-linear scale path. Sign-bit signatures
  against a fixed seeded plane set bucket the corpus; queries probe only
  their own bucket (plus optional multi-probe neighbors). The bucket id
  is a JVM-side expression over array ops — no Python in the scan.

All dot products run as ``zip_with``/``aggregate`` JVM expressions on
``double`` (cast from float once).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cache import operator_persist
from .dedup import _attach_sides, _bucket_pairs


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    a = a.cast("array<double>")
    b = b.cast("array<double>")
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def _pair_cosine() -> Column:
    """Cosine of the ``__v_a``/``__v_b`` vectors of a pair frame whose
    per-id ``(__v, __n = l2_norm(__v))`` table was attached to both
    sides (:func:`~.dedup._attach_sides`); 0 when either norm is 0.
    The dot stays a HOF fold: an unrolled 64-term GetArrayItem chain
    measured 3x slower on the embedding near-dup path (9.5 s vs 3.5 s
    end-to-end at sf0.1) — the deep Add tree defeats codegen where the
    HOF's tight interpreted loop at least stays cache-resident."""
    na, nb = F.col("__n_a"), F.col("__n_b")
    return F.when(na * nb > 0, dot(F.col("__v_a"), F.col("__v_b"))
                  / (na * nb)).otherwise(F.lit(0.0))


def _normalized_matrix(rows: list, dtype=np.float64) -> tuple[np.ndarray, np.ndarray]:
    """(ids, row-normalized matrix); zero vectors stay zero (cosine 0)."""
    ids = np.array([r[0] for r in rows])
    M = np.array([r[1] for r in rows], dtype=dtype)
    norms = np.linalg.norm(M, axis=1, keepdims=True)
    return ids, M / np.maximum(norms, 1e-300)


def ann_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Block-matrix kNN: the (small, by contract) query matrix is broadcast
    to executors; each corpus partition computes one numpy GEMM
    (block × queriesᵀ) and keeps its local top-k per query via
    ``argpartition``; a final window keeps the global top-k. One corpus
    scan, shuffle volume ≤ partitions × queries × k rows — this is the
    shape that survives a 100 TB corpus. Deterministic tie-break:
    (cosine desc, neighbor id asc).
    """
    import pandas as pd

    q_ids, Qn = _normalized_matrix(
        queries.select(query_id_col, vec_col).collect())
    spark = corpus.sparkSession
    bq = spark.sparkContext.broadcast((q_ids, Qn))
    out_schema = T.StructType([
        T.StructField(query_id_col, T.LongType()),
        T.StructField(id_col, T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ])

    def local_topk(batches):
        ids_q, Q = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(C, axis=1, keepdims=True)
            S = (C / np.maximum(norms, 1e-300)) @ Q.T  # block × queries
            ids_c = pdf[id_col].to_numpy()
            kk = min(k + 1, S.shape[0])  # +1 survives self-match removal
            top = np.argpartition(-S, kk - 1, axis=0)[:kk]
            n_q = S.shape[1]
            yield pd.DataFrame({
                query_id_col: np.repeat(ids_q, kk),
                id_col: ids_c[top.T.ravel()],
                "cosine": S[top.T.ravel(), np.repeat(np.arange(n_q), kk)],
            })

    cand = corpus.select(id_col, F.col(vec_col).cast("array<double>")
                         .alias(vec_col)).mapInPandas(local_topk, out_schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc())
    return (
        cand.where(F.col(id_col) != F.col(query_id_col))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _hyperplanes(dim: int, num_planes: int, seed: int = 42) -> np.ndarray:
    return np.random.RandomState(seed).randn(num_planes, dim)


def lsh_bucket(vec: Column, dim: int, num_planes: int = 12,
               seed: int = 42) -> Column:
    """Random-hyperplane signature: integer in [0, 2^num_planes)."""
    planes = _hyperplanes(dim, num_planes, seed)
    v = vec.cast("array<double>")
    sig = F.lit(0).cast("bigint")
    for p in range(num_planes):
        plane = F.array(*[F.lit(float(x)) for x in planes[p]])
        bit = (dot(v, plane) > 0).cast("bigint")
        sig = sig + F.shiftleft(bit, p)
    return sig


def lsh_table_buckets(vec: Column, dim: int, num_planes: int,
                      num_tables: int, seed: int = 42) -> Column:
    """array<bigint> of per-table bucket ids — one signature per hash
    table, each table with its own plane set (the canonical multi-table
    LSH: recall = 1 − (1 − p^k)^L instead of single-probe p^k).

    All L×k plane projections run as ONE numpy GEMM per Arrow batch —
    the JVM expression form would evaluate L×k higher-order-function dot
    products per row (measured ~5s at 2000×64 for L=16, k=4; this path
    is ~50ms)."""
    planes = np.vstack([
        _hyperplanes(dim, num_planes, seed + 1000 * t)
        for t in range(num_tables)
    ])  # (L*k, dim)
    shifts = (np.arange(num_tables * num_planes) % num_planes)
    table_of = np.arange(num_tables * num_planes) // num_planes

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vs: pd.Series) -> pd.Series:
        def batch(series: pd.Series) -> list:
            V = np.stack(series.to_numpy()).astype(np.float64)
            bits = (V @ planes.T) > 0  # (n, L*k)
            vals = bits.astype(np.int64) << shifts
            out = np.zeros((V.shape[0], num_tables), dtype=np.int64)
            np.add.at(out.T, table_of, vals.T)
            return [row.tolist() for row in out]

        if len(vs) == 0:
            return pd.Series([], dtype=object)
        return pd.Series(batch(vs), index=vs.index)

    return buckets(vec.cast("array<double>"))


def ann_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    num_planes: int = 4,
    num_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: rank only corpus vectors sharing a bucket with
    the query in ANY of ``num_tables`` hash tables.

    Tuning: per-table collision prob for angle θ is p^k with
    p = 1 − θ/π; k=4, L=8 gives ~0.8 recall at θ≈60° while each probe
    scans ~L·N/2^k of the corpus. Scale path: the explode shuffles
    (table, bucket, id) triples; candidate distinct-pairs are scored with
    the JVM cosine, never the full corpus."""
    tb = lsh_table_buckets(F.col(vec_col), dim, num_planes, num_tables, seed)
    bucketed = corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__cv"),
        F.posexplode(tb).alias("tbl", "bkt"),
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).cast("array<double>").alias("__qv"),
            F.posexplode(tb).alias("tbl", "bkt"),
        )
    )
    cand = (
        bucketed.join(q, ["tbl", "bkt"])
        .where(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, "__qv", id_col, "__cv")
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cand.withColumn("cosine", cosine(F.col("__qv"), F.col("__cv")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def derive_lsh_params(
    n: int,
    threshold: float,
    target_recall: float = 0.95,
    target_bucket_rows: int = 1,
    max_tables: int = 64,
) -> tuple[int, int]:
    """(num_planes, num_tables) for a corpus of ``n`` vectors.

    Planes per table from corpus size — ``k = log2(n / bucket_rows)``,
    i.e. ~``log2(n)`` buckets per table at the default, which pins the
    EXPECTED RANDOM COLLISIONS per table at ``C(n,2)/2^k ≈ n/2``:
    candidate volume (and so exact-verify cost) stays ~linear in n. A
    fixed k means random collisions grow ~n²/2^k — the superlinear
    scaling failure this derivation exists to prevent. Tables from the
    recall target: per-table collision prob for cosine ``s`` is
    ``p^k`` with ``p = 1 − acos(s)/π``, so
    ``L = ln(1−recall) / ln(1−p^k)``.

    ``max_tables`` caps runaway L: at low thresholds (p → 0.5) no LSH
    is sub-linear — candidate cost ~``L·n²/2^k`` approaches all-pairs —
    and the cap makes that regime loud (a UserWarning) instead of
    silently unaffordable.
    """
    import math
    import warnings

    k = max(2, min(16, math.ceil(
        math.log2(max(n, 2) / max(target_bucket_rows, 1)))))
    p = 1.0 - math.acos(max(min(threshold, 0.9999), -1.0)) / math.pi
    pk = p ** k
    if pk >= 1.0:
        return k, 1
    L = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pk))
    if L > max_tables:
        achieved = 1.0 - (1.0 - pk) ** max_tables
        warnings.warn(
            f"LSH recall target {target_recall} at threshold {threshold} "
            f"needs {L} tables (cap {max_tables}); achieved recall "
            f"≈{achieved:.2f}. Thresholds this low are outside LSH's "
            f"sub-linear regime — consider the exact path.")
        L = max_tables
    return k, max(1, L)


def embedding_lsh_state(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 8,
    num_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """The banded LSH table ``(id, tbl, bkt)`` for a vector corpus — the
    stored/reusable state of :func:`embedding_near_dup_pairs` (mirror of
    ``minhash_state``). Build once, persist/write it, and pass it back
    via ``state=`` to skip the hyperplane-GEMM pass on repeated runs;
    :func:`embedding_near_dup_incremental` joins new batches against it.
    Plane sets are deterministic in (dim, num_planes, num_tables, seed),
    so state built earlier stays valid for the same parameters."""
    tb = lsh_table_buckets(F.col(vec_col).cast("array<double>"),
                           dim, num_planes, num_tables, seed)
    return df.select(F.col(id_col), F.posexplode(tb).alias("tbl", "bkt"))


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int | None = None,
    num_tables: int | None = None,
    dim: int = 64,
    use_lsh: bool = True,
    seed: int = 42,
    state: DataFrame | None = None,
    target_recall: float = 0.95,
    target_bucket_rows: int = 16,
) -> DataFrame:
    """Pairs (id_a < id_b) with cosine ≥ threshold.

    Multi-table LSH candidate pairs by default (scale path —
    near-identical vectors collide in at least one table w.h.p.);
    ``use_lsh=False`` gives the exact all-pairs GEMM path for small
    tables / oracle checks.

    When ``num_planes``/``num_tables`` are omitted they are derived via
    :func:`derive_lsh_params` — plane count from the corpus size (one
    count() scan) for constant bucket occupancy, table count from
    ``target_recall`` at this threshold. Pass ``state=`` (a banded table
    from :func:`embedding_lsh_state`, same parameters) to reuse a stored
    index instead of recomputing the signature pass.
    """
    base = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
    if use_lsh:
        # persisted (scope-managed, functions/cache.py): the projected
        # corpus feeds the derivation count, the signature pass, and
        # BOTH vector re-attach sides of the verify — an expensive
        # upstream plan (union/transform/join) would otherwise
        # recompute once per consumer
        base = operator_persist(base)
        if num_planes is None or num_tables is None:
            k, L = derive_lsh_params(base.count(), threshold,
                                     target_recall, target_bucket_rows)
            num_planes = num_planes if num_planes is not None else k
            num_tables = num_tables if num_tables is not None else L
        # persisted: both pair sides read the banded table, and the
        # hyperplane UDF would otherwise run once per side
        banded = operator_persist(
            state if state is not None else embedding_lsh_state(
                base, id_col, "__v", dim, num_planes, num_tables, seed))
        cand = _bucket_pairs(banded, id_col, ["tbl", "bkt"]).distinct()
        # exact verify: norms precomputed ONCE per vector (4000 rows),
        # not once per candidate side — the per-pair expression is a
        # single dot aggregate instead of three
        nv = base.select(
            F.col(id_col), F.col("__v"), l2_norm(F.col("__v")).alias("__n"))
        return (
            _attach_sides(cand, nv, id_col)
            .withColumn("cosine", _pair_cosine())
            .where(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )
    # exact path: block × full-matrix GEMM. The full normalized matrix is
    # broadcast (N×dim doubles — the small-table / oracle-verify path; at
    # 100 TB use the LSH path above); each partition multiplies its block
    # against it and emits only pairs over threshold with id_a < id_b, so
    # nothing quadratic is ever shuffled.
    import pandas as pd

    all_ids, Mn = _normalized_matrix(base.collect())
    order = np.argsort(all_ids)
    all_ids, Mn = all_ids[order], Mn[order]
    bfull = df.sparkSession.sparkContext.broadcast((all_ids, Mn))
    out_schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ])

    def block_pairs(batches):
        ids_f, M = bfull.value
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(C, axis=1, keepdims=True)
            S = (C / np.maximum(norms, 1e-300)) @ M.T  # block × N
            ids_b = pdf[id_col].to_numpy()
            mask = (S >= threshold) & (ids_b[:, None] < ids_f[None, :])
            bi, fj = np.nonzero(mask)
            yield pd.DataFrame({
                "id_a": ids_b[bi], "id_b": ids_f[fj], "cosine": S[bi, fj],
            })

    return base.mapInPandas(block_pairs, out_schema)


def embedding_near_dup_incremental(
    new_vecs: DataFrame,
    corpus_state: DataFrame,
    corpus_vecs: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 8,
    num_tables: int = 8,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Near-dup dedup of a NEW vector batch against a corpus represented
    by its stored :func:`embedding_lsh_state` — the continuous-ingestion
    form of :func:`embedding_near_dup_pairs` (mirror of
    ``minhash_incremental``). Returns
    ``(novel_vecs, updated_state, updated_vecs)``.

    ``num_planes``/``num_tables`` must MATCH the parameters the corpus
    state was built with (plane sets are seed-deterministic) — they are
    explicit here rather than derived, because a derivation from the
    current batch size would silently diverge from the stored state.

    Scale shape: the batch's banded signatures equi-join the corpus
    state on ``(tbl, bkt)`` — the batch side is typically tiny, so AQE
    broadcasts it; candidates are verified with the exact JVM cosine
    against ``corpus_vecs`` (no false positives). Within-batch
    near-dups are removed first with the same constants.
    """
    # within-batch dedup: drop the higher id of each near-dup pair
    batch_pairs = embedding_near_dup_pairs(
        new_vecs, threshold, id_col, vec_col,
        num_planes=num_planes, num_tables=num_tables, dim=dim, seed=seed)
    batch = new_vecs.join(
        batch_pairs.select(F.col("id_b").alias(id_col)).distinct(),
        id_col, "left_anti")

    b_state = operator_persist(embedding_lsh_state(
        batch, id_col, vec_col, dim, num_planes, num_tables, seed))
    cand = (
        b_state.join(corpus_state.withColumnRenamed(id_col, "id_b"),
                     ["tbl", "bkt"])
        .select(F.col(id_col).alias("id_a"), "id_b").distinct()
    )

    def vecs(t):
        return t.select(F.col(id_col),
                        F.col(vec_col).cast("array<double>").alias("__v"))

    verified = (
        _attach_sides(cand, vecs(batch), id_col, vecs(corpus_vecs))
        .where(cosine(F.col("__v_a"), F.col("__v_b")) >= F.lit(threshold))
        .select(F.col("id_a").alias(id_col)).distinct()
    )
    novel = batch.join(verified, id_col, "left_anti")
    novel_state = embedding_lsh_state(
        novel, id_col, vec_col, dim, num_planes, num_tables, seed)
    return (novel,
            corpus_state.unionByName(novel_state),
            corpus_vecs.unionByName(novel.select(id_col, vec_col)))


def _kmeans_centroids(M: np.ndarray, n_centroids: int, iters: int = 10,
                      seed: int = 42) -> np.ndarray:
    """Seeded Lloyd iterations on (normalized) sample vectors — the coarse
    quantizer is driver-side numpy: centroid count is tiny and the sample
    bounded, while assignment (the data-sized step) is distributed."""
    rng = np.random.RandomState(seed)
    C = M[rng.choice(len(M), size=min(n_centroids, len(M)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(M @ C.T, axis=1)  # cosine on normalized rows
        for j in range(len(C)):
            members = M[assign == j]
            if len(members):
                c = members.mean(axis=0)
                norm = np.linalg.norm(c)
                if norm > 0:
                    C[j] = c / norm
    return C


def ann_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    sample: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    partitions the corpus into cells; each query probes its ``n_probe``
    nearest cells and ranks only those vectors exactly.

    Scale shape: train on a bounded sample (driver numpy), assign cells in
    one distributed GEMM pass, then the probe is a broadcast semi-join on
    cell id — candidate volume ≈ n_probe/n_centroids of the corpus. The
    canonical trade-off curve: recall rises with n_probe, cost linearly.
    """
    sampled = corpus.select(vec_col).limit(sample).collect()
    _, Ms = _normalized_matrix([(0, r[0]) for r in sampled])
    C = _kmeans_centroids(Ms, n_centroids, seed=seed)
    bc = corpus.sparkSession.sparkContext.broadcast(C)

    @F.pandas_udf(T.IntegerType())
    def cell_of(vs: pd.Series) -> pd.Series:
        cents = bc.value
        V = np.stack(vs.to_numpy()).astype(np.float64)
        V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        return pd.Series(np.argmax(V @ cents.T, axis=1).astype(np.int32),
                         index=vs.index)

    binned = corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__cv"),
        cell_of(F.col(vec_col).cast("array<double>")).alias("__cell"),
    )

    # driver-side probe lists (queries are small by contract)
    q_rows = queries.select(query_id_col, vec_col).collect()
    q_ids, Qn = _normalized_matrix(q_rows)
    probes = np.argsort(-(Qn @ C.T), axis=1)[:, :n_probe]
    probe_rows = [
        (int(qid), [float(x) for x in qv], int(cell))
        for qid, qv, row in zip(q_ids, Qn, probes) for cell in row
    ]
    q_df = F.broadcast(corpus.sparkSession.createDataFrame(
        probe_rows, f"{query_id_col} long, __qv array<double>, __cell int"))

    scored = (
        binned.join(q_df, "__cell")
        .where(F.col(id_col) != F.col(query_id_col))
        .dropDuplicates([query_id_col, id_col])
        .withColumn("cosine", cosine(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def ann_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    sample: int = 10_000,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Table-to-table ANN join: every LEFT vector gets its approximate
    top-``k`` cosine neighbors from RIGHT — the semantic join (cross-
    corpus near-dup detection, embedding-based record linkage) where
    NEITHER side fits on the driver, unlike :func:`ann_bruteforce` /
    :func:`ann_ivf` whose query side is broadcast.

    Scale shape (IVF join): a coarse quantizer trained on a bounded
    right-side sample (driver numpy, centroids broadcast) assigns each
    right row its home cell and each left row its ``n_probe`` nearest
    cells (both in distributed Arrow passes); the two sides then
    COGROUP on cell id — one shuffle each — and a per-cell numpy GEMM
    scores candidates block-wise (never a per-pair zip-cosine, see the
    150× lesson in the module docstring), keeping each left row's
    per-cell top-k. A final window keeps the global top-k out of the
    ≤ ``n_probe·k`` surviving candidates per left row. Candidate work
    is ≈ ``n_probe/n_centroids`` of the full cross product; hot cells
    are bounded by quantizer balance (raise ``n_centroids`` at scale).
    """
    spark = left.sparkSession
    sampled = right.select(vec_col).limit(sample).collect()
    _, Ms = _normalized_matrix([(0, r[0]) for r in sampled])
    C = _kmeans_centroids(Ms, n_centroids, seed=seed)
    bc = spark.sparkContext.broadcast(C)

    @F.pandas_udf(T.IntegerType())
    def home_cell(vs: pd.Series) -> pd.Series:
        cents = bc.value
        V = np.stack(vs.to_numpy()).astype(np.float64)
        V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        return pd.Series(np.argmax(V @ cents.T, axis=1).astype(np.int32),
                         index=vs.index)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(vs: pd.Series) -> pd.Series:
        cents = bc.value
        V = np.stack(vs.to_numpy()).astype(np.float64)
        V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        order = np.argsort(-(V @ cents.T), axis=1, kind="stable")
        return pd.Series(
            [row.astype("int32").tolist() for row in order[:, :n_probe]],
            index=vs.index)

    vd = F.col(vec_col).cast("array<double>")
    l = left.select(F.col(left_id).alias("left_id"), vd.alias("__lv"),
                    F.explode(probe_cells(vd)).alias("__cell"))
    r = right.select(F.col(right_id).alias("right_id"), vd.alias("__rv"),
                     home_cell(vd).alias("__cell"))

    def cell_gemm(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame(
                {"left_id": pd.Series(dtype="int64"),
                 "right_id": pd.Series(dtype="int64"),
                 "cosine": pd.Series(dtype="float64")})
        L = np.stack(lpdf["__lv"].to_numpy()).astype(np.float64)
        R = np.stack(rpdf["__rv"].to_numpy()).astype(np.float64)
        L = L / np.maximum(np.linalg.norm(L, axis=1, keepdims=True), 1e-300)
        R = R / np.maximum(np.linalg.norm(R, axis=1, keepdims=True), 1e-300)
        S = L @ R.T
        rid = rpdf["right_id"].to_numpy()
        out_l, out_r, out_s = [], [], []
        kk = min(k, S.shape[1])
        for i in range(S.shape[0]):
            # deterministic per-cell top-k: score desc, then right id asc
            order = np.lexsort((rid, -S[i]))[:kk]
            out_l.extend([lpdf["left_id"].iloc[i]] * len(order))
            out_r.extend(rid[order])
            out_s.extend(S[i][order])
        return pd.DataFrame(
            {"left_id": out_l, "right_id": out_r, "cosine": out_s})

    cand = (
        l.groupBy("__cell").cogroup(r.groupBy("__cell"))
        .applyInPandas(cell_gemm,
                       "left_id long, right_id long, cosine double")
    )
    w = Window.partitionBy("left_id").orderBy(
        F.col("cosine").desc(), F.col("right_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("left_id", "right_id", "cosine", "rank")
    )


def semantic_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n_clusters: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int | None = None,
    seed: int = 42,
    target_cell_rows: int = 32,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: a seeded k-means coarse
    quantizer buckets the corpus into semantic cells; pairs are scored
    with the exact cosine ONLY within a cell, and (id_a < id_b) pairs at
    ``cosine >= threshold`` are returned.

    This is the learned-partition counterpart of
    :func:`embedding_near_dup_pairs` (random hyperplanes): cells follow
    the data distribution, so semantically-clustered duplicates
    co-locate even when random projections would scatter them. The
    standard SemDeDup caveat applies: a pair straddling a cell boundary
    is not reported (recall is bounded by the quantizer, not tunable
    per-pair like multi-table LSH).

    Scale shape: centroids train on a bounded driver-side sample (one
    numpy k-means; for corpora needing >1024 cells use hierarchical /
    minibatch training upstream); assignment is one broadcast-GEMM
    Arrow pass; candidates come from ONE shuffle on the cell id. With
    ``n_clusters`` derived (``N / target_cell_rows``, capped at 1024)
    expected cell occupancy stays constant, so candidate volume stays
    ~linear in N until the cap binds (N > 32k rows at the default
    target — the r12 sf1.0 probe measured the OLD 256 cap binding at
    20k vectors, exponent 1.25 from 78-row cells; the training sample
    grows with the derived k, 16 points per centroid minimum, so the
    bounded driver-side fit stays supported). Skew exposure: a
    genuinely giant semantic cluster does O(b²) work — that is the
    operator's defined output, not a plan artifact.
    """
    base = operator_persist(df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")))
    if n_clusters is None:
        import math
        n = base.count()
        n_clusters = max(4, min(1024, math.ceil(n / target_cell_rows)))

    if sample is None:
        # default: 10k, floor-adjusted so every derived centroid keeps
        # >=16 training points. An EXPLICIT sample is honored verbatim
        # (ADVICE r12: the silent 16*k floor could grow a caller's
        # requested driver-side collect to ~16k vectors at the 1024
        # cluster cap) — under-supported centroids are the caller's
        # stated trade-off.
        sample = max(10000, 16 * n_clusters)
    sampled = base.select("__v").limit(sample).collect()
    _, Ms = _normalized_matrix([(0, r[0]) for r in sampled])
    C = _kmeans_centroids(Ms, n_clusters, seed=seed)
    bc = df.sparkSession.sparkContext.broadcast(C)

    @F.pandas_udf(T.IntegerType())
    def cell_of(vs: pd.Series) -> pd.Series:
        cents = bc.value
        V = np.stack(vs.to_numpy()).astype(np.float64)
        V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        return pd.Series(np.argmax(V @ cents.T, axis=1).astype(np.int32),
                         index=vs.index)

    binned = operator_persist(base.select(
        F.col(id_col), F.col("__v"),
        l2_norm(F.col("__v")).alias("__n"),
        cell_of(F.col("__v")).alias("__cell")))
    # Its own cell join rather than _bucket_pairs + _attach_sides: the
    # vectors ride through the join, where attaching them to the pairs
    # afterwards adds broadcast joins (measured at sf0.01: four more
    # jobs for q65, four more build jobs for q66's cluster probe).
    l = binned.select(F.col("__cell"),
                      F.col(id_col).alias("id_a"),
                      F.col("__v").alias("__v_a"),
                      F.col("__n").alias("__n_a"))
    r = binned.select(F.col("__cell"),
                      F.col(id_col).alias("id_b"),
                      F.col("__v").alias("__v_b"),
                      F.col("__n").alias("__n_b"))
    return (
        l.join(r, "__cell")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", _pair_cosine())
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.9,
    n_clusters: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Drop the higher-id side of every semantic near-dup pair — the
    keep-one-representative form of :func:`semantic_dedup_pairs`
    (pair-wise, like ``minhash_dedup``; for transitive-closure cluster
    semantics feed the pairs to ``dedup.dedup_clusters``, a rename over
    ``graph.connected_components``)."""
    pairs = semantic_dedup_pairs(df, threshold, n_clusters, id_col,
                                 vec_col, sample, seed)
    return df.join(
        pairs.select(F.col("id_b").alias(id_col)).distinct(),
        id_col, "left_anti")


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed-vector ANN
# ---------------------------------------------------------------------------

def pq_train(corpus: DataFrame, m: int = 8, n_codes: int = 16,
             sample: int = 10000, vec_col: str = "embedding",
             seed: int = 42, iters: int = 10) -> np.ndarray:
    """Train a product quantizer: split the (L2-normalized) vector into
    ``m`` contiguous subspaces and run seeded Euclidean Lloyd k-means
    with ``n_codes`` centroids in each — returns codebooks of shape
    ``(m, n_codes, dim/m)``.

    This is the memory lever for 100 TB ANN: a 64-dim float32 vector
    (256 B) compresses to ``m`` 4-bit/8-bit codes (4–8 B), so the whole
    corpus index fits in executor memory and distance evaluation becomes
    ``m`` table lookups (ADC). Training is driver-side numpy on a
    bounded file-order sample — the :func:`ann_ivf` split: tiny model
    trains locally, the data-sized passes stay distributed.
    """
    d_rows = corpus.select(vec_col).limit(sample).collect()
    _, Mn = _normalized_matrix([(0, r[0]) for r in d_rows])
    return _pq_train_numpy(Mn, m, n_codes, seed, iters)


def _pq_train_numpy(Mn: np.ndarray, m: int, n_codes: int,
                    seed: int, iters: int = 10) -> np.ndarray:
    """Per-subspace seeded Lloyd on an already-normalized sample —
    shared with the DuckDB oracle builder so both engines quantize with
    literally the same codebooks."""
    dim = Mn.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, n_codes, dsub))
    for j in range(m):
        S = Mn[:, j * dsub:(j + 1) * dsub]
        C = S[rng.choice(len(S), size=min(n_codes, len(S)),
                         replace=False)].copy()
        for _ in range(iters):
            # Euclidean assignment (standard PQ — NOT the cosine
            # assignment the coarse quantizer uses)
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(len(C)):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j, :len(C)] = C
        if len(C) < n_codes:  # degenerate tiny sample: repeat last
            books[j, len(C):] = C[-1]
    return books


def pq_encode(df: DataFrame, codebooks: np.ndarray,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode every vector to its ``m`` nearest-subcentroid codes —
    ``(id, codes array<int>)``. One Arrow pass over the corpus, ties
    broken toward the lowest code (numpy argmin), vectors normalized
    exactly as :func:`pq_train` saw them."""
    m, n_codes, dsub = codebooks.shape
    bc = df.sparkSession.sparkContext.broadcast(codebooks)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def codes_of(vs: pd.Series) -> pd.Series:
        B = bc.value
        V = np.stack(vs.to_numpy()).astype(np.float64)
        V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True),
                           1e-300)
        out = np.empty((len(V), m), dtype=np.int32)
        for j in range(m):
            S = V[:, j * dsub:(j + 1) * dsub]
            d2 = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j] = np.argmin(d2, axis=1)
        return pd.Series(list(out))

    return df.select(
        F.col(id_col),
        codes_of(F.col(vec_col).cast("array<double>")).alias("codes"))


def pq_search(codes: DataFrame, codebooks: np.ndarray,
              queries: DataFrame, k: int = 10,
              id_col: str = "vec_id", vec_col: str = "embedding",
              query_id_col: str = "query_id") -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query builds
    an ``m × n_codes`` inner-product lookup table against the codebooks
    (driver-side — queries are small by contract, like
    :func:`ann_ivf`); scoring a corpus row is then ``m``
    ``element_at`` lookups summed — a pure JVM expression over the
    broadcast-joined LUT, no Python and no vector data in the scan.
    Returns ``(query_id, id, score, rank)`` where score approximates
    the cosine of L2-normalized vectors; the query never matches
    itself.
    """
    m, n_codes, dsub = codebooks.shape
    q_rows = queries.select(query_id_col, vec_col).collect()
    q_ids, Qn = _normalized_matrix(q_rows)
    flat = codebooks.reshape(m, n_codes, dsub)
    lut_rows = []
    for qid, qv in zip(q_ids, Qn):
        lut = [float(np.dot(qv[j * dsub:(j + 1) * dsub], flat[j][c]))
               for j in range(m) for c in range(n_codes)]
        lut_rows.append((int(qid), lut))
    spark = codes.sparkSession
    q_df = F.broadcast(spark.createDataFrame(
        lut_rows, f"{query_id_col} long, __lut array<double>"))

    idx = F.sequence(F.lit(0), F.lit(m - 1))
    score = F.aggregate(
        F.zip_with(F.col("codes"), idx,
                   lambda c, i: F.element_at(
                       F.col("__lut"), i * n_codes + c + 1)),
        F.lit(0.0), lambda acc, x: acc + x)
    scored = (codes.crossJoin(q_df)
              .where(F.col(id_col) != F.col(query_id_col))
              .withColumn("score", score))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(query_id_col, id_col, "score", "rank"))


# ---------------------------------------------------------------------------
# PCA projection (sample-trained components, distributed JVM projection)
# ---------------------------------------------------------------------------

def pca_train_numpy(M: np.ndarray, k: int) -> tuple:
    """Deterministic PCA trainer shared by the Spark path and the
    DuckDB oracle builder: covariance eigendecomposition of a sample
    matrix, top-``k`` components sign-fixed (the largest-|loading|
    entry of each component is made positive — eigenvectors are only
    defined up to sign, and the fix makes retraining reproducible).
    Returns ``(mean (d,), components (k, d), explained_variance (k,))``.
    """
    mu = M.mean(axis=0)
    X = M - mu
    cov = (X.T @ X) / max(len(M) - 1, 1)
    vals, vecs = np.linalg.eigh(cov)          # ascending eigenvalues
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T                   # (k, d)
    for j in range(comps.shape[0]):
        i = int(np.argmax(np.abs(comps[j])))
        if comps[j, i] < 0:
            comps[j] = -comps[j]
    return mu, comps, vals[order]


def pca_project(df: DataFrame, k: int = 4, vec_col: str = "embedding",
                id_col: str = "vec_id",
                sample_rows: int = 10_000) -> DataFrame:
    """Principal-component projection of an embedding column:
    ``(id, pc1 … pck)``.

    Same trainer/scale split as the IVF and PQ families (`ivf_build`,
    `pq_train`): the components come from a BOUNDED, deterministic
    sample (first ``sample_rows`` by ``id_col`` — a TakeOrdered, never
    a global sort materialization; driver holds sample_rows × d
    doubles), and the 100 TB-scale part — projecting every row — is
    pure JVM arithmetic: ``pc_j = Σ_i v_i·w_ji − μ·w_j`` with the
    component vectors as literal arrays (``zip_with`` + ``aggregate``
    fold, ascending index order — the same order DuckDB's
    ``list_inner_product`` sums, so an oracle can replicate the exact
    doubles). No Python in the projection path, no shuffle at all —
    the projection rides the scan.
    """
    sample = (df.select(id_col, vec_col).orderBy(id_col)
                .limit(int(sample_rows)).collect())
    if not sample:
        raise ValueError("pca_project needs a non-empty input")
    M = np.array([r[1] for r in sample], dtype=np.float64)
    mu, comps, _ = pca_train_numpy(M, k)
    cols = []
    for j in range(comps.shape[0]):
        w = F.array(*[F.lit(float(x)) for x in comps[j]])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col).cast("array<double>"), w,
                       lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x)
        offset = float(np.dot(mu, comps[j]))
        cols.append((dot - F.lit(offset)).alias(f"pc{j + 1}"))
    return df.select(F.col(id_col).alias("id"), *cols)


def embedding_audit(df: DataFrame, vec_col: str = "embedding",
                    expected_dim: int | None = None,
                    norm_lo: float = 0.0,
                    norm_hi: float = float("inf")) -> DataFrame:
    """Embedding-column hygiene report: ``(check, violations)`` rows —
    the vector-modality companion to the relational integrity audit
    (`functions/audit.py`). Checks: ``null_vector``, ``dim_mismatch``
    (when ``expected_dim`` given), ``nan_component``, ``zero_vector``,
    ``norm_below`` / ``norm_above`` the given L2 bounds. Every broken
    vector here is a poisoned ANN/dedup/PCA input downstream — this is
    the gate a pipeline runs before any of them.

    ONE aggregation pass: each check is a conditional sum over the same
    scan (row-local ``exists`` / ``aggregate`` lambdas, no explode —
    a 100 TB embedding table is audited at scan speed), unpivoted with
    ``stack`` like ``profile_exact``.
    """
    v = F.col(vec_col)
    norm_sq = F.aggregate(v, F.lit(0.0),
                          lambda acc, x: acc + x.cast("double") ** 2)
    # a NULL element poisons both exists(isnan) and the norm fold to
    # NULL (三-valued logic), which would count the vector in NO
    # violation row — test for it first and gate every later check on
    # its absence so e.g. [1.0, NULL] lands in exactly one bucket
    has_null = F.exists(v, lambda x: x.isNull())
    clean = v.isNotNull() & ~has_null
    has_nan = F.exists(v, lambda x: F.isnan(x.cast("double")))
    checks = [
        ("null_vector", v.isNull()),
        ("null_component", v.isNotNull() & has_null),
        ("nan_component", clean & has_nan),
        ("zero_vector", clean & ~has_nan & (norm_sq == 0.0)),
        ("norm_below", clean & ~has_nan & (norm_sq > 0.0)
         & (F.sqrt(norm_sq) < float(norm_lo))),
        ("norm_above", clean & ~has_nan
         & (F.sqrt(norm_sq) > float(norm_hi))),
    ]
    if expected_dim is not None:
        checks.insert(1, ("dim_mismatch",
                          v.isNotNull()
                          & (F.size(v) != int(expected_dim))))
    aggs = [F.sum(F.when(cond, 1).otherwise(0)).alias(f"__c{i}")
            for i, (_, cond) in enumerate(checks)]
    row = df.agg(*aggs)
    parts = []
    for i, (name, _) in enumerate(checks):
        parts += [F.lit(name), F.col(f"__c{i}")]
    return (row.select(F.stack(F.lit(len(checks)), *parts))
               .toDF("check", "violations"))


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchor_id_col: str = "anchor_id",
) -> DataFrame:
    """Exact hard-negative mining for contrastive training: for each
    anchor, the top-``k`` most-cosine-similar corpus vectors whose
    ``label_col`` DIFFERS from the anchor's — the nearest wrong-class
    examples, which are the negatives that carry gradient signal.
    Returns ``(anchor_id, vec_id, cosine, rank)``.

    Same block-GEMM shape as :func:`ann_bruteforce` (anchors broadcast,
    one corpus scan, per-partition local top-k, shuffle ≤ partitions ×
    anchors × k): the label constraint is applied INSIDE the kernel by
    masking same-label score columns to −inf before ``argpartition`` —
    exact semantics (never an over-fetch + post-filter, which can
    under-deliver when a label dominates a neighborhood). Scale path
    for >~10⁵ anchors: per-label LSH/IVF routing (``ann_lsh`` /
    ``ann_ivf``) with the same masked re-rank. Deterministic
    tie-break: (cosine desc, id asc).
    """
    import pandas as pd

    rows = anchors.select(anchor_id_col, vec_col, label_col).collect()
    if not rows:
        raise ValueError("anchors must be non-empty")
    a_ids, Qn = _normalized_matrix(
        [(r[anchor_id_col], r[vec_col]) for r in rows])
    a_labels = np.array([r[label_col] for r in rows])
    spark = corpus.sparkSession
    bq = spark.sparkContext.broadcast((a_ids, Qn, a_labels))
    out_schema = T.StructType([
        T.StructField(anchor_id_col, T.LongType()),
        T.StructField(id_col, T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ])

    def local_topk(batches):
        ids_q, Q, labs_q = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(C, axis=1, keepdims=True)
            S = (C / np.maximum(norms, 1e-300)) @ Q.T  # block × anchors
            labs_c = pdf[label_col].to_numpy()
            S[labs_c[:, None] == labs_q[None, :]] = -np.inf
            ids_c = pdf[id_col].to_numpy()
            kk = min(k, S.shape[0])
            top = np.argpartition(-S, kk - 1, axis=0)[:kk]
            n_q = S.shape[1]
            flat = top.T.ravel()
            cos = S[flat, np.repeat(np.arange(n_q), kk)]
            keep = np.isfinite(cos)
            yield pd.DataFrame({
                anchor_id_col: np.repeat(ids_q, kk)[keep],
                id_col: ids_c[flat][keep],
                "cosine": cos[keep],
            })

    cand = corpus.select(id_col, label_col,
                         F.col(vec_col).cast("array<double>")
                         .alias(vec_col)).mapInPandas(local_topk,
                                                      out_schema)
    w = Window.partitionBy(anchor_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc())
    return (cand.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select(anchor_id_col, id_col, "cosine", "rank"))


def mmr_rerank(candidates: DataFrame, k: int = 10, lam: float = 0.7,
               query_col: str = "query_id", id_col: str = "vec_id",
               rel_col: str = "cosine", vec_col: str = "embedding"
               ) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98) of a BOUNDED per-query candidate pool: greedily pick
    ``k`` documents maximizing
    ``lam * rel(d) - (1 - lam) * max_{s in S} cos(d, s)`` — the
    diversity-aware final stage of a retrieval pipeline (ANN/BM25
    produce the pool; MMR stops near-duplicate candidates from
    filling the result page). Returns
    ``(query_col, id_col, mmr_rank, mmr_score)``.

    Scale shape: the pool per query is bounded by the upstream top-N
    contract (tens of rows), so the O(k * N) greedy loop runs inside
    ``applyInPandas`` per query group — queries parallelize across
    the cluster, one shuffle on the query key, nothing global. The
    pairwise similarity matrix is one numpy GEMM over the
    (pool x dim) block.

    Determinism: candidates are processed in (rel desc, id asc)
    order and score ties break toward the smaller id, so the
    selection is reproducible; the first pick is the plain relevance
    argmax (empty selected set contributes zero diversity penalty).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if not (0.0 <= lam <= 1.0):
        raise ValueError("lam must be in [0, 1]")
    import pandas as pd

    # id/query columns keep their INPUT types (string ids, int32
    # keys, ...) — pinning LongType here broke any non-bigint id at
    # runtime despite the generic-column contract (r8 advice)
    in_fields = {f.name: f.dataType for f in candidates.schema.fields}
    out_schema = T.StructType([
        T.StructField(query_col, in_fields[query_col]),
        T.StructField(id_col, in_fields[id_col]),
        T.StructField("mmr_rank", T.IntegerType()),
        T.StructField("mmr_score", T.DoubleType()),
    ])
    lam_f = float(lam)

    def select_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([rel_col, id_col],
                              ascending=[False, True])
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        V = V / np.maximum(
            np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        S = V @ V.T
        rel = pdf[rel_col].to_numpy().astype(np.float64)
        ids = pdf[id_col].to_numpy()
        qid = pdf[query_col].iloc[0]
        selected: list[int] = []
        remaining = list(range(len(ids)))
        out = []
        while remaining and len(selected) < k:
            best, best_score = None, None
            for i in remaining:
                div = max((S[i, j] for j in selected), default=0.0)
                sc = lam_f * rel[i] - (1.0 - lam_f) * div
                if (best is None or sc > best_score
                        or (sc == best_score and ids[i] < ids[best])):
                    best, best_score = i, sc
            selected.append(best)
            remaining.remove(best)
            out.append((qid, ids[best], len(selected),
                        float(best_score)))
        return pd.DataFrame(
            out, columns=[query_col, id_col, "mmr_rank", "mmr_score"])

    return (candidates.groupBy(query_col)
            .applyInPandas(select_group, out_schema))


def cross_encoder_rerank(candidates: DataFrame, scorer,
                         feature_cols, k: int = 10,
                         query_col: str = "query_id",
                         id_col: str = "vec_id",
                         score_col: str = "ce_score") -> DataFrame:
    """Second-stage re-ranking hook — the retrieve-then-rerank shape
    (bi-encoder/BM25 produces a bounded candidate pool per query; an
    expensive pairwise model re-scores only that pool). ``scorer`` is
    ``Callable[[pd.DataFrame], 1-D array-like]`` and runs inside
    ``mapInPandas`` over Arrow batches of the ``feature_cols``
    columns — exactly the batch shape a real cross-encoder forward
    pass wants (this container has no model runtimes, so entries plug
    in deterministic arithmetic scorers; the plumbing — schema,
    batching, rank window — is the real, tested part). Returns
    ``(query_col, id_col, score_col, ce_rank)`` with ``ce_rank`` the
    per-query (score desc, id asc) dense position, cut at ``k``.

    Scale shape: scoring is embarrassingly row-parallel (one Python
    stage over the already-bounded pool — no shuffle); the only
    shuffle is the per-query rank window, whose partitions are pools
    of ≤ pool-size rows. Query/id output types follow the input
    schema (no pinned types).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    feature_cols = list(feature_cols)
    missing = [c for c in feature_cols + [query_col, id_col]
               if c not in candidates.columns]
    if missing:
        raise ValueError(f"columns not in candidates: {missing}")
    in_fields = {f.name: f.dataType for f in candidates.schema.fields}
    out_schema = T.StructType([
        T.StructField(query_col, in_fields[query_col]),
        T.StructField(id_col, in_fields[id_col]),
        T.StructField(score_col, T.DoubleType()),
    ])

    def score_batches(it):
        for pdf in it:
            s = np.asarray(scorer(pdf[feature_cols]),
                           dtype=np.float64)
            if s.shape != (len(pdf),):
                raise ValueError(
                    "scorer must return one score per row, got "
                    f"shape {s.shape} for {len(pdf)} rows")
            yield pd.DataFrame({
                query_col: pdf[query_col],
                id_col: pdf[id_col],
                score_col: s,
            })

    scored = candidates.select(
        query_col, id_col, *feature_cols).mapInPandas(
        score_batches, out_schema)
    w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc())
    return (scored.withColumn("ce_rank", F.row_number().over(w))
                  .where(F.col("ce_rank") <= k))
